"""Continuous source sync -> incremental index maintenance.

The reference's ingress subsystem polls Postgres on an interval,
applies inserted/updated rows and a trigger-fed delete feed to the
index, and persists a crash-resumable low-watermark
(ingresses/postgres/poller.go:67-274, schema.go:22-140,
ingress.go:502-552). The LISTEN/NOTIFY push path (S7) batches change
events into the same apply calls.

Spark-native equivalent: a Structured Streaming file source over the
changefeed directory; each micro-batch applies through
``IndexMutator`` (upsert + tombstone deletes) inside ``foreachBatch``;
the streaming checkpoint directory IS the low-watermark (exactly-once
per batch because the mutation rewrites are idempotent for a given
batch). ``availableNow`` gives catch-up-then-stop semantics — the
batch analog of one poll cycle; a processing-time trigger gives the
poll loop.

Delete feed: rows with ``_deleted = true`` (the analog of
``__bright_synchronization_deletes``) are applied as deletes of their
natural key / id; other columns may be null in tombstones.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.index.catalog import IndexCatalog
from bright_spark.index.mutations import IndexMutator

DELETED_COL = "_deleted"


class StreamingIngestor:
    def __init__(self, spark: SparkSession, index_dir: str,
                 checkpoint_dir: str | None = None,
                 vacuum_keep: int | None = 8):
        """``vacuum_keep``: a perpetual poll loop commits one snapshot
        per applied mutation, so the ingestor expires old snapshots
        after each batch, retaining the most recent ``vacuum_keep``
        (None disables — snapshots then accumulate until the operator
        vacuums explicitly). Readers pinned to an expired snapshot
        error on their next posting fetch — the Iceberg snapshot-expiry
        contract; size vacuum_keep to the poll interval x the longest
        query you expect to run concurrently."""
        self.spark = spark
        self.index_dir = index_dir
        self.catalog = IndexCatalog(index_dir)
        self.vacuum_keep = vacuum_keep
        self.checkpoint_dir = checkpoint_dir or os.path.join(
            index_dir, "stream_checkpoint")

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One micro-batch of the changefeed -> index mutations."""
        mut = IndexMutator(self.spark, self.index_dir)
        cols = batch.columns
        if DELETED_COL in cols:
            dels = batch.filter(F.col(DELETED_COL) == True)  # noqa: E712
            ups = batch.filter((F.col(DELETED_COL).isNull())
                               | (F.col(DELETED_COL) == False))  # noqa: E712
        else:
            dels, ups = None, batch
        ups = ups.drop(DELETED_COL)
        # pin the batch to disk before mutating: the mutation passes
        # read the batch several times AND rewrite the docs dir the
        # batch's doc_id join reads from — a parquet staging copy breaks
        # that lineage without collecting the batch to the driver
        staged = os.path.join(self.checkpoint_dir, f"_staged_batch_{batch_id}")
        ups.write.mode("overwrite").parquet(staged)
        try:
            ups_pinned = self.spark.read.parquet(staged)
            if ups_pinned.head(1):
                mut.upsert(ups_pinned)
        finally:
            import shutil
            shutil.rmtree(staged, ignore_errors=True)
        if dels is not None:
            # tombstone keys resolve to doc_ids via a semi-join and flow
            # into delete_where as a DataFrame — a CDC delete burst of
            # millions of rows never funnels through the driver as a
            # Python list (the _apply path checkpoints + counts it)
            extra = self.catalog.load_extra()
            if extra["id_col"]:
                ids_df = dels.select(
                    F.col(extra["id_col"]).cast("bigint").alias("doc_id"))
            else:
                keys = list(extra["key_cols"])
                docs = self.catalog.docs(self.spark)
                keyrows = dels.select(*keys).distinct()
                ids_df = (docs.join(keyrows, keys, "left_semi")
                          .select("doc_id"))
            mut.delete_where(ids_df)
        if self.vacuum_keep is not None:
            self.catalog.vacuum(keep_last=self.vacuum_keep)

    def run_available_now(self, source_dir: str, schema) -> None:
        """Catch-up sync: process every unseen file in ``source_dir``
        then stop (one reference poll cycle; resumable — the streaming
        checkpoint records consumed files)."""
        stream = (self.spark.readStream.schema(schema).parquet(source_dir))
        q = (stream.writeStream
             .foreachBatch(self.apply_batch)
             .option("checkpointLocation", self.checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    def start_continuous(self, source_dir: str, schema,
                         interval: str = "30 seconds"):
        """Poll-loop analog (default interval mirrors the reference's
        30s poll, ingresses/postgres/config.go:102-117). Returns the
        StreamingQuery; caller stops it."""
        stream = (self.spark.readStream.schema(schema).parquet(source_dir))
        return (stream.writeStream
                .foreachBatch(self.apply_batch)
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(processingTime=interval)
                .start())


class NotifyListener:
    """S7 push-transport analog — LISTEN/NOTIFY without Postgres.

    The reference's listen mode (ingresses/postgres/ingress.go:354-390)
    does a catch-up sync at startup, then applies changes the moment a
    NOTIFY arrives on its channel (listener.go:60-75; channel name from
    config.go:43) instead of waiting out a poll interval. Here the
    channel is a NOTIFY FILE separate from the data: producers append
    one line per event after landing their batch in the changefeed dir;
    the listener thread blocks on the channel (cheap stat, not a data-
    dir scan) and runs one checkpointed ``availableNow`` pass per
    signal — push-shaped latency with the exact same exactly-once
    batch apply as the poll path, and missed signals are harmless
    (each pass drains EVERYTHING unseen, mirroring the reference's
    catch-up-on-startup semantics)."""

    def __init__(self, ingestor: StreamingIngestor, notify_file: str,
                 source_dir: str, schema, check_interval: float = 0.2):
        import threading
        self.ingestor = ingestor
        self.notify_file = notify_file
        self.source_dir = source_dir
        self.schema = schema
        self.check_interval = check_interval
        self.syncs_run = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _channel_state(self) -> int:
        try:
            return os.stat(self.notify_file).st_size
        except FileNotFoundError:
            return -1

    def _loop(self) -> None:
        import time
        seen = self._channel_state()
        # catch-up sync before listening (ingress.go:372-376)
        self.ingestor.run_available_now(self.source_dir, self.schema)
        self.syncs_run += 1
        while not self._stop.is_set():
            cur = self._channel_state()
            if cur != seen:
                seen = cur
                self.ingestor.run_available_now(self.source_dir, self.schema)
                self.syncs_run += 1
            else:
                time.sleep(self.check_interval)

    def start(self) -> None:
        import threading
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self, timeout: float = 60.0) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=timeout)
