"""Resumable builds with per-shard checkpoint + lineage metrics (B6).

Mirrors the reference's crash-resumable sync state: bright persists a
low-watermark row per source in ``__bright_synchronization``
(ingresses/postgres/schema.go:22-60, ingress.go:502-552) and skips
completed work on restart. Here the unit of resumability is a build
*shard* (a deterministic slice of the doc space); each shard commits a
checkpoint record with lineage metrics after its segment parquet is
durably written, and a re-run skips committed shards.

Checkpoint records are single JSON files committed by atomic rename
(the driver-side analog of an Iceberg snapshot commit); a
``checkpoints_df`` view exposes them as a queryable lineage table.

Equivalence contract (tested in tests/test_resume.py): an interrupted
build re-run to completion produces per-term postings byte-identical
to an uninterrupted build.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.index.builder import (
    PARTIALS_SCHEMA,
    IndexBuilder,
    _make_merge_fn,
    _make_tokenize_partials_fn,
    stage_postings_write,
)
from bright_spark.index.catalog import POSTINGS_KERNEL_SCHEMA, IndexCatalog
from bright_spark.models import IndexConfig


class CheckpointStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _file(self, key: str) -> str:
        return os.path.join(self.path, f"{key}.json")

    def get(self, key: str) -> dict | None:
        f = self._file(key)
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            return json.load(fh)

    def put(self, key: str, payload: dict) -> None:
        tmp = self._file(key) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"key": key, **payload}, fh)
        os.replace(tmp, self._file(key))  # atomic commit

    def delete(self, key: str) -> None:
        f = self._file(key)
        if os.path.exists(f):
            os.remove(f)

    def all(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.endswith(".json"):
                with open(os.path.join(self.path, name)) as fh:
                    out.append(json.load(fh))
        return out

    def as_df(self, spark: SparkSession) -> DataFrame:
        rows = self.all()
        if not rows:
            return spark.createDataFrame(
                [], "key STRING, status STRING, attempt INT, wall_ms BIGINT")
        return spark.createDataFrame([json.dumps(r) for r in rows], "string") \
            .select(F.from_json("value", self._schema(rows)).alias("r")).select("r.*")

    @staticmethod
    def _schema(rows: list[dict]) -> str:
        keys = sorted({k for r in rows for k in r})
        types = {"attempt": "INT", "rows_in": "BIGINT", "terms_out": "BIGINT",
                 "tokens": "BIGINT", "wall_ms": "BIGINT", "n_shards": "INT"}
        return ", ".join(f"{k} {types.get(k, 'STRING')}" for k in keys)


class ResumableIndexBuilder:
    """Shard-parallel, checkpoint-resumable index build.

    Stages (each commits a checkpoint; re-run skips committed work):
      1. ``docs``       — doc_id assignment + tokenization (IndexBuilder)
      2. ``segment_i``  — per-shard partial posting lists -> parquet
                          segment dir (shard = doc_id % n_shards)
      3. ``merge``      — shuffle-merge all segments by (term, range_id)
                          -> postings/term_stats/meta

    ``fail_after_shard`` injects a crash for the resume test (F6).
    """

    def __init__(self, spark: SparkSession, config: IndexConfig, index_dir: str,
                 n_shards: int = 8, fail_after_shard: int | None = None,
                 **builder_kwargs):
        self.spark = spark
        self.config = config
        self.builder = IndexBuilder(spark, config, index_dir, **builder_kwargs)
        self.catalog = self.builder.catalog
        self.n_shards = n_shards
        self.fail_after_shard = fail_after_shard
        self.store = CheckpointStore(self.catalog.checkpoints_path)
        self.segments_dir = os.path.join(index_dir, "segments")

    def _seg_path(self, shard: int) -> str:
        return os.path.join(self.segments_dir, f"seg_{shard:05d}")

    def build(self, source: DataFrame) -> IndexCatalog:
        # completed build (merge committed its snapshot): no-op re-run
        ck = self.store.get("merge")
        if (ck and ck.get("status") == "done"
                and self.catalog.current_snapshot_id() == ck.get("snapshot_id")):
            return self.catalog
        # deterministic resolution: a resumed run recounts the same
        # source and lands on the same range_bits
        self.builder.resolve_range_bits(source)
        self.config = self.builder.config

        # interrupted-build resume: CURRENT was never advanced, so
        # begin() re-derives the SAME pending snapshot id — stage
        # version dirs land where the interrupted run left them. A
        # checkpoint only skips a stage if its recorded dir still
        # matches this pending snapshot (an unrelated commit in between
        # changes the id and forces a clean rebuild of the stage).
        pending = self.catalog.begin()

        # ---- stage 1: docs (per-doc-range group dirs, layout v4). On
        # resume the interrupted run's group dirs are re-adopted from
        # disk (they were written but never committed); a checkpoint
        # only skips the stage if it recorded THIS pending snapshot id
        # and those dirs are actually present.
        ck = self.store.get("docs")
        done = bool(ck and ck.get("status") == "done"
                    and ck.get("snapshot_id") == pending.snapshot_id)
        if done:
            groups = pending.adopt_parts_from_disk("docs")
            done = bool(groups) or ck.get("rows_in") == 0
        if not done:
            t0 = time.time()
            self.builder.build_docs(source, pending)
            ddirs = pending.docs_dirs()
            n = self.spark.read.parquet(*ddirs).count() if ddirs else 0
            self.store.put("docs", {
                "status": "done", "attempt": (ck or {}).get("attempt", 0) + 1,
                "rows_in": n, "snapshot_id": pending.snapshot_id,
                "wall_ms": int((time.time() - t0) * 1000)})

        # ---- stage 2: per-shard segments (fused tokenize+partials over
        # the stored docs slice; doc_ids are already assigned)
        if not self.config.store_content:
            raise ValueError(
                "resumable shard builds re-tokenize from stored content; "
                "store_content=False is not supported")
        b = self.builder
        cols = ["doc_id"] + b.field_cols + ([b.lang_col] if b.lang_col else [])
        docs = self.spark.read.parquet(*pending.docs_dirs()).select(*cols)
        for shard in range(self.n_shards):
            key = f"segment_{shard:05d}"
            ck = self.store.get(key)
            if ck and ck.get("status") == "done":
                continue
            t0 = time.time()
            part = docs.filter(F.col("doc_id") % self.n_shards == shard)
            partials = part.mapInArrow(
                _make_tokenize_partials_fn(
                    b.field_cols, b.lang_col, self.config.tokenizer,
                    b.filter_stopwords, self.config.range_bits,
                    store_positions=self.config.store_positions),
                schema=PARTIALS_SCHEMA)
            partials.write.mode("overwrite").parquet(self._seg_path(shard))
            seg = self.spark.read.parquet(self._seg_path(shard))
            stats = seg.agg(
                F.count("*").alias("terms_out"),
                F.sum(F.size("doc_ids")).alias("rows_in")).collect()[0]
            self.store.put(key, {
                "status": "done", "attempt": (ck or {}).get("attempt", 0) + 1,
                "rows_in": int(stats["rows_in"] or 0),
                "terms_out": int(stats["terms_out"] or 0),
                "wall_ms": int((time.time() - t0) * 1000)})
            if self.fail_after_shard is not None and shard >= self.fail_after_shard:
                raise RuntimeError(f"injected failure after shard {shard}")

        # ---- stage 3: merge (postings + stats + ONE snapshot commit)
        t0 = time.time()
        ck = self.store.get("merge")
        partials = self.spark.read.parquet(
            *[self._seg_path(s) for s in range(self.n_shards)])
        n_merge = (self.builder.n_build_partitions
                   or self.spark.sparkContext.defaultParallelism)
        merged = (partials.repartition(n_merge, "term", "range_id")
                  .mapInArrow(_make_merge_fn(self.config.block_size,
                                             self.config.n_term_buckets,
                                             self.config.store_positions),
                              schema=POSTINGS_KERNEL_SCHEMA)
                  .withColumn("ver", F.lit(pending.snapshot_id)))
        pending.tables["postings"] = {}
        stage_postings_write(merged, pending, self.config.n_term_buckets,
                             self.config.files_per_bucket or 1)
        meta = self.builder.build_stats(pending)
        sid = pending.commit(meta, "build", metrics={
            "mode": "spark",
            "n_docs": meta["n_docs"], "n_shards": self.n_shards,
            "buckets_written": len(pending.tables["postings"])})
        self.store.put("merge", {
            "status": "done", "attempt": (ck or {}).get("attempt", 0) + 1,
            "n_shards": self.n_shards, "snapshot_id": sid,
            "wall_ms": int((time.time() - t0) * 1000)})
        return self.catalog
