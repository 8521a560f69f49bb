"""SparkSession factory tuned for the inverted-index workload.

Local-mode testing stands in for a multi-executor cluster; every knob
here is chosen so the same code path scales: AQE on, Arrow transfers
on, shuffle partitions sized to cores (overridable per job at real
scale), UTC timezone pinned so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# app ids already warmed this process — prewarm is once per session, not
# once per get_spark() call
_PREWARMED: set[str] = set()


def _prewarm(spark: SparkSession) -> None:
    """One-time session warm-up on synthetic rows (``spark.range``):
    spawn one Python worker per core through the Arrow path, pull the
    shuffle machinery (serializer + zstd codec JNI load) through one
    tiny exchange, and initialize the parquet committer/output codec
    with a one-row write to a temp dir that is deleted immediately.

    This moves PROCESS-startup cost (worker spawn, native codec load,
    committer init) out of whatever query happens to run first — the
    same reason a latency-sensitive service warms its pools at boot.
    It reads no user data and caches no results; disable with
    BRIGHT_SPARK_PREWARM=0."""
    try:
        sc = spark.sparkContext
        n = max(2, sc.defaultParallelism)
        df = spark.range(n, numPartitions=n)

        def _identity(batches):
            for b in batches:
                yield b

        sc.setJobDescription("session prewarm")
        df.mapInArrow(_identity, "id long").write.format("noop") \
            .mode("overwrite").save()
        df.repartition(2).write.format("noop").mode("overwrite").save()
        d = tempfile.mkdtemp(prefix="bright_spark_prewarm_")
        try:
            spark.range(1).coalesce(1).write.mode("overwrite").parquet(d)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception:
        # the warm-up only moves start-up cost; a session that cannot run
        # it still serves, but the failure must be visible
        logger.warning("session prewarm failed", exc_info=True)
    finally:
        try:
            spark.sparkContext.setJobDescription(None)
        except Exception:
            logger.warning("session prewarm: job description not reset",
                           exc_info=True)


def get_spark(
    app_name: str = "bright_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master=None`` respects a spark-submit-provided master (cluster
    deployments MUST win over the local default); only when no master
    is configured anywhere does it fall back to
    ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    if master is None:
        submit_decided = any(
            os.environ.get(v) for v in
            ("SPARK_MASTER", "MASTER", "PYSPARK_SUBMIT_ARGS"))
        if not submit_decided:
            from pyspark import SparkConf
            submit_decided = SparkConf().contains("spark.master")
        if not submit_decided:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND
        # isnotnull(arr)` under every non-outer explode; predicate
        # pushdown then inlines the FULL array-building expression
        # (tokenize + shingle transform) into a scan-side Filter,
        # re-evaluating it 2-3x per row before the real projection runs
        # once more (measured 5x wall on the decontamination flow). Our
        # generate inputs are never empty by construction, so the
        # inferred filter only costs; excluding the rule cannot change
        # results (it is an optimizer-only rewrite).
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.driver.memory", os.environ.get("BRIGHT_SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId
    if (os.environ.get("BRIGHT_SPARK_PREWARM", "1") != "0"
            and app_id not in _PREWARMED):
        _PREWARMED.add(app_id)
        _prewarm(spark)
    return spark
