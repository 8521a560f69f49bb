"""spark-submit entrypoint: build an inverted index from a parquet
source table (north rule: the pipeline runs via spark-submit
--py-files at cluster scale).

    spark-submit --py-files bright_spark.zip jobs/build_index.py \
        --source /data/repos --index-dir /data/idx --partitions 2048

Prints one JSON line with build timing/throughput (the scaling bench
consumes it) and the execution the build took: ``mode`` is ``driver``
for a source below ``catalog.LOCAL_BUILD_MAX_BYTES``, else ``spark``
(``--resumable`` always builds on Spark).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="source parquet path")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--tokenizer", default="code", choices=["code", "simple"])
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--id-col", default=None,
                    help="numeric PK column; 'auto' detects the single "
                         "column ending in 'id' (reference U5 semantics)")
    ap.add_argument("--key-cols", default="repo,path,commit")
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--attr-cols", default="")
    ap.add_argument("--text-cols", default="",
                    help="extra analyzed text fields, each indexed into "
                         "its own postings namespace (Q5 field-scoped "
                         "search, e.g. --text-cols path)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--range-bits", type=int, default=None,
                    help="doc-range width (2**bits); default auto-sizes to the corpus")
    ap.add_argument("--buckets", type=int, default=None,
                    help="postings term-hash buckets; default auto-sizes "
                         "to the build partition count")
    ap.add_argument("--store-positions", action="store_true",
                    help="store per-emission positions (phrase queries "
                         "answered from the index alone)")
    ap.add_argument("--no-store-content", action="store_true",
                    help="omit raw content from the docs table")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "jsoneachrow", "msgpack"])
    ap.add_argument("--resumable", action="store_true")
    ap.add_argument("--n-shards", type=int, default=16)
    ap.add_argument("--master", default=None)
    ap.add_argument("--task-cpus", type=int, default=1,
                    help="spark.task.cpus: cores claimed per task; with "
                         "local[C] this caps concurrent tasks at C/task_cpus "
                         "(the N vs 4N slot experiment on one machine)")
    ap.add_argument("--trials", type=int, default=1,
                    help="repeat the build, report the best (noisy hosts)")
    args = ap.parse_args()

    from bright_spark.models import IndexConfig
    from bright_spark.session import get_spark

    spark = get_spark("build_index", master=args.master,
                      shuffle_partitions=args.partitions,
                      extra_conf={"spark.task.cpus": str(args.task_cpus)})
    from bright_spark.sources import read_documents
    src = read_documents(spark, args.source, args.format)

    # warm the python workers once (on a real cluster, a long-lived
    # app amortizes worker startup; exclude it from throughput)
    n_part = args.partitions or spark.sparkContext.defaultParallelism

    def _ident(it):
        yield from it
    spark.range(0, n_part, numPartitions=n_part).mapInPandas(_ident, "id long").count()

    cfg = IndexConfig(id=os.path.basename(args.index_dir.rstrip("/")),
                      tokenizer=args.tokenizer, range_bits=args.range_bits,
                      n_term_buckets=args.buckets,
                      store_positions=args.store_positions,
                      store_content=not args.no_store_content)
    id_col = args.id_col
    key_cols = tuple(c for c in args.key_cols.split(",") if c)
    if id_col == "auto":
        from bright_spark.index.builder import detect_primary_key
        pk = detect_primary_key(src)
        dtype = dict(src.dtypes)[pk]
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            id_col = pk  # numeric PK -> doc_id directly
        else:
            # non-numeric PK (the reference stringifies any PK value,
            # store/store.go:409-414): keep it as the natural key and
            # assign deterministic dense BIGINT doc_ids over it
            id_col = None
            key_cols = (pk,)
    kwargs = dict(
        content_col=args.content_col,
        key_cols=key_cols,
        id_col=id_col,
        lang_col=args.lang_col or None,
        attr_cols=tuple(c for c in args.attr_cols.split(",") if c),
        text_cols=tuple(c for c in args.text_cols.split(",") if c),
        n_build_partitions=args.partitions,
    )

    best = None
    for trial in range(max(1, args.trials)):
        idx_dir = args.index_dir if trial == 0 else f"{args.index_dir}_t{trial}"
        t0 = time.time()
        if args.resumable:
            from bright_spark.index.checkpoints import ResumableIndexBuilder
            ResumableIndexBuilder(spark, cfg, idx_dir,
                                  n_shards=args.n_shards, **kwargs).build(src)
        else:
            from bright_spark.index.builder import build_index
            build_index(spark, src, idx_dir, cfg, **kwargs)
        sec = time.time() - t0
        best = sec if best is None else min(best, sec)
        if trial > 0:
            import shutil
            shutil.rmtree(idx_dir, ignore_errors=True)

    from bright_spark.index.catalog import IndexCatalog
    manifest = IndexCatalog(args.index_dir).manifest()
    n_docs = manifest["meta"]["n_docs"]

    print(json.dumps({
        "n_docs": n_docs,
        # "driver" or "spark" (see bright_spark.index.builder)
        "mode": manifest["metrics"].get("mode", "spark"),
        "build_sec": round(best, 3),
        "docs_per_sec": round(n_docs / best, 2),
        "master": spark.sparkContext.master,
        "partitions": args.partitions,
        "trials": args.trials,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
