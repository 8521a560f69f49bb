"""spark-submit entrypoint: query a built index.

Single query:
    spark-submit ... jobs/query.py --index-dir /data/idx --q "parser AND config"

Latency benchmark over a query set (JSON lines {"q": ..., "k": ...}):
    ... jobs/query.py --index-dir /data/idx --bench queries.jsonl --reps 5
prints one JSON line with per-query latencies + p50/p95.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pctl(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    i = min(len(xs) - 1, max(0, int(round(p / 100 * (len(xs) - 1)))))
    return xs[i]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--q", default=None)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--bench", default=None, help="queries.jsonl path")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--master", default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--task-cpus", type=int, default=1)
    ap.add_argument("--snapshot", type=int, default=None,
                    help="time-travel: query this snapshot id instead "
                         "of the live one")
    ap.add_argument("--expansion-overflow", default="error",
                    choices=["error", "truncate"],
                    help="wildcard/fuzzy past the expansion cap: 'error' "
                         "raises (Bleve TooManyClauses parity), 'truncate' "
                         "answers over the first cap terms and flags it "
                         "(bench mode uses truncate for comparability)")
    args = ap.parse_args()

    from bright_spark.query.engine import SearchEngine
    from bright_spark.session import get_spark

    spark = get_spark("query", master=args.master,
                      shuffle_partitions=args.partitions,
                      extra_conf={"spark.task.cpus": str(args.task_cpus)})
    eng = SearchEngine(spark, args.index_dir, snapshot_id=args.snapshot,
                       on_overflow=args.expansion_overflow)

    if args.bench:
        with open(args.bench) as f:
            qs = [json.loads(line) for line in f if line.strip()]
        eng.search_df(qs[0]["q"] or "warm", k=5).collect()  # warm workers
        lat: dict[str, list[float]] = {}
        for spec in qs:
            times = []
            for _ in range(args.reps):
                t0 = time.time()
                eng.search_df(spec["q"], k=spec.get("k", 10)).collect()
                times.append(time.time() - t0)
            lat[spec["q"]] = times
        allts = [t for ts in lat.values() for t in ts]
        print(json.dumps({
            "queries": {q: round(min(ts), 4) for q, ts in lat.items()},
            "p50_sec": round(pctl(allts, 50), 4),
            "p95_sec": round(pctl(allts, 95), 4),
            "master": spark.sparkContext.master,
        }))
    else:
        t0 = time.time()
        rows = eng.search_df(args.q or "", k=args.k).collect()
        dt = time.time() - t0
        for r in rows:
            print(json.dumps({"doc_id": r["doc_id"], "score": r["score"]}))
        print(json.dumps({"latency_sec": round(dt, 4), "hits": len(rows)}))
    spark.stop()


if __name__ == "__main__":
    main()
