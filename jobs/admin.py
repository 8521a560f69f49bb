"""Index administration.

    python jobs/admin.py snapshots --index-dir /data/idx
    python jobs/admin.py vacuum    --index-dir /data/idx --keep-last 2
    python jobs/admin.py compact   --index-dir /data/idx [--master ...]

``snapshots`` prints one JSON line per retained manifest (id, parent,
operation, commit time, lineage metrics, corpus stats) — the ops view
of the snapshot log. Every commit's metrics carry ``files_written``,
the parquet files of its new version dirs (a small driver upsert
writes about 5), and a build's or compaction's ``mode`` (``driver``
or ``spark``). ``vacuum`` expires everything but the most recent
``--keep-last`` snapshots and reclaims unreferenced version dirs +
stale staging dirs, printing what it deleted. ``compact`` consolidates
append-mode delta chains + tombstones into single version dirs (the
scorch background merger as an explicit op; mutations auto-trigger it
past their chain threshold, so manual runs are optional). snapshots
and vacuum are driver-only. compact opens a Spark session, but a small
index (footer bytes under ``catalog.LOCAL_READ_MAX_BYTES``) compacts on
the driver without a Spark job; the commit's metrics name the path.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["snapshots", "vacuum", "compact"])
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--keep-last", type=int, default=2)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from bright_spark.index.catalog import IndexCatalog
    cat = IndexCatalog(args.index_dir)

    if args.cmd == "snapshots":
        live = cat.current_snapshot_id()
        for m in cat.snapshots():
            print(json.dumps({
                "snapshot_id": m["snapshot_id"],
                "parent_id": m.get("parent_id"),
                "operation": m.get("operation"),
                "committed_at": m.get("committed_at"),
                "live": m["snapshot_id"] == live,
                "metrics": m.get("metrics", {}),
                "n_docs": m.get("meta", {}).get("n_docs"),
            }))
        return

    if args.cmd == "compact":
        from bright_spark.index.mutations import IndexMutator
        from bright_spark.session import get_spark
        spark = get_spark("compact", master=args.master)
        before = cat.delta_depth("postings")
        IndexMutator(spark, args.index_dir).compact()
        m = cat.manifest()
        print(json.dumps({
            "snapshot_id": m["snapshot_id"],
            "operation": m["operation"],
            "chain_depth_before": before,
            "chain_depth_after": cat.delta_depth("postings"),
            "metrics": m.get("metrics", {})}))
        spark.stop()
        return

    deleted = cat.vacuum(keep_last=args.keep_last)
    print(json.dumps({"kept": [m["snapshot_id"] for m in cat.snapshots()],
                      "deleted_dirs": len(deleted)}))


if __name__ == "__main__":
    main()
