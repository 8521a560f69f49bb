"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Exits 1 when any answer failed its check, 2 when the
program under test is missing.

Everything the run writes stays under ``.bench_build/perfbench`` in
the checkout: a per-run work dir (removed at exit), the per-layer JSON
of traced runs (``traces/``), and the ``op_geomean_s`` of each correct
untraced run (``state/``), keyed by workload, seed and a hash of the
program and benchmark sources. A traced run divides its own
``op_geomean_s`` by the one stored under its own key to report
``trace.overhead_ratio``, so the ratio compares the same inputs on the
same code; it is 0 when that untraced run has not been made (run
``--trace 0`` and then ``--trace 1`` with the same seed).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Set before the JVM starts: Spark's Python workers inherit it, so
    ``bright_spark`` imports inside ``mapInPandas`` kernels, and every
    temp file lands in the work dir."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("BRIGHT_SPARK_DRIVER_MEM", "2g")
    # the checkout root, not this script's dir, leads the import path:
    # ``tests.oracle`` must resolve to the repository's tests/
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") not in (HERE, ROOT)]


def _source_hash() -> str:
    """sha256 over the paths and contents of every file of
    ``bright_spark/`` and ``perfbench/`` (bytecode caches excluded)."""
    paths = sorted(os.path.relpath(os.path.join(d, name), ROOT)
                   for top in ("bright_spark", "perfbench")
                   for d, _, files in os.walk(os.path.join(ROOT, top))
                   if "__pycache__" not in d.split(os.sep)
                   for name in files)
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode() + b"\0")
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _state_path(workload: str, seed: int) -> str:
    """Where the untraced ``op_geomean_s`` of this workload, seed and
    source tree is kept."""
    return os.path.join(OUT, "state",
                        f"{workload}-s{seed}-{_source_hash()}.json")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bright_spark", "__init__.py")):
        print("perfbench: bright_spark not found beside perfbench/; run "
              "from the root of a bright_spark checkout", file=sys.stderr)
        return 2
    state = _state_path(args.workload, args.seed)
    base_op = None
    if args.trace and os.path.exists(state):
        with open(state) as f:
            base_op = json.load(f)["op_geomean_s"]
    work = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-"
                                     f"{os.getpid()}")
    _environment(work)
    from perfbench import workloads
    try:
        res = workloads.run(args.workload, args.seed, args.seconds, work,
                            traced=bool(args.trace))
        e2e, layers = res["e2e"], res["layers"]
        op_s = res["run_level"]["op_geomean_s"]
        if args.trace:
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            layers["trace.overhead_ratio"] = op_s / base_op if base_op else 0.0
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(
                OUT, "traces", f"{args.workload}-s{args.seed}-spans.json"))
            with open(os.path.join(OUT, "traces", f"{args.workload}-s"
                                   f"{args.seed}-layers.json"), "w") as f:
                json.dump({"layers": layers, "end_to_end_traced": e2e},
                          f, indent=1)
            metrics = {k: {"value": float(v),
                           "unit": workloads.PER_LAYER_UNITS[k]}
                       for k, v in layers.items()}
        else:
            metrics = {k: {"value": float(e2e[k]),
                           "unit": workloads.E2E_UNITS[k]}
                       for k in workloads.END_TO_END}
            if res["failed"] == 0:
                os.makedirs(os.path.dirname(state), exist_ok=True)
                with open(state, "w") as f:
                    json.dump({"op_geomean_s": op_s}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for msg in res["failures"][:50]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}),
          flush=True)
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
