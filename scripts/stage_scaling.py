"""Per-stage scaling decomposition for BENCH/BASELINE.md: one matched
3-slot vs 12-slot build (same protocol as scaling_bench.py — local[24],
128 partitions, spark.task.cpus 8 vs 2) with the three build stages
timed separately (docs / postings / stats+meta+commit), so the summary
efficiency can be attributed: data-proportional stages should scale at
the host kernel ceiling, the constant-size stats pass should not
(pure Amdahl dilution at sandbox scale, negligible at 10^12 docs).

Usage: python scripts/stage_scaling.py [corpus_dir] [cores]
(defaults: /tmp/bright_scaling_corpus_160000, 24)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bright_scaling_corpus_160000"
CORES = int(sys.argv[2]) if len(sys.argv) > 2 else 24

CODE = """
import json, sys, time
sys.path.insert(0, {repo!r})
from bright_spark.session import get_spark
from bright_spark.index.builder import IndexBuilder
from bright_spark.models import IndexConfig
spark = get_spark("stage", master="local[{cores}]", shuffle_partitions=128,
                  extra_conf={{"spark.task.cpus": "{cpus}"}})
src = spark.read.parquet({corpus!r})
b = IndexBuilder(spark, IndexConfig(id="st"), {idx!r}, n_build_partitions=128)
b.resolve_range_bits(src)
p = b.catalog.begin()
t = {{}}
t0 = time.time(); b.build_docs(src, p); t["docs"] = round(time.time() - t0, 1)
t0 = time.time(); b.build_postings(src, p); t["postings"] = round(time.time() - t0, 1)
t0 = time.time(); meta = b.build_stats(p); p.commit(meta, "build")
t["stats"] = round(time.time() - t0, 1)
print("STAGES " + json.dumps(t))
spark.stop()
"""


def run(cpus: int) -> dict:
    idx = f"/tmp/bright_stage_idx_{cpus}"
    shutil.rmtree(idx, ignore_errors=True)
    out = subprocess.run(
        [sys.executable, "-c", CODE.format(repo=REPO, cores=CORES,
                                           cpus=cpus, corpus=CORPUS, idx=idx)],
        check=True, capture_output=True, text=True)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("STAGES ")][-1]
    return json.loads(line[len("STAGES "):])


def main() -> None:
    lo = run(8)    # 3 slots
    hi = run(2)    # 12 slots
    res = {"slots_3": lo, "slots_12": hi,
           "scaling": {k: round(lo[k] / hi[k], 2) for k in lo}}
    print(json.dumps(res))
    with open(os.path.join(REPO, "BENCH", "stage_scaling.json"), "w") as f:
        json.dump(res, f, indent=2)


if __name__ == "__main__":
    main()
