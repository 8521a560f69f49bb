"""The benchmark's own tests, at a tiny corpus size.

    python -m pytest perfbench/tests -q

The workload tests start a local Spark session each (about a minute
apiece on 4 cores); the checker and generator tests are pure Python.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from perfbench import check, gen, run, workloads

ROOT = run.ROOT


@pytest.fixture(scope="module")
def corpus_rows():
    from bright_spark.fixtures import make_repos
    return make_repos(40, 5).to_dict("records")


# ------------------------------------------------------------ checkers

def test_checker_flags_corrupted_hit_list(corpus_rows):
    oracle = check.oracle_index(corpus_rows, n_partitions=4)
    req = {"q": "config user", "limit": 10, "page": 1}
    exp, total = oracle.search(req["q"], 10)
    assert len(exp) >= 2
    assert check.check_search(oracle, req, exp, total) == []
    swapped = [exp[1], exp[0]] + exp[2:]
    assert check.check_search(oracle, req, swapped, total)
    rescored = [(exp[0][0], exp[0][1] + 1e-3)] + exp[1:]
    assert check.check_search(oracle, req, rescored, total)
    assert check.check_search(oracle, req, exp, total + 1)


def test_checker_pages_through_the_oracle(corpus_rows):
    oracle = check.oracle_index(corpus_rows, n_partitions=4)
    req = {"q": "return", "limit": 5, "page": 2}
    exp, total = oracle.search(req["q"], 10)
    assert check.check_search(oracle, req, exp[5:], total) == []
    assert check.check_search(oracle, req, exp[:5], total)


def test_checker_flags_dropped_planted_pair(corpus_rows):
    base = [r["content"] for r in corpus_rows]
    dpdf, planted = gen.dedup_corpus(3, base, dup_share=0.2)
    assert planted
    texts = dict(zip(dpdf["doc_id"].tolist(), dpdf["text"].tolist()))
    pairs = [(a, b, check.jaccard(texts[a], texts[b])) for a, b in planted]
    assert all(j >= 0.97 for _, _, j in pairs)
    assert check.check_minhash(texts, pairs, planted, 0.8) == []
    assert check.check_minhash(texts, pairs[1:], planted, 0.8)

    import numpy as np
    epdf, eplanted = gen.embeddings(3, 100)
    vecs = {int(i): np.asarray(v, dtype=np.float32).astype(np.float64)
            for i, v in zip(epdf["vec_id"], epdf["embedding"])}

    def cos(a, b):
        return float(vecs[a] @ vecs[b]
                     / np.sqrt((vecs[a] @ vecs[a]) * (vecs[b] @ vecs[b])))

    cpairs = [(a, b, cos(a, b)) for a, b in eplanted]
    assert check.check_cosine(vecs, cpairs, eplanted, 0.95) == []
    assert check.check_cosine(vecs, cpairs[:-1], eplanted, 0.95)


def test_checker_flags_wrong_cluster_and_docs():
    assert check.check_clusters([1, 2, 3], [(1, 2)], {1: 1, 2: 1, 3: 3}) == []
    assert check.check_clusters([1, 2, 3], [(1, 2)], {1: 1, 2: 2, 3: 3})


def test_generators_are_seeded(corpus_rows):
    oracle = check.oracle_index(corpus_rows, n_partitions=4)
    contents = [r["content"] for r in corpus_rows]

    def mix(seed):
        return gen.QueryMix(seed, oracle.df, contents, 40).rounds(3)

    assert mix(1) == mix(1)
    assert mix(1) != mix(2)
    assert {q["cls"] for q in mix(1)} == set(gen.QUERY_CLASSES)
    plan = gen.IngestPlan(4, corpus_rows, 20)
    b0, b1 = plan.batch(0), plan.batch(1)
    assert b0["marker"] != b1["marker"] == gen.marker(4, 1)
    assert not set(b0["ids"]) & set(b1["ids"]) - set(range(20))
    assert set(b0["delete"]) <= set(b0["ids"]) - set(range(20))
    assert all(b0["marker"] in d["content"] for d in b0["docs"])


def test_wildcards_expand_within_the_band():
    from bright_spark.fixtures import make_repos
    pdf = make_repos(200, 3)
    oracle = check.oracle_index(pdf.to_dict("records"), n_partitions=4)
    mix = gen.QueryMix(3, oracle.df, pdf["content"].tolist(), len(pdf))
    wild = [q["q"] for q in mix.rounds(6) if q["q"].endswith("*")]
    assert len(wild) == 6
    lo, hi = gen.WILDCARD_EXPANSIONS
    for q in wild:
        assert lo <= sum(t.startswith(q[:-1]) for t in oracle.df) <= hi


def test_overhead_baseline_is_keyed_by_seed():
    assert run._state_path("search", 1) == run._state_path("search", 1)
    assert run._state_path("search", 1) != run._state_path("search", 2)
    assert run._state_path("search", 1) != run._state_path("ingest", 1)


# ---------------------------------------------------------- workloads

def _run(workload, tmp_path, traced):
    work = str(tmp_path / workload)
    run._environment(work)
    return workloads.run(workload, seed=7, seconds=0.1, work=work,
                         traced=traced, sizes=workloads.Sizes.tiny())


@pytest.mark.parametrize("workload", ["search", "ingest"])
def test_workload_runs_to_completion(workload, tmp_path):
    res = _run(workload, tmp_path, traced=True)
    assert res["failures"] == []
    assert res["attempted"] > 0 and res["failed"] == 0
    assert set(res["e2e"]) == set(workloads.END_TO_END)
    assert all(v > 0 for v in res["e2e"].values())
    assert set(res["layers"]) == set(workloads.PER_LAYER)
    if workload == "ingest":
        assert res["layers"]["index.mutations.compact_count"] == 1
    else:
        assert res["layers"]["query.engine.jobs_per_query"] > 0
        assert res["layers"]["text.dedup.minhash_s"] > 0


def test_bare_directory_fails_without_a_result(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: non-zero exit,
    nothing on stdout."""
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "search", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=170)
    assert p.returncode != 0
    assert p.stdout == ""
