"""Index-build invariants (SURVEY.md §5): identity pinning, doc_id
determinism, df/avgdl parity with the oracle recount, postings
structure."""

import hashlib

import numpy as np
from pyspark.sql import functions as F

from bright_spark.index.catalog import term_bucket
from tests.codec_ref import decode_all_blocks


def test_fixture_index_is_driver_built(built_index):
    """The shared fixture corpus builds on the driver;
    test_index_build_spark.py runs these checks on a Spark build."""
    assert built_index.manifest()["metrics"]["mode"] == "driver"


def test_doc_count_and_sha_identity(spark, built_index, repos_pdf):
    docs = built_index.docs(spark)
    assert docs.count() == len(repos_pdf)
    # per-row invariant: content sha256 equality vs the source corpus
    got = {(r["repo"], r["path"], r["commit"]): r["content_sha256"]
           for r in docs.select("repo", "path", "commit", "content_sha256").collect()}
    for row in repos_pdf.itertuples(index=False):
        expect = hashlib.sha256(row.content.encode("utf-8")).hexdigest()
        assert got[(row.repo, row.path, row.commit)] == expect


def test_doc_ids_dense_and_deterministic(spark, built_index, oracle):
    from bright_spark.index.hashing import partition_id
    p = built_index.load_extra()["n_build_partitions"]
    rows = built_index.docs(spark).select("doc_id", "repo", "path", "commit").collect()
    by_id = sorted(rows, key=lambda r: r["doc_id"])
    assert [r["doc_id"] for r in by_id] == list(range(len(rows)))
    keys = [(r["repo"], r["path"], r["commit"]) for r in by_id]
    # engine order: (hash partition, natural key) — reproducible
    assert keys == sorted(keys, key=lambda k: (partition_id(list(k), p), k))
    # oracle assigns ids the same way
    okeys = [(d["repo"], d["path"], d["commit"]) for d in oracle.docs]
    assert keys == okeys


def test_doc_len_matches_oracle(spark, built_index, oracle):
    got = {r["doc_id"]: r["doc_len"] for r in
           built_index.docs(spark).select("doc_id", "doc_len").collect()}
    for d in oracle.docs:
        assert got[d["doc_id"]] == d["doc_len"]


def test_meta_matches_oracle(built_index, oracle):
    meta = built_index.load_meta()
    assert meta["n_docs"] == oracle.n
    assert meta["total_tokens"] == oracle.total_tokens
    assert meta["avgdl"] == oracle.avgdl


def test_term_stats_match_oracle(spark, built_index, oracle):
    rows = built_index.term_stats(spark).collect()
    got = {r["term"]: int(r["df"]) for r in rows}
    assert got == oracle.df
    # bucket column consistent with driver-side crc32
    cfg = built_index.load_config()
    for r in rows[:200]:
        assert r["bucket"] == term_bucket(r["term"], cfg.n_term_buckets)


def test_postings_invariants(spark, built_index, oracle):
    post = built_index.postings(spark)
    cfg = built_index.load_config()
    rows = post.collect()
    # global df from chunks == oracle df
    df_sum: dict[str, int] = {}
    for r in rows:
        df_sum[r["term"]] = df_sum.get(r["term"], 0) + r["df_chunk"]
        assert r["bucket"] == term_bucket(r["term"], cfg.n_term_buckets)
        assert r["range_id"] == r["first_doc"][0] >> cfg.range_bits
        d, t, l = decode_all_blocks({
            "first_doc": r["first_doc"], "docs": r["docs"],
            "tfs": r["tfs"], "dls": r["dls"]})
        assert (np.diff(d) > 0).all() if d.size > 1 else True
        assert d.size == r["df_chunk"]
        assert int(t.sum()) == r["cf_chunk"]
        # every entry's range matches the row's range
        assert ((d >> cfg.range_bits) == r["range_id"]).all()
        # per-entry values match the oracle's term frequencies
        term = r["term"]
        for doc_id, tf, dl in zip(d.tolist(), t.tolist(), l.tolist()):
            _, otf, odl = oracle.by_id[doc_id]
            assert otf.get(term) == tf
            assert odl == dl
    assert df_sum == oracle.df


def test_postings_partition_pruning(spark, built_index):
    """Term lookup must read only the matching bucket directories
    (the FST-seek analog, SURVEY.md §4)."""
    terms = ["user", "quasar_flux_capacitor"]
    df = built_index.postings_for_terms(spark, [("content", t) for t in terms])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "bucket" in plan
    got = {r["term"] for r in df.select("term").distinct().collect()}
    assert got == set(terms)


def test_needles_present(spark, built_index):
    from bright_spark.fixtures import NEEDLES
    ts = built_index.term_stats(spark)
    for needle, _ in NEEDLES:
        rows = ts.filter(F.col("term") == needle.lower()).collect()
        assert len(rows) == 1 and rows[0]["df"] >= 1, needle
