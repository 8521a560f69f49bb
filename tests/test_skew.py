"""B5 hot-term skew: the merge groups on (term, range_id), so a term
appearing in every doc merges as many bounded groups (structured
salting, salt = doc-range). Assertions:

1. group-size bound: no (term, range_id) posting row exceeds
   2**range_bits entries;
2. salt-invariance: a build with 16x finer ranges (more salt buckets)
   yields identical query results and identical global term stats;
3. Zipfian head terms (df = corpus size) split across ranges when
   ranges are finer than the corpus.
"""

import pytest
from pyspark.sql import functions as F

from bright_spark.index import catalog
from bright_spark.index.builder import build_index
from bright_spark.models import IndexConfig
from bright_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def two_indexes(spark, repos_parquet, tmp_path_factory):
    """Both indexes built by the Spark stages (the (term, range_id)
    shuffle-merge this file checks): the read budget is 0, so the
    small fixture corpus does not take the driver execution."""
    base = tmp_path_factory.mktemp("skew")
    src = spark.read.parquet(repos_parquet)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(catalog, "LOCAL_READ_MAX_BYTES", 0)
        coarse = build_index(spark, src, str(base / "coarse"),
                             IndexConfig(id="coarse", range_bits=16),
                             n_build_partitions=8)
        fine = build_index(spark, src, str(base / "fine"),
                           IndexConfig(id="fine", range_bits=4),
                           n_build_partitions=8)
    assert {c.manifest()["metrics"]["mode"] for c in (coarse, fine)} \
        == {"spark"}
    return coarse, fine


def test_group_size_bounded(spark, two_indexes):
    _, fine = two_indexes
    rows = fine.postings(spark).select("df_chunk").collect()
    assert all(r["df_chunk"] <= 2 ** 4 for r in rows)


def test_hot_terms_split_across_ranges(spark, two_indexes, oracle):
    _, fine = two_indexes
    hot = max(oracle.df, key=lambda t: oracle.df[t])
    n_rows = fine.postings(spark).filter(F.col("term") == hot).count()
    assert n_rows > 1  # the hot term's postings are salted across ranges


def test_salt_invariance_stats(spark, two_indexes):
    coarse, fine = two_indexes
    a = {r["term"]: (r["df"], r["cf"]) for r in coarse.term_stats(spark).collect()}
    b = {r["term"]: (r["df"], r["cf"]) for r in fine.term_stats(spark).collect()}
    assert a == b
    assert coarse.load_meta()["avgdl"] == fine.load_meta()["avgdl"]


@pytest.mark.parametrize("q", ["user", "parse config", "parser AND config",
                               "user session token", "config NOT test"])
def test_salt_invariance_queries(spark, two_indexes, oracle, q):
    coarse, fine = two_indexes
    ec, ef = SearchEngine(spark, coarse.index_dir), SearchEngine(spark, fine.index_dir)
    rc = [(r["doc_id"], r["score"]) for r in ec.search_df(q, k=10).collect()]
    rf = [(r["doc_id"], r["score"]) for r in ef.search_df(q, k=10).collect()]
    assert rc == rf, q
    expected, _ = oracle.search(q, 10)
    assert [d for d, _ in rc] == [d for d, _ in expected]
