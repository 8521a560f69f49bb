"""Q4 positional postings (store_positions=True): phrase verification
from the index alone must equal the content-rescan path and the oracle,
including with store_content=False and after mutations."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bright_spark.index import codec
from bright_spark.index.builder import build_index
from bright_spark.models import IndexConfig
from bright_spark.query.engine import SearchEngine
from tests.codec_ref import entry_positions


@pytest.fixture(scope="module")
def pos_index(spark, repos_parquet, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("posidx") / "idx")
    src = spark.read.parquet(repos_parquet)
    build_index(spark, src, idx, IndexConfig(id="pos", store_positions=True),
                n_build_partitions=4)
    return idx


def test_positions_roundtrip_blocks():
    rng = np.random.default_rng(7)
    n = 1000
    docs = np.cumsum(rng.integers(1, 9, n)).astype(np.int64)
    tfs = rng.integers(1, 5, n).astype(np.int64)
    dls = rng.integers(10, 99, n).astype(np.int64)
    pos = entry_positions(rng, tfs, 5000)
    starts = np.array([0, 400, 401, 950], dtype=np.int64)
    blocks = codec.encode_blocks_bulk(
        docs, tfs, dls, starts, block_size=128, positions=pos)
    # decode every block's positions and compare with the slice
    got = codec.decode_positions(codec.binary_values(blocks["pos"]), tfs)
    assert (got == pos).all()
    # per-run value counts = sum of tfs of its entries
    ends = np.concatenate((starts[1:], [n]))
    for g, (s, e) in enumerate(zip(starts, ends)):
        per_block = sum(
            len(codec.varint_decode(b)) for b in blocks["pos"][g].as_py())
        assert per_block == int(tfs[s:e].sum())


def test_phrase_positional_equals_content_verify(spark, repos_parquet,
                                                 pos_index, tmp_path_factory):
    idx2 = str(tmp_path_factory.mktemp("nopos") / "idx")
    src = spark.read.parquet(repos_parquet)
    build_index(spark, src, idx2, IndexConfig(id="nopos", store_positions=False),
                n_build_partitions=4)
    ep = SearchEngine(spark, pos_index)
    ec = SearchEngine(spark, idx2)
    assert ep.meta["store_positions"] and not ec.meta.get("store_positions")
    for q in ['"user session"', '"parse config file"', '"get user"',
              '"quasar flux"', '"nonexistent phrase here"']:
        a = [(r["doc_id"], round(r["score"], 9))
             for r in ep.search_df(q, k=20).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in ec.search_df(q, k=20).collect()]
        assert a == b, q


def test_phrase_without_stored_content(spark, repos_parquet,
                                       tmp_path_factory):
    """The motivating combo at 10^12 docs: phrases answered with no
    content in the index at all."""
    idx = str(tmp_path_factory.mktemp("poslean") / "idx")
    src = spark.read.parquet(repos_parquet)
    build_index(spark, src, idx,
                IndexConfig(id="lean", store_positions=True,
                            store_content=False),
                n_build_partitions=4)
    eng = SearchEngine(spark, idx)
    assert "content" not in eng.catalog.docs(spark).columns
    hits = eng.search_df('"parse config"', k=10).collect()
    assert hits  # fixture corpus contains parse_config identifiers
    # cross-check against a content-backed index
    idx2 = str(tmp_path_factory.mktemp("posfull") / "idx")
    build_index(spark, src, idx2, IndexConfig(id="full"),
                n_build_partitions=4)
    ref = SearchEngine(spark, idx2).search_df('"parse config"', k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in hits] == \
        [(r["doc_id"], round(r["score"], 9)) for r in ref]


def test_phrase_plan_single_postings_scan(spark, pos_index):
    """The one-pass phrase plan: candidate intersection, positional
    adjacency AND scoring run inside ONE per-range kernel fed by ONE
    partition-pruned postings scan — the previous plan ran three
    decode subtrees (score, candidate re-scan, positions) over the
    same term-pruned postings."""
    eng = SearchEngine(spark, pos_index)
    df = eng.search_df('"parse config"', k=10)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    assert plan.count("FileScan") == 1, plan


def test_not_phrase_uses_positional_kernel(spark, pos_index):
    """NOT-phrase exclusion on positional indexes must come from the
    postings kernel, not a docs-content re-tokenization scan."""
    eng = SearchEngine(spark, pos_index)
    df = eng.search_df('user -"parse config"', k=10)
    files = df.inputFiles()
    assert files and all("/postings/" in f for f in files), files


def test_positions_survive_mutations(spark, repos_parquet, tmp_path_factory):
    from bright_spark.index.mutations import IndexMutator
    idx = str(tmp_path_factory.mktemp("posmut") / "idx")
    src = spark.read.parquet(repos_parquet)
    build_index(spark, src, idx, IndexConfig(id="m", store_positions=True),
                n_build_partitions=4)
    mut = IndexMutator(spark, idx)
    new_doc = {"repo": "zz/np", "path": "src/p.py", "commit": "e" * 40,
               "lang": "python",
               "content": "alpha bravo charlie\nalpha bravo delta"}
    mut.upsert(spark.createDataFrame([new_doc]))
    eng = SearchEngine(spark, idx)
    hits = eng.search_df('"alpha bravo charlie"', k=5).collect()
    assert len(hits) == 1
    assert not eng.search_df('"bravo alpha"', k=5).collect()
    # surviving postings keep valid positions: phrase on old corpus
    assert eng.search_df('"parse config"', k=5).collect()
