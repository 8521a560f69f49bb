"""Q5 per-field analyzed indexing: `path:token` searches the `path`
field's OWN postings namespace with per-field BM25 stats (df + avgdl
over that field), exactly like Bleve's default mapping analyzes every
string field (reference store/store.go:126; README.md:46 `title:hello`).

Differential oracle: the pure-Python OracleIndex with the same
text_cols computes per-field stats independently.
"""

import pytest
from pyspark.sql import functions as F

from bright_spark.index.builder import build_index
from bright_spark.models import IndexConfig
from bright_spark.query.engine import SearchEngine

K = 10

FIELD_QUERIES = [
    "path:user",                 # term in a non-default field
    "path:parse*",               # wildcard expands in that field's dict
    "path:user config",          # mixed: path-field + content-field terms
    "+path:src config",          # field-scoped conjunct
    "-path:py user",             # field-scoped exclusion
    "path:usre~1",               # fuzzy in the field's term dict
    "path:user AND config",
    "path:zzz_not_a_token",      # absent in field -> no hits
    "lang:python path:user",     # attr filter + field-scoped scoring
]


@pytest.fixture(scope="module")
def field_index(spark, repos_parquet, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("index") / "repos_field_idx")
    src = spark.read.parquet(repos_parquet)
    return build_index(spark, src, idx_dir, IndexConfig(id="repos_f"),
                       text_cols=("path",), n_build_partitions=8)


@pytest.fixture(scope="module")
def field_engine(spark, field_index):
    return SearchEngine(spark, field_index.index_dir)


@pytest.fixture(scope="module")
def field_oracle(repos_pdf):
    from tests.oracle import OracleIndex
    return OracleIndex(repos_pdf.to_dict("records"), text_cols=("path",))


def _assert_parity(engine, oracle, q):
    expected, _ = oracle.search(q, K)
    rows = engine.search_df(q, k=K).collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"rank mismatch for {q!r}: {got} vs {expected}")
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9, abs=1e-9), (
            f"score mismatch {q!r} doc {gd}")


@pytest.mark.parametrize("q", FIELD_QUERIES)
def test_field_scoped_parity_wand(field_engine, field_oracle, q):
    _assert_parity(field_engine, field_oracle, q)


@pytest.mark.parametrize("q", FIELD_QUERIES)
def test_field_scoped_parity_relational(field_engine, field_oracle, q):
    """The full match set (match_df) ranked by (-score, doc_id) has the
    oracle's top-k, scores and total."""
    expected, etotal = field_oracle.search(q, K)
    got = sorted(((r["doc_id"], r["score"])
                  for r in field_engine.match_df(q).collect()),
                 key=lambda h: (-h[1], h[0]))
    assert len(got) == etotal, q
    assert [d for d, _ in got[:K]] == [d for d, _ in expected], (
        f"{q!r}: {got[:K]} vs {expected}")
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"score {q!r} doc {gd}"


def test_field_stats_in_meta(field_index, field_oracle):
    meta = field_index.load_meta()
    fs = meta["field_stats"]
    assert set(fs) == {"content", "path"}
    assert fs["path"]["avgdl"] == pytest.approx(field_oracle.avgdl_f["path"])
    assert fs["content"]["avgdl"] == meta["avgdl"]


def test_per_field_term_stats(spark, field_index, field_oracle):
    ts = field_index.term_stats(spark)
    got = {r["term"]: int(r["df"])
           for r in ts.filter(F.col("field") == "path").collect()}
    assert got == field_oracle.df_f["path"]


def test_same_term_distinct_namespaces(spark, field_index, field_oracle):
    """A term living in both fields has independent df per namespace."""
    shared = sorted(set(field_oracle.df_f["path"])
                    & set(field_oracle.df_f["content"]))
    assert shared, "fixture should share some tokens across fields"
    t = shared[0]
    rows = (field_index.term_stats(spark)
            .filter(F.col("term") == t).collect())
    by_field = {r["field"]: int(r["df"]) for r in rows}
    assert by_field["path"] == field_oracle.df_f["path"][t]
    assert by_field["content"] == field_oracle.df_f["content"][t]


def test_field_phrase_fallback(field_engine, field_oracle):
    """Phrase on a non-default field, verified by re-tokenizing that
    field's text (no positions stored in this index)."""
    _assert_parity(field_engine, field_oracle, 'path:"src user"')


def test_field_phrase_positional(spark, repos_parquet, repos_pdf,
                                 tmp_path_factory):
    """Phrase on a non-default field answered from the positional
    index alone (store_positions=True)."""
    from tests.oracle import OracleIndex
    idx_dir = str(tmp_path_factory.mktemp("index") / "repos_field_pos_idx")
    src = spark.read.parquet(repos_parquet)
    build_index(spark, src, idx_dir,
                IndexConfig(id="repos_fp", store_positions=True),
                text_cols=("path",), n_build_partitions=8)
    eng = SearchEngine(spark, idx_dir)
    oracle = OracleIndex(repos_pdf.to_dict("records"), text_cols=("path",))
    _assert_parity(eng, oracle, 'path:"src user"')


def test_unknown_field_still_no_match(field_engine):
    assert field_engine.search_df("nosuchfield:user", k=5).count() == 0


def test_mutation_preserves_field_namespaces(spark, tmp_path_factory,
                                             repos_pdf):
    """mutate == rebuild with text_cols: upserting a doc whose path
    changed must move its entries between path-field postings. Keyed
    by an explicit PK (path is mutable here, so it cannot be the key —
    a changed natural key would correctly be a NEW doc, store.go:416)."""
    import pandas as pd

    from bright_spark.index.mutations import IndexMutator
    pdf = repos_pdf.copy()
    pdf["rid"] = range(len(pdf))
    kw = dict(content_col="content", id_col="rid", lang_col="lang",
              text_cols=("path",), n_build_partitions=8)
    work = str(tmp_path_factory.mktemp("mut") / "idx")
    build_index(spark, spark.createDataFrame(pdf), work,
                IndexConfig(id="mut"), **kw)
    mut = IndexMutator(spark, work)
    row = dict(pdf.to_dict("records")[3])
    row["path"] = "src/zebra/renamed_xyz.py"
    mut.upsert(spark.createDataFrame([row]))
    eng = SearchEngine(spark, work)
    hits = eng.search_df("path:zebra", k=5).collect()
    assert len(hits) == 1
    # rebuilt-from-scratch index over the mutated corpus agrees
    rows = pdf.to_dict("records")
    rows[3] = row
    rebuilt_dir = str(tmp_path_factory.mktemp("mut") / "rebuilt")
    build_index(spark, spark.createDataFrame(pd.DataFrame(rows)),
                rebuilt_dir, IndexConfig(id="rebuilt"), **kw)
    eng2 = SearchEngine(spark, rebuilt_dir)
    for q in ["path:zebra", "path:user config", "config"]:
        a = [(r["doc_id"], round(r["score"], 9))
             for r in eng.search_df(q, k=K).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in eng2.search_df(q, k=K).collect()]
        assert a == b, q
