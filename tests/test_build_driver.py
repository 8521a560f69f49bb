"""Index builds on both sides of the size gate: the driver execution
(one ``toArrow()`` collect, pyarrow writes) and the Spark stages build
the same index, and the driver side starts at most one Spark job (none
for the REST first batch)."""

import datetime
import decimal
import glob
import os

import pyarrow.parquet as pq
import pytest

from bright_spark.fixtures import make_repos, make_repos_spark
from bright_spark.index import catalog as catalog_mod
from bright_spark.index.builder import IndexBuilder, build_index
from bright_spark.index.catalog import IndexCatalog
from bright_spark.index.store import IndexStore
from bright_spark.models import IndexConfig, SearchRequest
from bright_spark.query.engine import SearchEngine
from tests.oracle import OracleIndex
from tests.test_compaction import _entries, _index_meta, _term_stats

QUERIES = ["user", "parse config", "parser AND config", "config NOT test",
           "pars*", '"user session"', "lang:go user"]


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None),
               default=-1)


def _jobs_since(spark, before: int) -> int:
    return _last_job(spark) - before


def _docs_rows(idx: str) -> dict:
    rows = {}
    for d in IndexCatalog(idx).docs_dirs():
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            for r in pq.read_table(f).to_pylist():
                assert r["doc_id"] not in rows, r["doc_id"]
                rows[r["doc_id"]] = r
    return rows


def _corpus(n: int, seed: int):
    pdf = make_repos(n, seed)
    pdf["rid"] = [3 * i + 7 for i in range(n)]  # sparse, not from 0
    pdf["owner"] = [f"team{i % 3}" for i in range(n)]
    pdf["stars"] = [i % 5 for i in range(n)]
    # docs without a single content term have doc_len 0
    pdf.loc[5, "content"] = ""
    pdf.loc[9, "content"] = None
    pdf.loc[11, "content"] = "+-*/ ;;"
    return pdf


CASES = {
    "natural_key_positions": (
        dict(store_positions=True, exclude_attributes=("owner",)),
        dict(attr_cols=("lang", "owner", "stars"), text_cols=("path",))),
    "id_col_no_positions": (
        dict(store_positions=False, exclude_attributes=("stars",)),
        dict(id_col="rid", attr_cols=("repo", "stars"),
             text_cols=("path", "owner"))),
    "no_content_stopwords": (
        dict(store_content=False),
        dict(filter_stopwords=True, attr_cols=("stars",))),
    # 16-id doc ranges and docs groups: several of each per build
    "multi_range_natural_key": (
        dict(range_bits=4, docs_range_bits=4),
        dict(text_cols=("path",))),
    "multi_range_id_col": (
        dict(range_bits=4, docs_range_bits=4, store_positions=False),
        dict(id_col="rid", attr_cols=("stars",))),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_build_equals_spark_build(spark, tmp_path, monkeypatch, case):
    """Same docs rows and DDL, decoded postings per (field, term,
    range_id), term_stats rows, index_meta and manifest meta from both
    executions, and oracle-equal searches on each."""
    cfg_kw, kw = CASES[case]
    pdf = _corpus(60, 17)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    sides = {m: str(tmp_path / m) for m in ("driver", "spark")}
    for mode, d in sides.items():
        with monkeypatch.context() as mp:
            if mode == "spark":
                mp.setattr(catalog_mod, "LOCAL_READ_MAX_BYTES", 0)
            build_index(spark, src, d, IndexConfig(id=case, **cfg_kw),
                        n_build_partitions=4, **kw)
        metrics = IndexCatalog(d).manifest()["metrics"]
        assert metrics["mode"] == mode
        assert metrics["source_bytes"] > 0

    drv, spk = sides["driver"], sides["spark"]
    groups = [len(IndexCatalog(d).docs_dirs()) for d in (drv, spk)]
    assert groups[0] == groups[1]
    if "docs_range_bits" in cfg_kw:
        assert groups[0] > 1
        assert len({k[2] for k in _entries(drv)}) > 1
    assert _docs_rows(drv) == _docs_rows(spk)
    assert (IndexCatalog(drv).docs_schema() == IndexCatalog(spk).docs_schema())
    assert _entries(drv) == _entries(spk)
    assert _term_stats(drv) == _term_stats(spk)
    assert _index_meta(drv) == _index_meta(spk)
    assert IndexCatalog(drv).load_meta() == IndexCatalog(spk).load_meta()
    assert (IndexCatalog(drv).load_config()
            == IndexCatalog(spk).load_config())

    oracle = OracleIndex(
        pdf.to_dict("records"), id_col=kw.get("id_col"),
        filter_stopwords=kw.get("filter_stopwords", False), n_partitions=4,
        text_cols=tuple(c for c in kw.get("text_cols", ())
                        if c not in cfg_kw.get("exclude_attributes", ())))
    for q in QUERIES:
        exp, etotal = oracle.search(q, 10)
        for d in sides.values():
            resp = SearchEngine(spark, d).search(SearchRequest(q=q, limit=10))
            hits = [(h["doc_id"], h["_score"]) for h in resp.hits]
            assert [h for h, _ in hits] == [h for h, _ in exp], (q, d)
            for (_, gs), (_, es) in zip(hits, exp):
                assert gs == pytest.approx(es, abs=1e-9), (q, d)
            assert resp.total_hits == etotal, (q, d)


def test_dataframe_build_starts_at_most_one_job(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(make_repos(40, 5)).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    before = _last_job(spark)
    build_index(spark, src, str(tmp_path / "idx"), IndexConfig(id="j"))
    assert _jobs_since(spark, before) <= 1
    assert IndexCatalog(str(tmp_path / "idx")).manifest()[
        "metrics"]["mode"] == "driver"


def test_rest_first_batch_starts_no_job(spark, tmp_path):
    """The wire path's first batch builds from the rows themselves."""
    store = IndexStore(spark, str(tmp_path / "data"))
    store.create_index(IndexConfig(id="d", tokenizer="simple"))
    rows = [{"file_id": 10 * i, "content": f"alpha beta doc{i}"}
            for i in range(30)]
    before = _last_job(spark)
    store.add_document_rows("d", rows)
    assert _jobs_since(spark, before) == 0
    cat = IndexCatalog(str(tmp_path / "data" / "d"))
    assert cat.manifest()["metrics"]["mode"] == "driver"
    assert cat.docs_schema() == ("doc_id bigint, content string, "
                                 "content_sha256 string, doc_len int")
    resp = store.search("d", SearchRequest(q="doc7", limit=5))
    assert [h["doc_id"] for h in resp.hits] == [70]
    assert store.search("d", SearchRequest(q="alpha")).total_hits == 30


@pytest.mark.parametrize("budget", ["LOCAL_READ_MAX_BYTES",
                                    "LOCAL_BUILD_MAX_BYTES"])
def test_gate_flips_at_the_source_byte_figure(spark, tmp_path, monkeypatch,
                                              budget):
    """The build runs on the driver iff its figure is below both the
    read and the build budget."""
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(make_repos(20, 9)).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    first = str(tmp_path / "first")
    build_index(spark, src, first, IndexConfig(id="g"))
    figure = IndexCatalog(first).manifest()["metrics"]["source_bytes"]
    assert figure < catalog_mod.LOCAL_BUILD_MAX_BYTES
    for value, mode in ((figure, "spark"), (figure + 1, "driver")):
        d = str(tmp_path / f"b{value}")
        monkeypatch.setattr(catalog_mod, budget, value)
        build_index(spark, src, d, IndexConfig(id="g"))
        m = IndexCatalog(d).manifest()["metrics"]
        assert (m["mode"], m["source_bytes"]) == (mode, figure)


@pytest.mark.parametrize("what", ["null_key", "timestamp", "decimal",
                                  "int_key", "repeated_id"])
def test_ineligible_source_falls_back_with_nothing_written(spark, tmp_path,
                                                           what):
    rows = [{"repo": "r", "path": f"p{i}", "commit": "c", "n": i,
             "content": f"alpha doc{i}"} for i in range(6)]
    kw = dict(lang_col=None)
    if what == "null_key":
        rows[2]["path"] = None
    elif what == "timestamp":
        for i, r in enumerate(rows):
            r["at"] = datetime.datetime(2024, 1, 1 + i)
        kw["attr_cols"] = ("at",)
    elif what == "decimal":
        for i, r in enumerate(rows):
            r["price"] = decimal.Decimal(f"{i}.50")
        kw["attr_cols"] = ("price",)
    elif what == "int_key":
        kw["key_cols"] = ("n",)  # int keys: Spark hashes them as 4 bytes
    else:
        # disjoint terms: the Spark build refuses a repeated id in a run
        rows[3].update(n=rows[2]["n"], content="beta")
        kw["id_col"] = "n"
    src_dir = str(tmp_path / "src")
    df = spark.createDataFrame(rows)
    df.withColumn("n", df["n"].cast("int")).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, IndexConfig(id="f", tokenizer="simple"), idx,
                     **kw)
    assert b._driver_source(src, None)[0] is None
    assert not os.path.exists(idx)
    b.build(src)
    assert IndexCatalog(idx).manifest()["metrics"]["mode"] == "spark"


def test_rows_of_unmapped_type_fall_back(spark, tmp_path):
    """Driver-resident rows whose inferred type the driver does not map
    (a nested value here) take the Spark stages."""
    rows = [{"file_id": i, "content": f"alpha doc{i}", "meta": {"k": i}}
            for i in range(5)]
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, IndexConfig(id="d", tokenizer="simple"), idx,
                     id_col="file_id", lang_col=None, attr_cols=("meta",))
    df = spark.createDataFrame(rows)
    assert b._driver_source(df, rows)[0] is None
    assert not os.path.exists(idx)
    b._build(df, rows)
    assert IndexCatalog(idx).manifest()["metrics"]["mode"] == "spark"


def test_docs_ddl_parses_as_spark_does(spark, built_index):
    """The pure-Python docs DDL parser equals Spark's ``StructType.
    fromDDL`` on every DDL a build records (the driver build's types,
    a Spark build's simple strings, a built index's manifest) and on
    backquoted names; a type outside the driver's set makes docs_read
    decline."""
    from pyspark.sql.types import StructType

    from bright_spark.index.builder import _DDL_OF_ARROW
    from bright_spark.index.catalog import _ddl_fields
    typed = spark.sql(
        "SELECT 'a' s, 1L b, 1 i, CAST(1 AS SMALLINT) si, "
        "CAST(1 AS TINYINT) ti, 1.5D d, CAST(1 AS FLOAT) f, true bo, "
        "CAST(1 AS DECIMAL(10,2)) de, TIMESTAMP'2024-01-01 00:00:00' ts, "
        "DATE'2024-01-01' da, X'00' bi, array('x') ar, map('k', 1) ma, "
        "named_struct('a', 1, 'b', 'x') st")
    ddls = [
        ", ".join(f"c{i} {t}" for i, t in enumerate(_DDL_OF_ARROW.values())),
        ", ".join(f"{f.name} {f.dataType.simpleString()}"
                  for f in typed.schema.fields),
        built_index.docs_schema(),
        "`my col` string, `a``b` bigint, `x, y` int, plain double",
    ]
    for ddl in ddls:
        assert _ddl_fields(ddl) == tuple(
            (f.name, f.dataType.simpleString())
            for f in StructType.fromDDL(ddl).fields), ddl
    cat = IndexCatalog(str(built_index.index_dir))
    cat.docs_schema = lambda: "doc_id bigint, price decimal(10,2)"
    assert cat.docs_read(columns=["price"]) is None
    assert cat.docs_read([1]) is None
    assert cat.docs_read(columns=["doc_id"]) is not None


@pytest.mark.parametrize("kind", ["range_map_in_pandas", "local_relation"])
def test_source_that_is_not_a_file_scan_builds_on_spark(spark, tmp_path,
                                                        kind):
    """Only a file scan's optimizer size is a byte figure: a generated
    corpus sized 8 B per row, or a local relation sized 20 B per
    string, would pass the gate at any row count."""
    if kind == "range_map_in_pandas":
        src = make_repos_spark(spark, 40, seed=5, partitions=2)
    else:
        src = spark.createDataFrame(make_repos(40, 5))
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, IndexConfig(id="s"), idx)
    assert b._driver_source(src, None) == (None, None)
    assert not os.path.exists(idx)
    b.build(src)
    metrics = IndexCatalog(idx).manifest()["metrics"]
    assert (metrics["mode"], metrics["source_bytes"]) == ("spark", None)


def test_statistics_only_on_pruning_keys(spark, tmp_path):
    """A driver-written postings file carries column statistics on
    exactly the keys readers prune row groups on, a docs file on every
    column (Spark filters prune on its attribute columns), and
    ``postings_read`` / ``docs_read`` select the same row groups from
    them as from the same rows written with statistics on every
    column."""
    import shutil

    import pyarrow.compute as pc

    pdf = _corpus(60, 5)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src_dir)
    idx = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(src_dir), idx,
                IndexConfig(id="st", store_positions=True),
                n_build_partitions=2, id_col="rid",
                attr_cols=("lang", "owner", "stars"))
    cat = IndexCatalog(idx)
    assert cat.manifest()["metrics"]["mode"] == "driver"
    dirs = {"postings": cat.postings_dirs(), "docs": cat.docs_dirs()}
    for table, ds in dirs.items():
        for d in ds:
            (f,) = glob.glob(os.path.join(d, "*.parquet"))
            md = pq.read_metadata(f)
            cols = [md.row_group(0).column(j) for j in range(md.num_columns)]
            stats = {c.path_in_schema.split(".")[0] for c in cols
                     if c.is_stats_set}
            want = ({"bucket", "field", "term", "range_id"}
                    if table == "postings" else
                    {c.path_in_schema for c in cols})
            assert stats == want, (table, f)
            if table == "docs":
                assert {"doc_id", "lang", "owner", "stars"} <= stats

    # the same rows in several row groups: written by the catalog, and
    # with statistics on every column
    full = str(tmp_path / "full")
    shutil.copytree(idx, full)
    terms = set()
    for table, ds in dirs.items():
        for d in ds:
            tab = pq.read_table(os.path.join(d, "part-0.parquet"))
            groups = [5] * (tab.num_rows // 5) + [tab.num_rows % 5]
            catalog_mod._write_file(d, tab, [g for g in groups if g], None,
                                    all_statistics=table == "docs")
            with pq.ParquetWriter(
                    os.path.join(full, os.path.relpath(d, idx),
                                 "part-0.parquet"),
                    tab.schema, write_statistics=True,
                    **catalog_mod._PARQUET_OPTS) as w:
                w.write_table(tab, row_group_size=5)
            if "term" in tab.column_names:
                terms |= set(pc.unique(tab["term"]).to_pylist())

    def picks(root):
        c = IndexCatalog(root)
        out = []
        for t in sorted(terms)[::7] + ["zzz_absent"]:
            rd = c.postings_read([("content", t)], ["term", "docs"])
            out.append([(os.path.relpath(p, root), rgs)
                        for p, _, rgs in rd.parts])
        for ids in ([0], [3, 40], list(range(0, 60, 9)), [10**6]):
            rd = c.docs_read(ids, ["content"])
            out.append([(os.path.relpath(p, root), rgs)
                        for p, _, rgs in rd.parts])
        return out

    got = picks(idx)
    assert got == picks(full)
    # the row-group statistics do prune: reads select some groups,
    # never every group of a file
    assert any(got) and not got[-1]
    assert all(len(rgs) < 5 for sel in got for _, rgs in sel)
