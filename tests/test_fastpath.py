"""Driver-side mutation fast path (fastpath.py): the same mutation
sequence applied through the fast regime and through the distributed
stages must leave BIT-IDENTICAL index state — docs, postings rows,
tombstones, stats, and every query result. The fast path writes with
pyarrow what the distributed path writes with Spark, so this is the
equivalence pin for the whole file-format surface."""

import numpy as np
import pytest

from bright_spark.index import mutations
from bright_spark.index.builder import build_index
from bright_spark.index.catalog import IndexCatalog
from bright_spark.index.mutations import IndexMutator
from bright_spark.models import IndexConfig
from bright_spark.query.engine import SearchEngine

QUERIES = ["user", "parse config", "parser AND config", '"parse config"',
           "config NOT user", "alpha", "token3"]


def _build(spark, idx, store_positions=True):
    rows = [{"doc_id": i * 113, "lang": ["en", "de"][i % 2],
             "text": (f"parse config user{i % 5} alpha beta token{i % 7} "
                      f"gamma{i}")}
            for i in range(200)]
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(id="fastpin", store_positions=store_positions),
                id_col="doc_id", content_col="text", lang_col="lang",
                n_build_partitions=4)
    return rows


def _mutate_seq(spark, idx):
    def mut():
        return IndexMutator(spark, idx)

    # replace existing ids + insert brand-new ids in a brand-new group
    mut().upsert(spark.createDataFrame([
        {"doc_id": 113, "lang": "en", "text": "replaced parse alpha doc"},
        {"doc_id": 339, "lang": "de", "text": "replaced config beta"},
        {"doc_id": 99991, "lang": "en", "text": "new user parse config"},
        {"doc_id": 99992, "lang": "de", "text": "new alpha token3 entry"},
    ]))
    mut().delete_ids([226, 99991, 123456789])  # one absent id
    mut().patch(339, {"text": "patched gamma config user"})
    mut().delete_by_query("token5")
    # re-add a deleted id: resurrection guard must keep only the new doc
    mut().upsert_rows([
        {"doc_id": 226, "lang": "de", "text": "resurrected user config"}])
    mut().upsert(spark.createDataFrame(
        [], "doc_id BIGINT, lang STRING, text STRING"))  # no-op batch


def _state(spark, idx):
    cat = IndexCatalog(idx)
    eng = SearchEngine(spark, idx)
    docs = sorted(
        (tuple(r) for r in
         cat.docs(spark).select("doc_id", "lang", "text", "doc_len",
                                "content_sha256").collect()))
    postings = sorted(
        (r["field"], r["term"], r["range_id"], r["ver"], r["df_chunk"],
         r["cf_chunk"], tuple(bytes(b) for b in r["docs"]),
         tuple(bytes(b) for b in r["tfs"]),
         tuple(bytes(b) for b in r["pos"]))
        for r in cat.postings(spark).collect())
    tomb = cat.tombstones()
    tomb = (None if tomb is None
            else (tomb[0].tolist(), tomb[1].tolist()))
    meta = cat.load_meta()
    state = {
        "docs": docs, "postings": postings, "tomb": tomb,
        "meta": {k: meta[k] for k in
                 ("n_docs", "avgdl", "total_tokens", "field_stats")},
    }
    for q in QUERIES:
        state[q] = [(r["doc_id"], round(r["score"], 9))
                    for r in eng.search_df(q, k=50).collect()]
    return state


def _commit_modes(idx):
    cat = IndexCatalog(idx)
    return [(s.get("operation"), (s.get("metrics") or {}).get("mode"))
            for s in cat.snapshots()]


@pytest.mark.parametrize("store_positions", [True, False])
def test_fast_equals_distributed(spark, tmp_path_factory, monkeypatch,
                                 store_positions):
    base = tmp_path_factory.mktemp("fastpath")
    idx_a, idx_b = str(base / "fast"), str(base / "dist")
    _build(spark, idx_a, store_positions)
    _build(spark, idx_b, store_positions)
    _mutate_seq(spark, idx_a)
    with monkeypatch.context() as mp:  # distributed_mutations
        mp.setattr(mutations, "FAST_THRESHOLD", 0)
        _mutate_seq(spark, idx_b)

    # the fast copy really took the fast path for every mutation commit
    modes_a = [m for op, m in _commit_modes(idx_a) if op != "build"]
    assert modes_a and all(m == "append-fast" for m in modes_a), modes_a
    modes_b = [m for op, m in _commit_modes(idx_b) if op != "build"]
    assert modes_b and all(m == "append" for m in modes_b), modes_b

    sa, sb = _state(spark, idx_a), _state(spark, idx_b)
    for key in sa:
        assert sa[key] == sb[key], f"state diverged at {key!r}"


def test_distributed_append_broadcasts_nothing(spark, tmp_path, monkeypatch,
                                              distributed_mutations):
    """A Spark-path upsert and delete keep their id set on the driver:
    no SparkContext.broadcast is made for either."""
    idx = str(tmp_path / "idx")
    _build(spark, idx)
    sent = []
    broadcast = type(spark.sparkContext).broadcast

    def counted(self, value):
        sent.append(value)
        return broadcast(self, value)
    monkeypatch.setattr(type(spark.sparkContext), "broadcast", counted)
    mut = IndexMutator(spark, idx)
    mut.upsert(spark.createDataFrame(
        [{"doc_id": 113, "lang": "en", "text": "nobroadcast parse"}]))
    mut.delete_ids([226])
    assert _commit_modes(idx)[-2:] == [("upsert", "append"),
                                       ("delete", "append")]
    assert sent == []
    assert SearchEngine(spark, idx).search_df("nobroadcast", k=5).count() == 1


def test_keyed_index_falls_back(spark, tmp_path_factory):
    """No id_col (natural-key index): upsert silently takes the
    distributed path even at a fast-path size."""
    from bright_spark.fixtures import make_repos
    base = tmp_path_factory.mktemp("fastkeyed")
    idx = str(base / "idx")
    pdf = make_repos(30, 7)
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(id="keyed"), n_build_partitions=4)
    row = pdf.iloc[0].to_dict()
    row["content"] = "def fastpath_fallback(): return 1"
    IndexMutator(spark, idx).upsert(spark.createDataFrame([row]))
    modes = [m for op, m in _commit_modes(idx) if op != "build"]
    assert modes == ["append"]
    eng = SearchEngine(spark, idx)
    assert eng.search_df("fastpath_fallback", k=5).count() == 1


@pytest.mark.parametrize("crash_point", ["part_write", "meta", "commit"])
def test_fast_crash_is_atomic(spark, tmp_path_factory, monkeypatch,
                              crash_point):
    """Inject a crash at each write stage of the FAST path: the old
    snapshot stays live and bit-intact (version dirs are invisible
    until CURRENT flips — same protocol as the distributed path), and
    a retry commits cleanly."""
    from bright_spark.index import builder as builder_mod
    from bright_spark.index import catalog as catalog_mod
    from bright_spark.index import fastpath as fastpath_mod

    base = tmp_path_factory.mktemp(f"fastcrash_{crash_point}")
    idx = str(base / "idx")
    _build(spark, idx)
    cat = IndexCatalog(idx)
    sid = cat.current_snapshot_id()
    baseline = {r["doc_id"] for r in
                SearchEngine(spark, idx).search_df("alpha", k=500).collect()}

    def boom(*a, **k):
        raise RuntimeError("injected")

    targets = {
        "part_write": (fastpath_mod, "write_part"),
        "meta": (builder_mod.IndexBuilder, "_write_index_meta"),
        "commit": (catalog_mod.PendingSnapshot, "commit"),
    }
    obj, name = targets[crash_point]
    monkeypatch.setattr(obj, name, boom)
    with pytest.raises(RuntimeError, match="injected"):
        IndexMutator(spark, idx).upsert_rows(
            [{"doc_id": 113, "lang": "en",
              "text": f"fastcrash_{crash_point} alpha"}])
    monkeypatch.undo()

    assert IndexCatalog(idx).current_snapshot_id() == sid
    eng = SearchEngine(spark, idx)
    got = {r["doc_id"] for r in eng.search_df("alpha", k=500).collect()}
    assert got == baseline
    assert eng.search_df(f"fastcrash_{crash_point}", k=5).collect() == []
    # retry commits cleanly, through the fast path
    IndexMutator(spark, idx).upsert_rows(
        [{"doc_id": 113, "lang": "en",
          "text": f"fastcrash_{crash_point} alpha"}])
    assert _commit_modes(idx)[-1] == ("upsert", "append-fast")
    assert SearchEngine(spark, idx).search_df(
        f"fastcrash_{crash_point}", k=5).count() == 1


def test_fast_upsert_then_compact_and_vacuum(spark, tmp_path_factory,
                                             monkeypatch):
    """Fast-path commits obey the same chain-depth auto-compaction and
    survive compact + vacuum with correct results."""
    base = tmp_path_factory.mktemp("fastcompact")
    idx = str(base / "idx")
    _build(spark, idx)
    monkeypatch.setattr(mutations, "COMPACT_THRESHOLD", 3)
    for i in range(4):
        IndexMutator(spark, idx).upsert_rows(
            [{"doc_id": 500000 + i, "lang": "en",
              "text": f"compact probe delta{i} parse"}])
    cat = IndexCatalog(idx)
    assert cat.delta_depth("postings") <= 3
    IndexCatalog(idx).vacuum(keep_last=1)
    eng = SearchEngine(spark, idx)
    got = {r["doc_id"] for r in eng.search_df("delta2", k=5).collect()}
    assert got == {500002}
    assert eng.search_df('"parse config"', k=5).count() > 0


def test_signed_stats_cf_is_per_row_tf_sum():
    """The segmented cf sum equals a per-row sum of ``tfs``, an empty
    row included, with the sign applied to df and cf."""
    import pyarrow as pa

    from bright_spark.index.fastpath import _signed_stats
    tfs = [np.array([3, 1], np.int32), np.array([], np.int32),
           np.array([2**31 - 1, 2**31 - 1], np.int32), np.array([7], np.int32)]
    partials = pa.table({
        "field": ["content"] * 4, "term": ["a", "b", "c", "d"],
        "doc_ids": pa.array([np.arange(len(t), dtype=np.int64) for t in tfs],
                            pa.list_(pa.int64())),
        "tfs": pa.array(tfs, pa.list_(pa.int32()))})
    for sign in (1, -1):
        got = _signed_stats(partials, sign)
        assert got["cf"].to_pylist() == [
            sign * int(np.sum(t, dtype=np.int64)) for t in tfs]
        assert got["df"].to_pylist() == [sign * len(t) for t in tfs]
        assert got["term"].to_pylist() == ["a", "b", "c", "d"]
    assert _signed_stats(None, 1) is None


def test_driver_writes_run_clean_and_take_doc_len_from_partials(
        spark, tmp_path, no_autocompact):
    """A driver upsert and delete raise no pandas SettingWithCopyWarning
    (turned into an error here), and the upsert's doc_len is the
    content field's token count from the one tokenize pass, 0 for a doc
    without terms."""
    import warnings

    import pandas as pd

    from bright_spark.analysis.tokenizer import count_terms_batch
    idx = str(tmp_path / "idx")
    _build(spark, idx)
    rows = [{"doc_id": 113, "lang": "en", "text": "replaced parse alpha"},
            {"doc_id": 99991, "lang": "de", "text": "new user config user"},
            {"doc_id": 99992, "lang": "en", "text": "  ,;  "}]
    mut = IndexMutator(spark, idx)
    with warnings.catch_warnings():
        warnings.simplefilter("error", pd.errors.SettingWithCopyWarning)
        mut.upsert_rows(rows)
        mut.delete_ids([226, 339])
    assert _commit_modes(idx)[-2:] == [("upsert", "append-fast"),
                                       ("delete", "append-fast")]
    got = {r["doc_id"]: r["doc_len"] for r in IndexCatalog(idx).docs(spark)
           .filter("doc_id IN (113, 99991, 99992)").collect()}
    _, _, want = count_terms_batch([r["text"] for r in rows], "code",
                                   [r["lang"] for r in rows], False)
    assert got == {r["doc_id"]: int(w) for r, w in zip(rows, want)}
    assert got[99992] == 0
