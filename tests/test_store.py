"""Multi-index store lifecycle (store/store.go:33-282): configs.json
registry, boot-time reopen, create/get/update/delete/list, first-batch
build + later-batch upsert, empty-index search semantics."""

import pandas as pd
import pytest

from bright_spark.index.store import IndexStore
from bright_spark.models import IndexConfig, SearchRequest


def _rows(n, start=0, tag="alpha"):
    return pd.DataFrame([
        {"rid": i, "text": f"{tag} beta doc{i}", "kind": f"k{i % 3}"}
        for i in range(start, start + n)])


@pytest.fixture()
def store(spark, tmp_path_factory):
    return IndexStore(spark, str(tmp_path_factory.mktemp("store") / "data"))


def test_create_list_get_delete(store, spark):
    store.create_index(IndexConfig(id="a", tokenizer="simple"))
    store.create_index(IndexConfig(id="b", tokenizer="simple"))
    assert [c.id for c in store.list_indexes()] == ["a", "b"]
    assert [c.id for c in store.list_indexes(limit=1, offset=1)] == ["b"]
    cat, cfg = store.get_index("a")
    assert cfg.id == "a"
    with pytest.raises(ValueError):
        store.create_index(IndexConfig(id="a"))
    store.delete_index("b")
    assert [c.id for c in store.list_indexes()] == ["a"]
    with pytest.raises(KeyError):
        store.get_index("b")


def test_build_then_upsert_and_reopen(store, spark):
    store.create_index(IndexConfig(id="docs", tokenizer="simple"))
    # first batch builds (PK auto-detected: rid)
    store.add_documents("docs", spark.createDataFrame(_rows(30)),
                        content_col="text", attr_cols=("kind",),
                        n_build_partitions=2)
    resp = store.search("docs", SearchRequest(q="alpha", limit=5))
    assert resp.total_hits == 30
    # second batch upserts (10 new + 1 replacement)
    batch2 = pd.concat([_rows(10, start=30, tag="gamma"),
                        _rows(1, start=0, tag="gamma")], ignore_index=True)
    store.add_documents("docs", spark.createDataFrame(batch2))
    resp = store.search("docs", SearchRequest(q="gamma", limit=50))
    assert resp.total_hits == 11
    assert store.search("docs", "alpha").total_hits == 29

    # boot-time reopen: a NEW store over the same data dir sees the
    # registry and serves the same index (loadConfigs analog)
    reopened = IndexStore(spark, store.data_dir)
    assert [c.id for c in reopened.list_indexes()] == ["docs"]
    assert reopened.search("docs", "gamma").total_hits == 11


def test_empty_index_searches_zero_hits(store):
    store.create_index(IndexConfig(id="empty", tokenizer="simple"))
    resp = store.search("empty", SearchRequest(q="anything"))
    assert resp.hits == [] and resp.total_hits == 0


def test_update_index_pins_id(store):
    store.create_index(IndexConfig(id="u", tokenizer="simple"))
    store.update_index("u", IndexConfig(id="renamed", primary_key="rid"))
    _, cfg = store.get_index("u")
    assert cfg.id == "u" and cfg.primary_key == "rid"


def test_adopt_reconciles_on_disk_config(spark, tmp_path_factory):
    """Adopting an existing index dir must reconcile with its on-disk
    config (store.go adopt semantics): a matching registration adopts
    the authoritative built config (including build-resolved knobs); a
    conflicting one raises instead of silently misdescribing how the
    index was built."""
    data = str(tmp_path_factory.mktemp("adopt") / "data")
    s1 = IndexStore(spark, data)
    s1.create_index(IndexConfig(id="docs", tokenizer="simple"))
    s1.add_documents("docs", spark.createDataFrame(_rows(12)),
                     content_col="text")
    assert s1.search("docs", "alpha").total_hits > 0

    # wipe the registry, keep the index dir -> fresh store must adopt
    import os
    os.remove(os.path.join(data, "configs.json"))
    s2 = IndexStore(spark, data)
    assert not s2.configs
    s2.create_index(IndexConfig(id="docs", tokenizer="simple"))
    # registered config is the on-disk built one (resolved knobs kept)
    adopted = s2.configs["docs"]
    assert adopted.tokenizer == "simple"
    assert adopted.range_bits is not None  # build-resolved, preserved
    assert s2.search("docs", "alpha").total_hits > 0

    # conflicting registration (different tokenizer) must raise
    os.remove(os.path.join(data, "configs.json"))
    s3 = IndexStore(spark, data)
    with pytest.raises(ValueError, match="disagrees"):
        s3.create_index(IndexConfig(id="docs", tokenizer="code"))


def test_create_removes_an_uncommitted_index_dir(spark, tmp_path_factory,
                                                 monkeypatch):
    """A first build that crashed before its commit leaves an index dir
    with no CURRENT: there is nothing to adopt, so a fresh store's
    create_index removes the dir (whatever config it registers), and
    the first batch then builds the index fresh."""
    import os

    from bright_spark.index.catalog import IndexCatalog, PendingSnapshot
    data = str(tmp_path_factory.mktemp("crashed") / "data")
    s1 = IndexStore(spark, data)
    s1.create_index(IndexConfig(id="docs", tokenizer="simple"))

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before commit")

    with monkeypatch.context() as mp:
        mp.setattr(PendingSnapshot, "commit", boom)
        with pytest.raises(RuntimeError, match="injected"):
            s1.add_documents("docs", spark.createDataFrame(_rows(12)),
                             content_col="text")
    path = os.path.join(data, "docs")
    assert os.path.isdir(path)
    assert IndexCatalog(path).current_snapshot_id() is None

    os.remove(os.path.join(data, "configs.json"))
    s2 = IndexStore(spark, data)
    s2.create_index(IndexConfig(id="docs", tokenizer="code"))
    assert not os.path.exists(path)
    s2.add_documents("docs", spark.createDataFrame(_rows(5, tag="gamma")),
                     content_col="text")
    assert s2.search("docs", "gamma").total_hits == 5
    assert s2.search("docs", "alpha").total_hits == 0
    cat = IndexCatalog(path)
    assert cat.current_snapshot_id() == 1
    assert cat.load_config().tokenizer == "code"


def test_patch_commits_on_the_driver(store, spark, monkeypatch):
    """PATCH on an id-keyed index merges the stored doc and commits it
    through the driver fast path: no DataFrame is created for it."""
    from pyspark.sql import SparkSession

    from bright_spark.index.catalog import IndexCatalog
    store.create_index(IndexConfig(id="p", tokenizer="simple",
                                   primary_key="rid"))
    store.add_document_rows("p", _rows(12).to_dict("records"),
                            content_col="text", attr_cols=("kind",))

    def no_frames(*a, **k):
        raise AssertionError("PATCH created a DataFrame")
    monkeypatch.setattr(SparkSession, "createDataFrame", no_frames)
    rec = store.update_document("p", 5, {"text": "patched zeta body"})
    assert rec["text"] == "patched zeta body" and rec["kind"] == "k2"
    assert store.search("p", "zeta").total_hits == 1
    assert store.search("p", "alpha").total_hits == 11
    m = IndexCatalog(store._index_dir("p")).manifest()
    assert (m["operation"], m["metrics"]["mode"]) == ("upsert",
                                                      "append-fast")


def test_document_routes(store, spark):
    """DELETE /documents (ids / filter), DELETE /documents/:id, and
    PATCH /documents/:id through the store (handlers/documents.go
    214-320 semantics), with searches reflecting each commit."""
    store.create_index(IndexConfig(id="docs", tokenizer="simple"))
    store.add_documents("docs", spark.createDataFrame(_rows(12)),
                        content_col="text", attr_cols=("kind",))
    assert store.search("docs", "alpha").total_hits == 12

    # delete by id list
    store.delete_documents("docs", ids=[0, 1])
    assert store.search("docs", "alpha").total_hits == 10
    # single-doc route
    store.delete_document("docs", 2)
    assert store.search("docs", "alpha").total_hits == 9
    # delete by filter query (kind:k1 matches rids 4, 7, 10 of 3..11)
    store.delete_documents("docs", filter_query="kind:k1")
    assert store.search("docs", "alpha").total_hits == 6
    # neither -> request error (no silent delete-all)
    with pytest.raises(ValueError):
        store.delete_documents("docs")

    # patch: merge fields, re-index, return merged record
    rec = store.update_document("docs", 5, {"text": "patched zeta body"})
    assert rec["text"] == "patched zeta body" and rec["kind"] == "k2"
    assert store.search("docs", "zeta").total_hits == 1
    assert store.search("docs", "alpha").total_hits == 5
    with pytest.raises(KeyError):
        store.update_document("docs", 9999, {"text": "x"})
    with pytest.raises(KeyError):
        store.delete_documents("nope", ids=[1])
