"""The store's write-through read cache (catalog.RowGroupCache owned by
IndexStore): an engine the store re-pins after a commit, the next
mutation's docs-group read and the auto-compaction read the files the
store wrote from memory; a commit that loses a race publishes nothing;
removing an index dir forgets its entries; the cache stays under its
byte cap while ingest answers equal the oracle.

A test that counts disk reads must use a bare catalog or a fresh store:
a store serves its own writes from memory."""

import json
import os
import threading
import urllib.request

import pyarrow.parquet as pq
import pytest

from bright_spark.api.server import make_server
from bright_spark.index import catalog
from bright_spark.index.catalog import (
    CommitConflictError,
    IndexCatalog,
    PendingSnapshot,
    RowGroupCache,
)
from bright_spark.index.mutations import IndexMutator
from bright_spark.index.store import IndexStore
from bright_spark.models import IndexConfig, SearchRequest
from tests.oracle import OracleIndex

WORDS = ["parse", "config", "user", "session", "token", "buffer", "query",
         "stream", "record", "handler"]


def _doc(i: int, tag: str = "") -> dict:
    body = " ".join(WORDS[(i * k) % len(WORDS)] for k in range(1, 6))
    return {"rid": i, "content": f"{body} w{i % 13} {tag}".strip()}


@pytest.fixture()
def disk_reads(monkeypatch):
    """Every pyarrow parquet read (footer, schema, table, row groups)
    made while the test runs, as (reader, path)."""
    got = []

    def counted(name, fn):
        def wrapper(source, *a, **k):
            got.append((name, str(source)))
            return fn(source, *a, **k)
        return wrapper
    for name in ("read_table", "read_metadata", "read_schema"):
        monkeypatch.setattr(pq, name, counted(name, getattr(pq, name)))
    init = pq.ParquetFile.__init__

    def pf_init(self, source, *a, **k):
        self._counted_source = str(source)
        init(self, source, *a, **k)
    monkeypatch.setattr(pq.ParquetFile, "__init__", pf_init)
    for name in ("read_row_groups", "read"):
        fn = getattr(pq.ParquetFile, name)

        def method(self, *a, _fn=fn, _name=name, **k):
            got.append((_name, getattr(self, "_counted_source", "?")))
            return _fn(self, *a, **k)
        monkeypatch.setattr(pq.ParquetFile, name, method)
    return got


def _call(base, method, path, body=None):
    req = urllib.request.Request(
        base + path, method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req) as r:
        raw = r.read()
        if r.headers.get("Content-Type", "").startswith("text/plain"):
            return r.status, raw.decode()
        return r.status, json.loads(raw) if raw else None


@pytest.fixture()
def api(spark, tmp_path):
    store = IndexStore(spark, str(tmp_path / "data"))
    srv = make_server(store, 0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield store, f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def _new_index(store, idx_id="c", n=60):
    store.create_index(IndexConfig(id=idx_id, primary_key="rid"))
    store.add_document_rows(idx_id, [_doc(i) for i in range(n)])
    assert IndexCatalog(store._index_dir(idx_id)).manifest()[
        "metrics"]["mode"] == "driver"


def test_repinned_engine_reads_no_parquet(api, disk_reads):
    """After a REST upsert the store re-pins its engine; the marker
    search it answers reads nothing from disk: every file it needs is
    one the store wrote (the driver build, the upsert's deltas and
    tombstones)."""
    store, base = api
    assert _call(base, "POST", "/indexes",
                 {"id": "c", "primaryKey": "rid"})[0] == 201
    assert _call(base, "POST", "/indexes/c/documents",
                 [_doc(i) for i in range(60)])[0] == 201
    assert _call(base, "POST", "/indexes/c/searches?q=user")[0] == 200
    old = store._engines["c"].snapshot_id
    batch = [_doc(i, "mk0") for i in range(50, 70)]
    assert _call(base, "POST", "/indexes/c/documents", batch)[0] == 201
    del disk_reads[:]
    st, body = _call(base, "POST", "/indexes/c/searches?q=mk0&limit=100")
    assert st == 200 and body["totalHits"] == 20
    assert {h["doc_id"] for h in body["hits"]} == set(range(50, 70))
    assert store._engines["c"].snapshot_id > old
    assert disk_reads == []
    # the metrics scrape reports the cache
    st, text = _call(base, "GET", "/metrics")
    vals = {ln.split()[0]: float(ln.split()[1]) for ln in text.splitlines()
            if ln.startswith("bright_spark_read_cache_")}
    assert vals["bright_spark_read_cache_hits_total"] > 0
    assert "bright_spark_read_cache_misses_total" in vals
    assert 0 < vals["bright_spark_read_cache_bytes"] \
        <= catalog.LOCAL_READ_MAX_BYTES


def test_mutations_and_compaction_read_no_parquet(spark, tmp_path,
                                                  disk_reads):
    """Upserts (their docs-group, schema and tombstone reads), deletes
    and the auto-compaction they trigger read only what the store wrote,
    so they do no parquet read at all; the answers stay the oracle's."""
    store = IndexStore(spark, str(tmp_path / "data"))
    _new_index(store)
    rows = {i: _doc(i) for i in range(60)}
    del disk_reads[:]
    nxt, c = 60, 0
    idx = store._index_dir("c")
    while not any(s["operation"] == "compact"
                  for s in IndexCatalog(idx).snapshots()):
        batch = [_doc(i, f"mk{c}") for i in range(c * 4, c * 4 + 4)]
        batch += [_doc(i, f"mk{c}") for i in range(nxt, nxt + 4)]
        nxt += 4
        store.add_document_rows("c", batch)
        rows.update({d["rid"]: d for d in batch})
        gone = [batch[-1]["rid"], c * 4]
        store.delete_documents("c", ids=gone)
        for i in gone:
            rows.pop(i)
        c += 1
        assert c < 20, "no auto-compaction"
    assert disk_reads == []
    assert IndexCatalog(idx).manifest()["metrics"]["mode"] == "driver"
    oracle = OracleIndex(list(rows.values()), id_col="rid")
    for q in ("user", f"mk{c - 1}", "parse AND w3"):
        resp = store.search("c", SearchRequest(q=q, limit=10))
        exp, total = oracle.search(q, 10)
        assert [(h["doc_id"], pytest.approx(h["_score"], abs=1e-9))
                for h in resp.hits] == exp, q
        assert resp.total_hits == total, q
    assert disk_reads == []


def test_losing_commit_publishes_nothing(spark, tmp_path, monkeypatch):
    """A store upsert whose commit loses the race to an out-of-band
    writer of the same parent raises CommitConflictError and publishes
    nothing: reads at the shared v<N> paths return the winner's rows
    (which the winner wrote over the loser's files), not the loser's
    staged ones."""
    store = IndexStore(spark, str(tmp_path / "data"))
    _new_index(store)
    idx = store._index_dir("c")
    assert store.search("c", "user").total_hits > 0  # warm the cache
    commit = PendingSnapshot.commit
    raced = []

    def racing_commit(self, *a, **k):
        if not raced:
            raced.append(self.snapshot_id)
            # same parent, same v<N> dirs; no cache of its own
            IndexMutator(spark, idx).upsert_rows(
                [_doc(i, "winner") for i in range(10, 15)])
        return commit(self, *a, **k)
    monkeypatch.setattr(PendingSnapshot, "commit", racing_commit)
    with pytest.raises(CommitConflictError):
        store.add_document_rows("c", [_doc(i, "loser") for i in range(10, 15)])
    monkeypatch.undo()

    cat = IndexCatalog(idx)
    assert cat.current_snapshot_id() == raced[0]
    assert store.search("c", "loser").total_hits == 0
    resp = store.search("c", SearchRequest(q="winner", limit=10))
    assert sorted(h["doc_id"] for h in resp.hits) == list(range(10, 15))
    recs = store.get_index("c")[0].doc_records(spark, list(range(10, 15)))
    assert all(r["content"].endswith("winner") for r in recs.values())


@pytest.mark.parametrize("build", ["driver", "spark"])
def test_recreated_index_serves_only_new_docs(api, spark, monkeypatch,
                                              build):
    """delete_index then create_index with the same id: the new build
    writes the same dirs (a driver build the same files), and search,
    GET and document reads see only the new docs."""
    store, base = api
    _new_index(store, "r", 40)
    assert store.search("r", "user").total_hits > 0
    assert store.get_index("r")[0].doc_records(spark, [3])[3]["content"] \
        == _doc(3)["content"]
    assert _call(base, "DELETE", "/indexes/r")[0] == 204
    assert _call(base, "POST", "/indexes",
                 {"id": "r", "primaryKey": "nid"})[0] == 201
    fresh = [{"nid": i, "content": f"banana split {i}"} for i in range(40)]
    if build == "spark":
        monkeypatch.setattr(catalog, "LOCAL_BUILD_MAX_BYTES", 0)
    assert _call(base, "POST", "/indexes/r/documents", fresh)[0] == 201
    assert IndexCatalog(store._index_dir("r")).manifest()[
        "metrics"]["mode"] == build
    for q in ("user", "parse", "config"):
        st, body = _call(base, "POST", f"/indexes/r/searches?q={q}")
        assert (st, body["totalHits"]) == (200, 0), q
    st, body = _call(base, "POST", "/indexes/r/searches?q=banana&limit=50")
    assert body["totalHits"] == 40
    assert {h["content"] for h in body["hits"]} == {d["content"]
                                                    for d in fresh}
    st, cfg = _call(base, "GET", "/indexes/r")
    assert (st, cfg["primaryKey"]) == (200, "nid")
    recs = store.get_index("r")[0].doc_records(spark, [3, 7])
    assert [recs[i]["content"] for i in (3, 7)] == ["banana split 3",
                                                    "banana split 7"]


def test_cache_stays_under_a_small_cap(spark, tmp_path, monkeypatch):
    """With the cap monkeypatched small (a handful of row groups) the
    cache evicts on every commit: its bytes never pass the cap, and the
    ingest answers still equal the oracle."""
    cap = 64 << 10
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", cap)
    stored = []
    insert = RowGroupCache._insert
    monkeypatch.setattr(RowGroupCache, "_insert",
                        lambda self, key, value, size: (
                            stored.append(size),
                            insert(self, key, value, size)))
    store = IndexStore(spark, str(tmp_path / "data"))
    _new_index(store)
    rows = {i: _doc(i) for i in range(60)}
    paths = set()
    for c in range(10):
        batch = [_doc(i, f"mk{c}") for i in range(c * 3, c * 3 + 3)]
        batch += [_doc(i, f"mk{c}") for i in range(100 + c * 3,
                                                    103 + c * 3)]
        store.add_document_rows("c", batch)
        rows.update({d["rid"]: d for d in batch})
        assert 0 < store.cache.nbytes <= cap
        oracle = OracleIndex(list(rows.values()), id_col="rid")
        for q in (f"mk{c}", "user session", "w5"):
            resp = store.search("c", SearchRequest(q=q, limit=10))
            paths.add(resp.path)
            exp, total = oracle.search(q, 10)
            assert [(h["doc_id"], pytest.approx(h["_score"], abs=1e-9))
                    for h in resp.hits] == exp, (c, q)
            assert resp.total_hits == total, (c, q)
            assert 0 < store.cache.nbytes <= cap
        store.delete_documents("c", ids=[100 + c * 3])
        rows.pop(100 + c * 3)
        assert store.cache.nbytes <= cap
    assert "local" in paths
    assert sum(stored) > 4 * cap  # it did evict
    assert any(s["operation"] == "compact" for s in
               IndexCatalog(store._index_dir("c")).snapshots())


def test_drop_forgets_one_index_dir(tmp_path):
    """drop(dir) removes the entries of that dir and the files under
    it, not those of a sibling whose name extends it, and refuses a
    value loaded before the drop."""
    cache = RowGroupCache()
    a, b = str(tmp_path / "idx"), str(tmp_path / "idx2")
    for d in (a, b):
        cache.keep((f"{d}/data/v1", "files"), [f"{d}/data/v1/p.parquet"],
                   10)
        cache.keep((f"{d}/data/v1/p.parquet", "footer"), object(), 10)
    cache.mark()  # a load starts, then the dir is dropped
    cache.drop(a)
    assert cache.get((f"{a}/data/v1", "files")) is None
    assert cache.get((f"{a}/data/v1/p.parquet", "footer")) is None
    assert cache.get((f"{b}/data/v1", "files")) is not None
    assert cache.nbytes == 20
    cache.keep((f"{a}/data/v1", "files"), ["stale"], 10)
    assert cache.get((f"{a}/data/v1", "files")) is None
    cache.mark()
    cache.keep((f"{a}/data/v1", "files"), ["fresh"], 10)
    assert cache.get((f"{a}/data/v1", "files")) == ["fresh"]


def test_commits_evict_superseded_dirs(spark, tmp_path):
    """Each commit drops the entries of the dirs it superseded (old
    docs groups, compacted chains, replaced tombstones and meta): after
    a store ingest that auto-compacts, every resident entry of the
    index lies under a dir the live manifest references."""
    store = IndexStore(spark, str(tmp_path / "data"))
    _new_index(store)
    idx = store._index_dir("c")
    c = 0
    while not any(s["operation"] == "compact"
                  for s in IndexCatalog(idx).snapshots()):
        store.add_document_rows("c", [_doc(i, f"mk{c}")
                                      for i in range(c * 4, c * 4 + 4)])
        store.delete_documents("c", ids=[c * 4])
        assert store.search("c", f"mk{c}").total_hits == 3
        c += 1
        assert c < 20, "no auto-compaction"
    live = [os.path.join(idx, d, "") for d in
            catalog._manifest_dirs(IndexCatalog(idx).manifest()["tables"])]
    resident = {key[0] for key in store.cache._items}
    assert resident and all(p.startswith(idx) for p in resident)
    stray = [p for p in resident
             if not any(os.path.join(p, "").startswith(d) for d in live)]
    assert stray == []
