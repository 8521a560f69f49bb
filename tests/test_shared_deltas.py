"""Shared delta dirs (catalog layout v5): a driver mutation writes its
postings delta and its signed term_stats delta as one file each, in one
``data/<table>/delta/v<N>`` dir chained into every bucket it holds rows
of. These tests pin the readers over chains that mix those shared dirs
with the Spark append path's per-bucket dirs, the file counts of a
commit, the row-group pruning of a large shared delta, and the
last-row-wins rule of a batch that repeats a document id."""

import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import urllib.request

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from bright_spark.fixtures import make_repos
from bright_spark.index import catalog as catalog_mod
from bright_spark.index import mutations
from bright_spark.index.builder import build_index
from bright_spark.index.catalog import (
    POSTINGS_ARROW,
    IndexCatalog,
    _covers_any,
    is_shared_dir,
    term_bucket,
    write_part,
)
from bright_spark.index.mutations import IndexMutator
from bright_spark.models import IndexConfig, SearchRequest
from bright_spark.query.engine import SearchEngine
from tests.oracle import OracleIndex
from tests.test_compaction import _entries, _index_meta, _term_stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["user", "parser AND config", "config NOT test", "pars*",
           '"user session"', "token2 OR session"]


def _assert_oracle(spark, idx, rows, queries=QUERIES):
    """Every query on ``idx`` equals the oracle over ``rows`` (rank,
    score and total), and the path taken is returned per query."""
    oracle = OracleIndex(list(rows.values()), id_col="rid")
    paths = set()
    for q in queries:
        exp, etotal = oracle.search(q, 10)
        resp = SearchEngine(spark, idx).search(SearchRequest(q=q, limit=10))
        hits = [(h["doc_id"], h["_score"]) for h in resp.hits]
        assert [d for d, _ in hits] == [d for d, _ in exp], (q, resp.path)
        for (_, gs), (_, es) in zip(hits, exp):
            assert gs == pytest.approx(es, abs=1e-9), (q, resp.path)
        assert resp.total_hits == etotal, (q, resp.path)
        paths.add(resp.path)
    return paths


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """An index whose chains mix Spark-append per-bucket delta dirs and
    driver shared delta dirs, with tombstones, never compacted; and the
    oracle's rows for it."""
    pdf = make_repos(60, 31)
    pdf["rid"] = range(len(pdf))
    idx = str(tmp_path_factory.mktemp("mixed") / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(id="mx", n_term_buckets=8), id_col="rid",
                n_build_partitions=4)
    rows = {int(r["rid"]): r for r in pdf.to_dict("records")}

    def upsert(batch, fast):
        if fast == "never":
            with pytest.MonkeyPatch.context() as mp:  # distributed_mutations
                mp.setattr(mutations, "FAST_THRESHOLD", 0)
                IndexMutator(spark, idx).upsert(
                    spark.createDataFrame(pd.DataFrame(batch)))
        else:
            IndexMutator(spark, idx).upsert_rows(batch)
        rows.update({r["rid"]: r for r in batch})

    def delete(ids):
        IndexMutator(spark, idx).delete_ids(ids)
        for i in ids:
            rows.pop(i)

    with pytest.MonkeyPatch.context() as mp:  # no_autocompact
        mp.setattr(mutations, "COMPACT_THRESHOLD", 0)
        upsert([{**rows[rid], "content": "def parse_user_session(config): "
                 "return user session"} for rid in (3, 17, 40)], "never")
        upsert([{**rows[0], "rid": 1000 + i, "path": f"src/new{i}.py",
                 "content": f"user session parser config token{i}"}
                for i in range(4)] + [{**rows[8], "content": "parser user"}],
               "auto")
        delete([5, 1001])
        upsert([{**rows[1], "rid": 2000, "path": "src/spark.py",
                 "content": "session token2 parser config"}], "never")
        delete([17, 33])
        upsert([{**rows[2], "rid": 1001, "path": "src/back.py",
                 "content": "user config token2 session back"}], "auto")
    return idx, rows


def test_mixed_chains_hold_both_kinds_of_dir(spark, mixed):
    idx, _ = mixed
    cat = IndexCatalog(idx)
    tables = cat.manifest()["tables"]
    for t in ("postings", "term_stats"):
        chains = [v for v in tables[t].values() if isinstance(v, list)]
        assert any(any(is_shared_dir(d) for d in c)
                   and any(not is_shared_dir(d) and "/b" in d
                           and not d.endswith("v00000001") for d in c)
                   for c in chains), t
    # a shared dir sits in several chains, but is listed once
    for dirs in (cat.postings_dirs(), cat.term_stats_dirs(),
                 cat.begin().postings_dirs()):
        assert len(dirs) == len(set(dirs))
        assert any(is_shared_dir(d) for d in dirs)
    shared = [d for d in cat.postings_dirs() if is_shared_dir(d)]
    rel = os.path.relpath(shared[0], idx)
    assert sum(rel in (v if isinstance(v, list) else [v])
               for v in tables["postings"].values()) > 1
    # each shared dir holds ONE file per commit
    assert all(len(glob.glob(os.path.join(d, "*.parquet"))) == 1
               for d in shared)
    # a bucket-restricted Spark read returns that bucket's rows only
    assert {r["bucket"] for r in cat.postings(
        spark, buckets=[2]).select("bucket").collect()} == {2}
    assert {r["bucket"] for r in cat.term_stats(
        spark, buckets=[5]).select("bucket").collect()} == {5}


def test_mixed_chains_search_equals_oracle_on_both_paths(spark, mixed,
                                                         monkeypatch):
    idx, rows = mixed
    assert "local" in _assert_oracle(spark, idx, rows)
    monkeypatch.setattr(catalog_mod, "LOCAL_READ_MAX_BYTES", 0)
    assert _assert_oracle(spark, idx, rows) == {"spark"}


def test_mixed_chains_compact_driver_equals_spark(spark, mixed, tmp_path,
                                                  monkeypatch):
    idx, rows = mixed
    sides = {m: str(tmp_path / m) for m in ("driver", "spark")}
    for mode, d in sides.items():
        shutil.copytree(idx, d)
        with monkeypatch.context() as mp:
            if mode == "spark":
                mp.setattr(catalog_mod, "LOCAL_READ_MAX_BYTES", 0)
            IndexMutator(spark, d).compact()
        m = IndexCatalog(d).manifest()
        assert m["metrics"]["mode"] == mode
        assert _no_shared_dirs(d)
    drv, spk = sides["driver"], sides["spark"]
    assert _entries(drv) == _entries(spk)
    assert _term_stats(drv) == _term_stats(spk)
    assert _index_meta(drv) == _index_meta(spk)
    assert (IndexCatalog(drv).load_meta() == IndexCatalog(spk).load_meta()
            == IndexCatalog(idx).load_meta())
    _assert_oracle(spark, drv, rows)


def _no_shared_dirs(idx):
    cat = IndexCatalog(idx)
    return not any(is_shared_dir(d) for t in ("postings", "term_stats")
                   for d in cat.part_dirs(t))


def test_rewrite_mode_over_mixed_chains(spark, mixed, tmp_path,
                                        rewrite_mutations, no_autocompact):
    """A rewrite-mode mutation that touches one bucket holding a shared
    delta dir rewrites every holder of one: no other bucket's chain keeps
    the dir, whose rows of the rewritten bucket are superseded."""
    idx, rows = mixed
    d = str(tmp_path / "rw")
    shutil.copytree(idx, d)
    rows = dict(rows)
    # one new doc of one term: one bucket is rewritten, the others keep
    # their chains
    batch = [{**rows[0], "rid": 5000, "path": "src/rw.py",
              "content": "user"}]
    IndexMutator(spark, d).upsert(spark.createDataFrame(pd.DataFrame(batch)))
    rows.update({r["rid"]: r for r in batch})
    m = IndexCatalog(d).manifest()
    assert m["metrics"]["mode"] == "rewrite"
    holders = IndexCatalog(idx).shared_holders("postings")
    assert m["metrics"]["buckets_rewritten"] == len(holders) > 1
    assert not any(is_shared_dir(p)
                   for p in IndexCatalog(d).postings_dirs())
    _assert_oracle(spark, d, rows)


def test_compaction_consolidates_every_shared_dir_holder(spark, tmp_path,
                                                         no_autocompact):
    """Without tombstones compaction targets the chained buckets; a
    bucket whose only pointer is a shared delta dir (it was empty
    before the upsert) is consolidated with them, so no chain keeps a
    dir whose rows of a compacted bucket are superseded."""
    rows = {0: {"rid": 0, "text": "alpha beta"}}
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(list(rows.values())), idx,
                IndexConfig(id="h", tokenizer="simple", n_term_buckets=64),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=1)
    words = " ".join(f"w{i}" for i in range(40))
    batch = [{"rid": 1, "text": f"alpha beta {words}"},
             {"rid": 2, "text": f"alpha w1 w3 {words}"}]
    IndexMutator(spark, idx).upsert_rows(batch)
    rows.update({r["rid"]: r for r in batch})
    cat = IndexCatalog(idx)
    tables = cat.manifest()["tables"]
    lone = [k for k, v in tables["postings"].items()
            if isinstance(v, str) and is_shared_dir(v)]
    assert lone and cat.tombstones() is None
    IndexMutator(spark, idx).compact()
    assert _no_shared_dirs(idx)
    oracle = OracleIndex(list(rows.values()), content_col="text",
                         id_col="rid", lang_col=None, mode="simple")
    for q in ["alpha w3", "beta w7 w11", "w1"]:
        exp, etotal = oracle.search(q, 10)
        resp = SearchEngine(spark, idx).search(SearchRequest(q=q, limit=10))
        got = [(h["doc_id"], h["_score"]) for h in resp.hits]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-9), q
        assert resp.total_hits == etotal, q


def test_compact_gate_counts_each_shared_file_once(spark, mixed, tmp_path):
    """The compaction's footer bytes are those of the distinct files of
    its target chains: a shared file is not counted once per bucket."""
    idx, _ = mixed
    d = str(tmp_path / "gate")
    shutil.copytree(idx, d)
    cat = IndexCatalog(d)

    def footer_bytes(table, dirs):
        schema = (POSTINGS_ARROW if table == "postings"
                  else catalog_mod.TERM_STATS_ARROW)
        return cat._footer_read(dirs, "term", None, schema).nbytes

    tables = cat.manifest()["tables"]
    schained = [int(k) for k, v in tables["term_stats"].items()
                if isinstance(v, list)]
    want = (footer_bytes("postings", cat.postings_dirs())
            + footer_bytes("term_stats", cat.term_stats_dirs(schained)))
    per_bucket = sum(footer_bytes("postings", cat.postings_dirs([b]))
                     for b in map(int, tables["postings"]))
    assert per_bucket > footer_bytes("postings", cat.postings_dirs())
    IndexMutator(spark, d).compact()
    assert IndexCatalog(d).manifest()["metrics"]["footer_bytes"] == want


def test_vacuum_reclaims_only_unreferenced_shared_dirs(spark, mixed,
                                                       tmp_path):
    idx, rows = mixed
    d = str(tmp_path / "vac")
    shutil.copytree(idx, d)
    cat = IndexCatalog(d)

    def shared_on_disk():
        return {os.path.relpath(p, d) for t in ("postings", "term_stats")
                for p in glob.glob(os.path.join(d, "data", t, "delta", "v*"))}

    live = {os.path.relpath(p, d) for t in ("postings", "term_stats")
            for p in cat.part_dirs(t) if is_shared_dir(p)}
    assert live and shared_on_disk() == live
    cat.vacuum(keep_last=1)  # every shared dir is live: none goes
    assert shared_on_disk() == live
    _assert_oracle(spark, d, rows, QUERIES[:2])
    IndexMutator(spark, d).compact()
    deleted = IndexCatalog(d).vacuum(keep_last=1)
    assert shared_on_disk() == set()
    assert {os.path.relpath(p, d) for p in deleted} >= live
    for t in ("postings", "term_stats"):
        assert not os.path.exists(os.path.join(d, "data", t, "delta"))
    _assert_oracle(spark, d, rows, QUERIES[:2])


def test_adopt_parts_from_disk_ignores_shared_dir(mixed, tmp_path):
    idx, _ = mixed
    d = str(tmp_path / "adopt")
    shutil.copytree(idx, d)
    pending = IndexCatalog(d).begin()
    vname = f"v{pending.snapshot_id:08d}"
    for name in ("b00001", "b00004", "delta"):
        os.makedirs(os.path.join(d, "data", "postings", name, vname))
    assert pending.adopt_parts_from_disk("postings") == {1, 4}
    assert not any(is_shared_dir(p) for p in pending.postings_dirs())


def test_snapshot_diff_lists_a_shared_dir_once(spark, tmp_path):
    rows = [{"rid": i, "text": f"alpha beta{i % 5} gamma{i}"}
            for i in range(40)]
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(id="d", tokenizer="simple", n_term_buckets=8),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    IndexMutator(spark, idx).upsert_rows(
        [{"rid": 0, "text": "diff_marker alpha common gamma0 beta3"}])
    cat = IndexCatalog(idx)
    d = cat.snapshot_diff(1, 2)
    shared = [p for p in d["changed"] if "/delta/" in p]
    assert sorted(shared) == ["data/postings/delta/v00000002",
                              "data/term_stats/delta/v00000002"]
    for v in d.values():
        assert len(v) == len(set(v))
    assert not any("/delta/" in p for p in d["unchanged"] + d["removed"])


# ------------------------------------------------------- files per commit


def test_driver_commits_name_their_files(spark, tmp_path):
    """A driver upsert against a 16-bucket index commits at most 5 files
    and a delete at most 4 (one file per doc group, postings delta,
    stats delta, tombstones and index_meta); every commit's
    ``files_written`` equals the parquet files of its new dirs, and
    ``admin.py snapshots`` prints it."""
    pdf = make_repos(120, 7)
    pdf["rid"] = range(len(pdf))
    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
    spark.createDataFrame(pdf).write.parquet(src)  # sized: driver build
    build_index(spark, spark.read.parquet(src), idx,
                IndexConfig(id="fw", n_term_buckets=16), id_col="rid",
                n_build_partitions=4)
    more = make_repos(20, 8)
    more["rid"] = [100 + i for i in range(20)]  # 10 replaced, 10 new
    IndexMutator(spark, idx).upsert_rows(more.to_dict("records"))
    IndexMutator(spark, idx).delete_ids([1, 2, 3, 104, 110])
    IndexMutator(spark, idx).compact()
    cat = IndexCatalog(idx)
    ms = cat.snapshots()
    assert [m["operation"] for m in ms] == ["build", "upsert", "delete",
                                           "compact"]
    for m in ms:
        vname = f"v{m['snapshot_id']:08d}"
        new = {d for d in catalog_mod._manifest_dirs(m["tables"])
               if os.path.basename(d) == vname}
        assert m["metrics"]["files_written"] == sum(
            len(glob.glob(os.path.join(idx, d, "*.parquet"))) for d in new)
    build, up, de, comp = (m["metrics"] for m in ms)
    assert build["mode"] == "driver" and comp["mode"] == "driver"
    assert up["mode"] == "append-fast" and de["mode"] == "append-fast"
    assert up["buckets_appended"] == 16
    assert up["files_written"] <= 5
    assert de["files_written"] <= 4
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "admin.py"),
         "snapshots", "--index-dir", idx],
        capture_output=True, text=True, check=True).stdout
    printed = [json.loads(line)["metrics"]["files_written"]
               for line in out.splitlines()]
    assert printed == [m["metrics"]["files_written"] for m in ms]


# ------------------------------------------------- large-delta pruning


def test_large_shared_delta_prunes_like_per_bucket_files(spark, tmp_path,
                                                         no_autocompact):
    """A ~10k-doc driver upsert writes one shared delta cut into row
    groups at term boundaries: a single-term lookup selects no more of
    its footer bytes than it would of the same batch's per-bucket file
    (one row group per bucket, the layout before shared dirs)."""
    # 10,050 docs of 300 Zipf-drawn words: a ~40 MB (uncompressed) delta
    rng = np.random.default_rng(9)
    words = np.array([f"w{i}" for i in range(20_000)])
    toks = words[np.minimum(rng.zipf(1.3, 10_050 * 300) - 1, 19_999)]
    rows = [{"rid": i, "lang": "en", "content": " ".join(t)}
            for i, t in enumerate(toks.reshape(10_050, 300))]
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(rows[:50]), idx,
                IndexConfig(id="pr", n_term_buckets=16), id_col="rid",
                n_build_partitions=4)
    IndexMutator(spark, idx).upsert_rows(rows[50:])
    cat = IndexCatalog(idx)
    assert cat.manifest()["metrics"]["mode"] == "append-fast"
    (delta,) = [d for d in cat.postings_dirs() if is_shared_dir(d)]
    tab = cat._footer_read([delta], "term", None, POSTINGS_ARROW).read()
    assert len(cat._row_group_stats(glob.glob(delta + "/*.parquet")[0],
                                    "term")) > 16
    # the same rows in the per-bucket layout
    per_bucket = {}
    for b in np.unique(tab["bucket"].to_numpy()).tolist():
        d = str(tmp_path / "pb" / f"b{b}")
        write_part(d, tab.filter(pc.equal(tab["bucket"], b)))
        per_bucket[b] = d
    schema = pa.schema([POSTINGS_ARROW.field(c) for c in
                        ("term", "field", "range_id", "first_doc", "n",
                         "docs", "tfs", "dls", "max_tf", "min_dl", "ver")])
    terms = pd.Series(tab["term"].to_pylist()).value_counts()
    picks = [terms.index[0], terms.index[len(terms) // 2], terms.index[-1]]
    n_buckets = cat.load_config().n_term_buckets
    for t in picks:
        shared = cat._footer_read([delta], "term", _covers_any([t]), schema)
        own = cat._footer_read([per_bucket[term_bucket(t, n_buckets)]],
                               "term", _covers_any([t]), schema)
        assert len(shared.parts[0][2]) == 1, t  # one row group
        assert 0 < shared.nbytes <= own.nbytes, t
    resp = SearchEngine(spark, idx).search(SearchRequest(q=picks[1],
                                                         limit=5))
    assert resp.total_hits > 0


# ------------------------------------------------ repeated ids, one batch


def _post(base, path, body):
    req = urllib.request.Request(
        base + path, method="POST", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req) as r:
        raw = r.read()
        return r.status, json.loads(raw) if raw else None


def test_repeated_ids_in_one_batch_keep_the_last_row(spark, tmp_path):
    """A batch that repeats a document id keeps its LAST row, through
    the REST documents route (the first batch, which builds, and a
    later one) and through ``upsert_rows`` alike: n_docs
    and every search equal the oracle over the last rows."""
    from bright_spark.api.server import make_server
    from bright_spark.index.store import IndexStore

    data = str(tmp_path / "data")
    store = IndexStore(spark, data)
    srv = make_server(store, 0)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        st, _ = _post(base, "/indexes", {"id": "dup", "primaryKey": "rid"})
        assert st == 201
        # the first batch (the build) repeats rid 4 too
        first = [{"rid": i, "content": f"alpha beta{i % 3} gamma{i}"}
                 for i in range(30)]
        first.append({"rid": 4, "content": "alpha gamma4 later"})
        st, _ = _post(base, "/indexes/dup/documents", first)
        assert st == 201
        rows = {r["rid"]: r for r in first}
        # rid 7 (existing) twice and rid 77 (new) twice, sharing terms
        batch = [{"rid": 7, "content": "gamma one replaced"},
                 {"rid": 77, "content": "gamma fresh first"},
                 {"rid": 7, "content": "gamma two replaced"},
                 {"rid": 77, "content": "gamma fresh second"}]
        st, _ = _post(base, "/indexes/dup/documents", batch)
        assert st == 201
        rows.update({r["rid"]: r for r in batch})
        idx = os.path.join(data, "dup")
        mut = IndexMutator(spark, idx)
        mut.upsert_rows([{"rid": 9, "content": "delta first"},
                         {"rid": 9, "content": "delta second"}])
        rows[9] = {"rid": 9, "content": "delta second"}
        for fast in ("auto", "never"):
            with pytest.MonkeyPatch.context() as mp:
                if fast == "never":  # distributed_mutations
                    mp.setattr(mutations, "FAST_THRESHOLD", 0)
                IndexMutator(spark, idx).upsert_rows(
                    [{"rid": 300, "content": f"epsilon {fast} one"},
                     {"rid": 300, "content": f"epsilon {fast} two"}])
            rows[300] = {"rid": 300, "content": f"epsilon {fast} two"}
            assert IndexCatalog(idx).manifest()["metrics"]["mode"] == (
                "append-fast" if fast == "auto" else "append")
        cat = IndexCatalog(idx)
        assert cat.load_meta()["n_docs"] == len(rows) == 32
        oracle = OracleIndex(list(rows.values()), id_col="rid",
                             lang_col=None)
        for q in ["gamma", "replaced", "fresh", "second", "first",
                  "delta", "epsilon", "never two", "one", "later",
                  "beta1"]:
            exp, etotal = oracle.search(q, 10)
            path = "/indexes/dup/searches?q=" + q.replace(" ", "+")
            st, res = _post(base, path + "&limit=10", {})
            assert st == 200
            got = [(int(h["doc_id"]), h["_score"]) for h in res["hits"]]
            assert [d for d, _ in got] == [d for d, _ in exp], q
            for (_, gs), (_, es) in zip(got, exp):
                assert gs == pytest.approx(es, abs=1e-9), q
            assert res["totalHits"] == etotal, q
    finally:
        srv.shutdown()
        srv.server_close()
        th.join(timeout=30)
