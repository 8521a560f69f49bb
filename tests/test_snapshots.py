"""Snapshot-manifest protocol (catalog.py layout v3): atomic commits,
reader pinning, copy-on-write bucket sharing, time travel, vacuum.

The scale claim under test: at 10^12 docs a mutation rewrites a
handful of bucket dirs out of hundreds; the commit must be one pointer
flip (no window where readers see half-rewritten tables), concurrent
readers must keep a consistent view for their whole query, and expired
versions must be reclaimable without touching live data. This is the
Iceberg snapshot/expire contract rebuilt on plain parquet (the
reference gets the equivalent from Bleve's immutable scorch segments,
store/store.go:392-426 — but only per segment file, not across its
docs/stats side state).
"""

import os

import pytest
from pyspark.sql import functions as F

from bright_spark.index import catalog
from bright_spark.index.builder import build_index
from bright_spark.index.catalog import IndexCatalog
from bright_spark.index.mutations import IndexMutator
from bright_spark.models import IndexConfig
from bright_spark.query.engine import SearchEngine


def _rows(n, start=0, tag="alpha"):
    return [{"rid": i, "text": f"{tag} common tok{i % 7}",
             "kind": f"k{i % 3}"} for i in range(start, start + n)]


@pytest.fixture(scope="module")
def snap_idx(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("snap") / "idx")
    build_index(spark, spark.createDataFrame(_rows(60)), idx,
                IndexConfig(id="s", tokenizer="simple", n_term_buckets=8),
                content_col="text", id_col="rid", lang_col=None,
                attr_cols=("kind",), n_build_partitions=2)
    return idx


def test_commit_is_single_pointer_flip(spark, snap_idx):
    cat = IndexCatalog(snap_idx)
    assert cat.current_snapshot_id() == 1
    m = cat.manifest()
    assert m["operation"] == "build" and m["parent_id"] is None
    # every table pointer resolves to an immutable version dir on disk
    assert cat.docs_dirs()
    for d in cat.docs_dirs() + cat.postings_dirs() + cat.term_stats_dirs():
        assert os.path.isdir(d) and "v00000001" in d


def test_mutation_shares_untouched_bucket_dirs(spark, snap_idx):
    cat = IndexCatalog(snap_idx)
    before = dict(cat.manifest()["tables"]["postings"])
    # one tiny upsert touches only the buckets of its own terms
    IndexMutator(spark, snap_idx).upsert(spark.createDataFrame(
        [{"rid": 0, "text": "zeta_marker common", "kind": "k0"}]))
    cat2 = IndexCatalog(snap_idx)
    after = cat2.manifest()["tables"]["postings"]
    shared = {b for b in before if after.get(b) == before[b]}
    changed = {b for b in before if b in after and after[b] != before[b]}
    # copy-on-write: some buckets re-versioned, the rest POINTER-shared
    # (identical relative dirs, no data copy)
    assert changed and shared, (before, after)
    for b in shared:
        assert os.path.isdir(os.path.join(snap_idx, after[b]))


def test_crash_before_commit_leaves_old_snapshot_intact(
        spark, snap_idx, monkeypatch):
    """Kill the writer after the docs + bucket version dirs are written
    but BEFORE the manifest commit: readers must see the old snapshot,
    bit-for-bit, and a subsequent mutation must succeed normally."""
    from bright_spark.index import builder as builder_mod

    cat = IndexCatalog(snap_idx)
    sid = cat.current_snapshot_id()
    baseline = {r["doc_id"] for r in
                SearchEngine(spark, snap_idx).search_df("common", k=100)
                .collect()}

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(builder_mod.IndexBuilder, "mutate_stats", boom)
    with pytest.raises(RuntimeError, match="injected"):
        # fast="never": this test injects into the DISTRIBUTED write
        # sequence (the fast path's crash atomicity is pinned in
        # test_fastpath.py)
        IndexMutator(spark, snap_idx, fast="never").upsert(
            spark.createDataFrame(
                [{"rid": 1, "text": "orphan_term common", "kind": "k1"}]))
    monkeypatch.undo()

    cat2 = IndexCatalog(snap_idx)
    assert cat2.current_snapshot_id() == sid  # CURRENT never moved
    eng = SearchEngine(spark, snap_idx)
    got = {r["doc_id"] for r in eng.search_df("common", k=100).collect()}
    assert got == baseline
    assert eng.search_df("orphan_term", k=5).collect() == []
    # the engine recovers fully: the same mutation now commits fine
    IndexMutator(spark, snap_idx).upsert(spark.createDataFrame(
        [{"rid": 1, "text": "orphan_term common", "kind": "k1"}]))
    assert len(SearchEngine(spark, snap_idx)
               .search_df("orphan_term", k=5).collect()) == 1


def test_pinned_reader_survives_concurrent_mutation(spark, snap_idx):
    """A long-running reader opened before a delete keeps scoring the
    pre-delete corpus (stable totals mid-query), while a fresh engine
    sees the new snapshot."""
    old = SearchEngine(spark, snap_idx)
    n_before = old.meta["n_docs"]
    victims = [r["doc_id"] for r in
               old.search_df("common", k=3).collect()]
    IndexMutator(spark, snap_idx).delete_ids(victims[:2])
    fresh = SearchEngine(spark, snap_idx)
    assert fresh.meta["n_docs"] == n_before - 2
    # pinned engine: unchanged result set, deleted docs still visible
    still = {r["doc_id"] for r in old.search_df("common", k=200).collect()}
    assert set(victims[:2]) <= still
    now = {r["doc_id"] for r in fresh.search_df("common", k=200).collect()}
    assert not (set(victims[:2]) & now)


def test_time_travel_and_vacuum(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("tt") / "idx")
    build_index(spark, spark.createDataFrame(_rows(30)), idx,
                IndexConfig(id="tt", tokenizer="simple", n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    IndexMutator(spark, idx).upsert(
        spark.createDataFrame(_rows(10, start=30, tag="beta")))
    IndexMutator(spark, idx).delete_ids([0, 1, 2])

    cat = IndexCatalog(idx)
    ops = [(m["snapshot_id"], m["operation"]) for m in cat.snapshots()]
    assert ops == [(1, "build"), (2, "upsert"), (3, "delete")]
    # time travel: each snapshot reports its own corpus
    assert SearchEngine(spark, idx, snapshot_id=1).meta["n_docs"] == 30
    assert SearchEngine(spark, idx, snapshot_id=2).meta["n_docs"] == 40
    assert SearchEngine(spark, idx).meta["n_docs"] == 37

    deleted = cat.vacuum(keep_last=1)
    assert deleted  # snapshot-1/2-only version dirs reclaimed
    assert [m["snapshot_id"] for m in cat.snapshots()] == [3]
    # live snapshot untouched by vacuum
    eng = SearchEngine(spark, idx)
    assert eng.meta["n_docs"] == 37
    assert len(eng.search_df("beta", k=50).collect()) == 10
    # expired snapshots are gone for real
    with pytest.raises(FileNotFoundError):
        SearchEngine(spark, idx, snapshot_id=1)
    # every surviving version dir is referenced by the live manifest
    live_refs = set()
    for v in cat.manifest()["tables"].values():
        if isinstance(v, dict):
            for vv in v.values():  # str or delta chain
                live_refs.update([vv] if isinstance(vv, str) else vv)
        else:
            live_refs.add(v)
    on_disk = set()
    data = os.path.join(idx, "data")
    for root, dirs, _ in os.walk(data):
        for d in dirs:
            if d.startswith("v"):
                on_disk.add(os.path.relpath(os.path.join(root, d), idx))
        dirs[:] = [d for d in dirs if not d.startswith("v")]
    assert on_disk == live_refs


def test_docs_join_mutation_equivalence_after_snapshots(spark, snap_idx):
    """End state equals the docs table: every doc_id the index scores
    exists exactly once in the committed docs version dir."""
    cat = IndexCatalog(snap_idx)
    docs = cat.docs(spark)
    n = docs.count()
    assert docs.select("doc_id").distinct().count() == n
    assert cat.load_meta()["n_docs"] == n


def test_concurrent_commit_conflict_detected(spark, tmp_path_factory):
    """Two writers racing from the same parent: the second commit must
    fail loudly (optimistic concurrency), never silently clobber."""
    from bright_spark.index.catalog import CommitConflictError

    idx = str(tmp_path_factory.mktemp("cc") / "idx")
    build_index(spark, spark.createDataFrame(_rows(10)), idx,
                IndexConfig(id="cc", tokenizer="simple", n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    cat = IndexCatalog(idx)
    meta = cat.load_meta()
    p1, p2 = cat.begin(), cat.begin()
    p1.commit(meta, "upsert")
    with pytest.raises(CommitConflictError):
        p2.commit(meta, "upsert")
    # winner's snapshot is live and intact
    assert cat.current_snapshot_id() == p1.snapshot_id


def test_manifest_lineage_metrics(spark, snap_idx):
    """Every commit records operation metrics in its manifest (the
    per-commit analog of the build checkpoints' lineage rows)."""
    cat = IndexCatalog(snap_idx)
    ms = cat.snapshots()
    build = next(m for m in ms if m["operation"] == "build")
    assert build["metrics"]["n_docs"] == 60
    assert build["metrics"]["buckets_written"] >= 1
    mut = [m for m in ms if m["operation"] in ("upsert", "delete")]
    assert mut and all("buckets_rewritten" in m["metrics"]
                       or "buckets_appended" in m["metrics"] for m in mut)
    assert all(m["metrics"].get("n_changed", 0) >= 1 for m in mut)


@pytest.mark.parametrize("crash_point", ["postings_write", "stats", "commit"])
def test_crash_at_every_write_stage_is_atomic(spark, tmp_path_factory,
                                              monkeypatch, crash_point):
    """Inject a crash at EACH stage of the mutation write sequence:
    whatever the stage, the old snapshot must stay live and intact and
    a retry must commit cleanly (there is no partially-visible state
    to repair — version dirs are invisible until CURRENT flips)."""
    from bright_spark.index import builder as builder_mod
    from bright_spark.index import catalog as catalog_mod
    from bright_spark.index import mutations as mutations_mod

    idx = str(tmp_path_factory.mktemp(f"crash_{crash_point}") / "idx")
    build_index(spark, spark.createDataFrame(_rows(40)), idx,
                IndexConfig(id="x", tokenizer="simple", n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    sid = IndexCatalog(idx).current_snapshot_id()
    baseline = {r["doc_id"] for r in
                SearchEngine(spark, idx).search_df("common", k=100).collect()}

    def boom(*a, **k):
        raise RuntimeError("injected")

    targets = {
        # mutations call stage_postings_write via their own import
        "postings_write": (mutations_mod, "stage_postings_write"),
        "stats": (builder_mod.IndexBuilder, "mutate_stats"),
        "commit": (catalog_mod.PendingSnapshot, "commit"),
    }
    obj, name = targets[crash_point]
    monkeypatch.setattr(obj, name, boom)
    with pytest.raises(RuntimeError, match="injected"):
        # fast="never": the injected functions are the distributed
        # stages; the fast path's crash points live in test_fastpath.py
        IndexMutator(spark, idx, fast="never").upsert(spark.createDataFrame(
            [{"rid": 0, "text": f"crash_{crash_point} common"}]))
    monkeypatch.undo()

    assert IndexCatalog(idx).current_snapshot_id() == sid
    eng = SearchEngine(spark, idx)
    got = {r["doc_id"] for r in eng.search_df("common", k=100).collect()}
    assert got == baseline
    # retry commits cleanly on top of the intact snapshot
    IndexMutator(spark, idx).upsert(spark.createDataFrame(
        [{"rid": 0, "text": f"crash_{crash_point} common"}]))
    eng2 = SearchEngine(spark, idx)
    assert len(eng2.search_df(f"crash_{crash_point}", k=5).collect()) == 1
    assert eng2.meta["n_docs"] == 40


def test_snapshot_diff_is_the_replication_unit(spark, tmp_path_factory):
    """snapshot_diff between consecutive commits lists exactly the
    re-versioned dirs — a follower syncs those and nothing else."""
    idx = str(tmp_path_factory.mktemp("diff") / "idx")
    build_index(spark, spark.createDataFrame(_rows(40)), idx,
                IndexConfig(id="d", tokenizer="simple", n_term_buckets=8),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    IndexMutator(spark, idx).upsert(spark.createDataFrame(
        [{"rid": 0, "text": "diff_marker common"}]))
    cat = IndexCatalog(idx)
    d = cat.snapshot_diff(1, 2)
    # the touched docs group + appended buckets re-version; the
    # tombstone table appears (the upsert replaced rid 0); everything
    # else is unchanged
    assert any("data/docs/" in p for p in d["changed"])
    changed_buckets = [p for p in d["changed"] if "postings" in p]
    unchanged_buckets = [p for p in d["unchanged"] if "postings" in p]
    assert changed_buckets and unchanged_buckets
    assert d["added"] == ["data/tombstones/v00000002"]
    # the only dirs the new snapshot dropped are the rewritten docs
    # groups' + index_meta's old versions (postings/term_stats only
    # ever GREW delta dirs)
    assert d["removed"] and all(
        p.startswith(("data/docs/", "data/index_meta/"))
        for p in d["removed"])
    # the diff'd dirs all exist and total far less than the index
    for p in d["changed"]:
        assert os.path.isdir(os.path.join(idx, p))


def test_vacuum_pinned_reader_contract(spark, tmp_path_factory):
    """Iceberg expire_snapshots semantics, pinned explicitly: a reader
    pinned inside the retention window keeps working across vacuum; a
    reader whose snapshot expired gets the NAMED error on its next
    catalog access (not a latent missing-parquet failure), and pin()
    refuses expired ids up front."""
    from bright_spark.index.catalog import SnapshotExpiredError
    idx = str(tmp_path_factory.mktemp("vp") / "idx")
    build_index(spark, spark.createDataFrame(_rows(20)), idx,
                IndexConfig(id="vp", tokenizer="simple", n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    IndexMutator(spark, idx).upsert(
        spark.createDataFrame(_rows(5, start=20, tag="beta")))
    IndexMutator(spark, idx).delete_ids([0])

    pinned_old = SearchEngine(spark, idx, snapshot_id=1)   # will expire
    pinned_live = SearchEngine(spark, idx, snapshot_id=2)  # retained
    assert pinned_old.search_df("common", k=5).collect()

    IndexCatalog(idx).vacuum(keep_last=2)  # retains snapshots 2, 3

    # retained pinned reader unaffected
    assert pinned_live.catalog.manifest()["snapshot_id"] == 2
    assert pinned_live.search_df("beta", k=50).count() == 5
    # expired pinned reader: named error on next access
    with pytest.raises(SnapshotExpiredError):
        pinned_old.catalog.manifest()
    with pytest.raises(SnapshotExpiredError):
        pinned_old.catalog.postings_dirs()
    # pin() refuses an expired id up front, with the named error
    with pytest.raises(SnapshotExpiredError):
        IndexCatalog(idx).pin(1)
    with pytest.raises(SnapshotExpiredError):
        SearchEngine(spark, idx, snapshot_id=1)
    # live reads unaffected
    assert SearchEngine(spark, idx).meta["n_docs"] == 24


def test_commit_claim_is_atomic(spark, tmp_path_factory):
    """Two writers racing from the same parent: the second committer of
    the same snapshot id must get CommitConflictError even when its
    parent check passed BEFORE the winner flipped CURRENT (the
    check-then-act window) — the manifest hard-link claim closes it.
    A crashed writer's orphan claim (manifest linked, CURRENT never
    flipped) must NOT wedge later commits."""
    from bright_spark.index.catalog import CommitConflictError
    idx = str(tmp_path_factory.mktemp("cc") / "idx")
    build_index(spark, spark.createDataFrame(_rows(10)), idx,
                IndexConfig(id="cc", tokenizer="simple", n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    cat = IndexCatalog(idx)
    a = cat.begin()
    b = IndexCatalog(idx).begin()   # same parent, both pass the check
    meta = cat.load_meta()
    a.commit(meta, "upsert")        # winner
    with pytest.raises(CommitConflictError):
        b.commit(meta, "upsert")    # loser: claim already taken
    assert cat.current_snapshot_id() == 2

    # orphan claim: manifest exists for id 3 but CURRENT still says 2.
    # A new committer must NOT guess (a pre-flip winner is
    # indistinguishable from a crashed writer) — it conflicts, and
    # vacuum (operator-run, no writers active) reclaims the orphan so
    # the id becomes claimable again
    import json as _json
    orphan = os.path.join(idx, "snapshots", "s00000003.json")
    with open(orphan, "w") as f:
        _json.dump({"snapshot_id": 3, "stale": True}, f)
    c = IndexCatalog(idx).begin()
    assert c.snapshot_id == 3
    with pytest.raises(CommitConflictError):
        c.commit(meta, "upsert")
    IndexCatalog(idx).vacuum(keep_last=2)
    assert not os.path.exists(orphan)
    c2 = IndexCatalog(idx).begin()
    c2.commit(meta, "upsert")       # claim free again, no wedge
    m = IndexCatalog(idx).manifest()
    assert m["snapshot_id"] == 3 and "stale" not in m


def test_mutation_is_o_change_not_o_corpus(spark, tmp_path_factory):
    """The v4 rewrite-mode scale contract: a small upsert re-versions
    only the doc groups its ids land in and only the term buckets its
    terms hash to — every other docs group, postings bucket AND
    term_stats bucket keeps its parent pointer (identical relative
    dir, zero data copy, never listed)."""
    idx = str(tmp_path_factory.mktemp("ochange") / "idx")
    # docs_range_bits=4 -> 16-doc groups: 120 docs span 8 groups
    build_index(spark, spark.createDataFrame(_rows(120)), idx,
                IndexConfig(id="oc", tokenizer="simple", n_term_buckets=8,
                            docs_range_bits=4),
                content_col="text", id_col="rid", lang_col=None,
                attr_cols=("kind",), n_build_partitions=4)
    before = IndexCatalog(idx).manifest()["tables"]
    assert len(before["docs"]) == 8

    # one-doc upsert into group 2 (rid 37), one unique term
    IndexMutator(spark, idx, mode="rewrite").upsert(spark.createDataFrame(
        [{"rid": 37, "text": "ochange_marker common", "kind": "k1"}]))
    after = IndexCatalog(idx).manifest()["tables"]

    # docs: exactly one group re-versioned
    changed_groups = {g for g in before["docs"]
                      if after["docs"].get(g) != before["docs"][g]}
    assert changed_groups == {str(37 >> 4)}
    for g in set(before["docs"]) - changed_groups:
        assert after["docs"][g] == before["docs"][g]

    # postings: touched buckets re-versioned, the rest pointer-shared;
    # term_stats appends delta rows only into touched-term buckets
    p_changed = {b for b in before["postings"]
                 if after["postings"].get(b) != before["postings"][b]}
    ts_changed = {b for b in before["term_stats"]
                  if after["term_stats"].get(b) != before["term_stats"][b]}
    assert p_changed and set(before["postings"]) - p_changed
    assert ts_changed and set(before["term_stats"]) - ts_changed
    m = IndexCatalog(idx).manifest()
    assert m["metrics"]["docs_groups_rewritten"] == 1
    assert m["metrics"]["mode"] == "rewrite"

    # delete every doc of group 0 -> its pointer drops entirely
    IndexMutator(spark, idx, mode="rewrite").delete_ids(list(range(16)))
    t3 = IndexCatalog(idx).manifest()["tables"]
    assert "0" not in t3["docs"]
    assert len(t3["docs"]) == 7  # the other 7 groups intact
    eng = SearchEngine(spark, idx)
    assert eng.meta["n_docs"] == 104  # 120 (upsert replaced) - 16
    assert eng.search_df("ochange_marker", k=5).count() == 1


@pytest.mark.parametrize("fast,expect_mode,compact_mode", [
    pytest.param("never", "append", "driver", id="never-append"),
    pytest.param("auto", "append-fast", "driver", id="auto-append-fast"),
    pytest.param("never", "append", "spark", id="never-append-spark"),
    pytest.param("auto", "append-fast", "spark",
                 id="auto-append-fast-spark"),
])
def test_append_mutation_is_o_batch(spark, tmp_path_factory, monkeypatch,
                                    fast, expect_mode, compact_mode):
    """The append-mode (default) scale contract — scorch's segment
    model (store/store.go:392-426): an upsert touches NO existing
    postings at all. Every base bucket dir stays pointer-identical;
    the new batch lands as small DELTA dirs appended to its buckets'
    chains; replaced ids are tombstoned; queries mask dead entries;
    compact() consolidates chains, physically drops dead entries and
    clears the tombstones — with identical query results throughout.
    Both the distributed stages and the driver-side fast path must
    honor the same contract, and so must compaction on the driver
    (the default read budget) and on Spark (a zero budget)."""
    idx = str(tmp_path_factory.mktemp(f"appendmut{fast}") / "idx")
    build_index(spark, spark.createDataFrame(_rows(120)), idx,
                IndexConfig(id="ap", tokenizer="simple", n_term_buckets=8,
                            docs_range_bits=4),
                content_col="text", id_col="rid", lang_col=None,
                attr_cols=("kind",), n_build_partitions=4)
    before = IndexCatalog(idx).manifest()["tables"]

    mut = IndexMutator(spark, idx, fast=fast)  # auto -> append
    mut.upsert(spark.createDataFrame(
        [{"rid": 37, "text": "appendmark common", "kind": "k1"}]))
    m = IndexCatalog(idx).manifest()
    after = m["tables"]
    assert m["metrics"]["mode"] == expect_mode
    # every bucket keeps its base dir; appended buckets grew a chain
    for b, v in before["postings"].items():
        av = after["postings"][b]
        assert av == v or (isinstance(av, list) and av[0] == v)
    chains = [b for b, v in after["postings"].items()
              if isinstance(v, list)]
    assert chains  # the new entries landed as deltas
    assert "tombstones" in after  # rid 37 was replaced

    eng = SearchEngine(spark, idx)
    assert eng.search_df("appendmark", k=5).count() == 1
    # the replaced doc's OLD content no longer matches (tombstone mask)
    old37 = {r["doc_id"] for r in eng.search_df("tok2", k=200).collect()}
    assert 37 not in old37  # 37 % 7 == 2 -> old text had tok2
    assert eng.meta["n_docs"] == 120

    # delete appends only tombstones (no postings writes at all)
    mut.delete_ids([5])
    m2 = IndexCatalog(idx).manifest()
    assert m2["metrics"]["mode"] == expect_mode
    assert m2["metrics"]["buckets_appended"] == 0
    eng2 = SearchEngine(spark, idx)
    assert eng2.meta["n_docs"] == 119
    baseline = {r["doc_id"]: round(r["score"], 9)
                for r in eng2.search_df("common", k=200).collect()}
    assert 5 not in baseline

    # compaction: chains collapse, tombstones clear, results identical
    if compact_mode == "spark":
        monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", 0)
    mut.compact()
    m3 = IndexCatalog(idx).manifest()
    assert m3["operation"] == "compact"
    assert m3["metrics"]["mode"] == compact_mode
    assert "tombstones" not in m3["tables"]
    assert all(isinstance(v, str) for v in m3["tables"]["postings"].values())
    assert all(isinstance(v, str) for v in m3["tables"]["term_stats"].values())
    eng3 = SearchEngine(spark, idx)
    got = {r["doc_id"]: round(r["score"], 9)
           for r in eng3.search_df("common", k=200).collect()}
    assert got == baseline
    assert eng3.search_df("appendmark", k=5).count() == 1


def test_auto_compact_bounds_chain_depth(spark, tmp_path_factory):
    """File/dir growth is BOUNDED: with compact_threshold=T, chains
    never exceed T+... — the (T+1)th append triggers consolidation in
    the same mutator call, so no compaction operator has to be
    remembered by the operator. Small index: compaction on the driver."""
    _auto_compact_bounds_chain_depth(spark, tmp_path_factory, "driver")


def test_auto_compact_bounds_chain_depth_on_spark(spark, tmp_path_factory,
                                                  monkeypatch):
    """The same bound when a zero read budget sends compaction to
    Spark."""
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", 0)
    _auto_compact_bounds_chain_depth(spark, tmp_path_factory, "spark")


def _auto_compact_bounds_chain_depth(spark, tmp_path_factory, compact_mode):
    idx = str(tmp_path_factory.mktemp("autocompact") / "idx")
    build_index(spark, spark.createDataFrame(_rows(40)), idx,
                IndexConfig(id="ac", tokenizer="simple", n_term_buckets=4,
                            docs_range_bits=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    mut = IndexMutator(spark, idx, compact_threshold=3)
    for i in range(6):
        mut.upsert(spark.createDataFrame(
            [{"rid": i, "text": f"auto_{i} common", "kind": "k0"}]))
        assert max(IndexCatalog(idx).delta_depth("postings"),
                   IndexCatalog(idx).delta_depth("term_stats")) <= 4
    compacts = [m for m in IndexCatalog(idx).snapshots()
                if m["operation"] == "compact"]
    assert compacts
    assert {m["metrics"]["mode"] for m in compacts} == {compact_mode}
    eng = SearchEngine(spark, idx)
    assert eng.meta["n_docs"] == 40
    for i in range(6):
        assert eng.search_df(f"auto_{i}", k=5).count() == 1


def test_docs_for_ids_prunes_group_dirs(spark, tmp_path_factory):
    """Hit assembly reads only the group dirs of the requested ids:
    the resolved path list is a strict subset, and the fetch matches a
    full-scan filter."""
    idx = str(tmp_path_factory.mktemp("dprune") / "idx")
    build_index(spark, spark.createDataFrame(_rows(100)), idx,
                IndexConfig(id="dp", tokenizer="simple", n_term_buckets=4,
                            docs_range_bits=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    cat = IndexCatalog(idx)
    assert len(cat.docs_dirs()) == 7  # 100 docs / 16-doc groups
    assert len(cat.docs_dirs(groups=[1, 5])) == 2
    got = {r["doc_id"]: r["text"] for r in
           cat.docs_for_ids(spark, [3, 77]).collect()}
    want = {r["doc_id"]: r["text"] for r in
            cat.docs(spark).filter(F.col("doc_id").isin([3, 77])).collect()}
    assert got == want and set(got) == {3, 77}
    # max_doc_id reads the top group only
    assert cat.max_doc_id(spark) == 99
