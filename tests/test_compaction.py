"""Compaction on both sides of the read gate: the driver (pyarrow,
zero Spark jobs) and the Spark stages consolidate an index to the same
content, and the shared bulk decode equals the per-row reference."""

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bright_spark.fixtures import make_repos
from bright_spark.index import catalog as catalog_mod
from bright_spark.index import codec, mutations
from bright_spark.index.builder import build_index
from bright_spark.index.catalog import POSTINGS_ARROW, IndexCatalog
from bright_spark.index.mutations import IndexMutator, _decode_rows, _kill_set
from bright_spark.models import IndexConfig, SearchRequest
from bright_spark.query.engine import SearchEngine
from tests.codec_ref import decode_all_blocks, entry_positions
from tests.oracle import OracleIndex

# ------------------------------------------------------- bulk decode


def _encode_row(rng, n_entries, block_size):
    """The block columns of one posting row holding ``n_entries``
    random entries (no blocks at all when it is 0)."""
    d = np.sort(rng.choice(1000, n_entries, replace=False)).astype(np.int64)
    t = rng.integers(1, 4, n_entries).astype(np.int64)
    l = rng.integers(1, 60, n_entries).astype(np.int64)
    pos = entry_positions(rng, t, 200)
    cols = codec.encode_blocks_bulk(d, t, l, np.array([0]), block_size,
                                    positions=pos)
    return {k: v[0].as_py() for k, v in cols.items()}


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**32 - 1),
       sizes=st.lists(st.integers(0, 9), min_size=1, max_size=6),
       block_size=st.integers(1, 4),
       store_positions=st.booleans(),
       with_tomb=st.booleans(),
       with_drop=st.booleans())
def test_bulk_decode_equals_per_row_reference(seed, sizes, block_size,
                                              store_positions, with_tomb,
                                              with_drop):
    """``_decode_rows`` == per-row ``decode_all_blocks`` with the
    version-aware tombstone rule and the change-set drop, for rows of
    zero or more blocks, positions on and off, over one arrow table and
    over the same rows as a sliced, several-chunk table."""
    rng = np.random.default_rng(seed)
    rows = []
    for i, n in enumerate(sizes):
        b = _encode_row(rng, n, block_size)
        rows.append({"field": f"f{i % 2}", "term": f"t{i}", "range_id": i,
                     **b, "ver": None if i % 3 == 0 else int(i % 4 + 1)})
    tab = pa.Table.from_pylist(rows, schema=pa.schema(
        [POSTINGS_ARROW.field(k) for k in rows[0]]))
    # the same rows behind a sliced head and a chunk boundary
    pad = tab.slice(0, 1)
    chunked = pa.concat_tables(
        [pad, tab.slice(0, len(rows) // 2), tab.slice(len(rows) // 2)]
    ).slice(1)
    # tombstones at versions 1..4, so rows are written before, at and
    # after their docs' tombstones; versionless rows count as version 0
    tomb = None
    if with_tomb:
        tids = np.unique(rng.choice(1000, 300, replace=False))
        tomb = (tids.astype(np.int64),
                rng.integers(1, 5, tids.size).astype(np.int64))
    drop = (np.unique(rng.choice(1000, 200, replace=False)).astype(np.int64)
            if with_drop else None)

    want = {k: [] for k in ("row", "d", "t", "l", "pos")}
    for i, r in enumerate(rows):
        d, t, l = decode_all_blocks(r)
        pos = (codec.decode_positions(list(r["pos"]), t)
               if store_positions else np.empty(0, np.int64))
        dead = np.zeros(d.size, bool)
        if drop is not None:
            dead |= np.isin(d, drop)
        if tomb is not None:
            at = np.searchsorted(tomb[0], d)
            hit = at < tomb[0].size
            hit[hit] = tomb[0][at[hit]] == d[hit]
            ver = r["ver"] or 0
            dead[hit] |= ver < tomb[1][at[hit]]
        keep = ~dead
        want["row"].append(np.full(int(keep.sum()), i))
        want["d"].append(d[keep])
        want["t"].append(t[keep])
        want["l"].append(l[keep])
        if store_positions:
            want["pos"].append(pos[np.repeat(keep, t)])

    for t in (tab, chunked):
        got = _decode_rows(t, store_positions, _kill_set(tomb, drop))
        for name, arr in zip(("row", "d", "t", "l", "pos"), got):
            exp = (np.concatenate(want[name]) if want[name]
                   else np.empty(0, np.int64))
            np.testing.assert_array_equal(arr, exp, err_msg=name)


# ---------------------------------------------------- driver == Spark


def _entries(idx: str) -> dict:
    """(field, term, range_id) -> bucket and decoded (doc_ids, tfs,
    dls, positions) of the live postings files, read with pyarrow."""
    out = {}
    for d in IndexCatalog(idx).postings_dirs():
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            for r in pq.read_table(f).to_pylist():
                dec = decode_all_blocks(r)
                # an index without positions stores no pos blocks
                pos = (codec.decode_positions(r["pos"], dec[1])
                       if r["pos"] else np.empty(0, np.int64))
                key = (r["field"], r["term"], r["range_id"])
                assert key not in out, key
                out[key] = (r["bucket"],
                            *(a.tolist() for a in (*dec, pos)))
    return out


def _term_stats(idx: str) -> list:
    rows = []
    for d in IndexCatalog(idx).term_stats_dirs():
        for f in glob.glob(os.path.join(d, "*.parquet")):
            rows += [(r["field"], r["term"], r["df"], r["cf"], r["bucket"])
                     for r in pq.read_table(f).to_pylist()]
    return sorted(rows)


def _index_meta(idx: str) -> dict:
    return pq.read_table(IndexCatalog(idx).index_meta_path).to_pylist()[0]


def test_compaction_driver_equals_spark(spark, tmp_path, monkeypatch,
                                        no_autocompact):
    """An index with Spark- and driver-written delta chains, tombstones
    and positions, compacted once per side: the same decoded entries per
    (field, term, range_id), term_stats rows and index_meta, and
    oracle-equal searches. The driver side starts no Spark job."""
    pdf = make_repos(60, 31)
    pdf["rid"] = range(len(pdf))
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(id="cp", n_term_buckets=32),
                id_col="rid", n_build_partitions=4)
    rows = {int(r["rid"]): r for r in pdf.to_dict("records")}

    replaced = [{**rows[rid], "content": "def parse_user_session(config): "
                 "return user session"} for rid in (3, 17, 40)]
    with monkeypatch.context() as mp:  # distributed_mutations
        mp.setattr(mutations, "FAST_THRESHOLD", 0)
        IndexMutator(spark, idx).upsert(
            spark.createDataFrame(pd.DataFrame(replaced)))
    added = [{**rows[0], "rid": 1000 + i, "path": f"src/new{i}.py",
              "content": f"user session parser config token{i}"}
             for i in range(4)]
    IndexMutator(spark, idx).upsert_rows(added)
    for r in replaced + added:
        rows[r["rid"]] = r
    for ids in ([5, 1001], [17, 33]):
        IndexMutator(spark, idx).delete_ids(ids)
        for i in ids:
            rows.pop(i)
    cat = IndexCatalog(idx)
    assert cat.load_meta()["store_positions"]
    assert cat.delta_depth("postings") > 1 and cat.tombstones() is not None
    # buckets without a chain hold tombstoned entries too: only the
    # range_id selection cleans them
    chains = cat.manifest()["tables"]["postings"].values()
    assert any(isinstance(v, str) for v in chains)

    sides = {m: str(tmp_path / m) for m in ("driver", "spark")}
    tracker = spark.sparkContext.statusTracker()
    for mode, d in sides.items():
        shutil.copytree(idx, d)
        with monkeypatch.context() as mp:
            if mode == "spark":
                mp.setattr(catalog_mod, "LOCAL_READ_MAX_BYTES", 0)
            before = max(tracker.getJobIdsForGroup(None), default=-1)
            IndexMutator(spark, d).compact()
            jobs = max(tracker.getJobIdsForGroup(None), default=-1) - before
        m = IndexCatalog(d).manifest()
        assert m["operation"] == "compact"
        assert m["metrics"]["mode"] == mode
        assert m["metrics"]["footer_bytes"] > 0
        assert (jobs == 0) == (mode == "driver")
        assert "tombstones" not in m["tables"]
        assert all(isinstance(v, str)
                   for t in ("postings", "term_stats")
                   for v in m["tables"][t].values())

    drv, spk = sides["driver"], sides["spark"]
    assert _entries(drv) == _entries(spk)
    assert _term_stats(drv) == _term_stats(spk)
    assert _index_meta(drv) == _index_meta(spk)
    assert (IndexCatalog(drv).load_meta() == IndexCatalog(spk).load_meta()
            == IndexCatalog(idx).load_meta())

    oracle = OracleIndex(list(rows.values()), id_col="rid")
    for q in ["user", "parser AND config", "config NOT test", "pars*",
              '"user session"']:
        exp, etotal = oracle.search(q, 10)
        for d in sides.values():
            resp = SearchEngine(spark, d).search(SearchRequest(q=q, limit=10))
            hits = [(h["doc_id"], h["_score"]) for h in resp.hits]
            assert [h for h, _ in hits] == [h for h, _ in exp], (q, d)
            for (_, gs), (_, es) in zip(hits, exp):
                assert gs == pytest.approx(es, abs=1e-9), (q, d)
            assert resp.total_hits == etotal, (q, d)
