import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bright_spark.index import codec
from bright_spark.query.scorer import tf_norm
from tests.codec_ref import (decode_all_blocks, decode_block, encode_blocks,
                             entry_positions, position_gaps, varint_encode)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert codec.varint_decode(varint_encode(arr)).tolist() == values


def test_varint_rejects_negative():
    with pytest.raises(ValueError):
        varint_encode(np.array([-1], dtype=np.int64))


@given(st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=500),
       st.integers(min_value=1, max_value=64))
@settings(max_examples=50, deadline=None)
def test_block_roundtrip(doc_set, block_size):
    rng = np.random.default_rng(7)
    doc_ids = np.sort(np.array(sorted(doc_set), dtype=np.int64))
    tfs = rng.integers(1, 100, doc_ids.size)
    dls = rng.integers(1, 5000, doc_ids.size)
    blocks = encode_blocks(doc_ids, tfs, dls, block_size)
    d, t, l = decode_all_blocks(blocks)
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    # invariants: per-block metadata sound (SURVEY.md §5)
    for i in range(len(blocks["n"])):
        bd, bt, bl = decode_block(blocks["first_doc"][i], blocks["docs"][i],
                                        blocks["tfs"][i], blocks["dls"][i])
        assert bd[0] == blocks["first_doc"][i]
        assert bd[-1] == blocks["max_doc"][i]
        assert (np.diff(bd) > 0).all()
        assert bt.max() == blocks["max_tf"][i]
        assert bl.min() == blocks["min_dl"][i]
        # block-max bound dominates every member score for any params
        for avgdl, k1, b in ((100.0, 1.2, 0.75), (3.0, 0.9, 0.4)):
            ub = tf_norm(blocks["max_tf"][i], blocks["min_dl"][i], avgdl, k1, b)
            assert (tf_norm(bt, bl, avgdl, k1, b) <= ub + 1e-12).all()


def test_encode_rejects_unsorted():
    one = np.array([1, 1])
    for enc in (lambda d: encode_blocks(d, one, one),
                lambda d: codec.encode_blocks_bulk(d, one, one,
                                                   np.array([0]))):
        with pytest.raises(ValueError):
            enc(np.array([3, 2]))
        with pytest.raises(ValueError):
            enc(np.array([2, 2]))


def test_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0
    d, t, l = decode_all_blocks({"first_doc": [], "docs": [], "tfs": [], "dls": []})
    assert d.size == 0


# ------------------------------------------------------ positions


@given(data=st.data(), block_size=st.integers(1, 6),
       with_tomb=st.booleans())
@settings(max_examples=80, deadline=None)
def test_positions_roundtrip(data, block_size, with_tomb):
    """``decode_positions`` inverts the per-entry gap encoding of
    ``encode_blocks_bulk``: over several runs whose entries (tf >= 1,
    repeated positions included) fill and cross block boundaries,
    from whole rows and from any run of whole blocks, and through
    ``_decode_rows`` with a tombstone mask, where the dead entries'
    positions drop out. The payload bytes are the reference's gaps."""
    import pyarrow as pa

    from bright_spark.index.catalog import POSTINGS_ARROW
    from bright_spark.index.mutations import _decode_rows, _kill_set
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    sizes = data.draw(st.lists(st.integers(1, 3 * block_size + 1),
                               min_size=1, max_size=5))
    n = sum(sizes)
    docs = np.concatenate([np.sort(rng.choice(10**6, s, replace=False))
                           for s in sizes]).astype(np.int64)
    tfs = rng.integers(1, 6, n).astype(np.int64)
    dls = tfs + rng.integers(0, 50, n)
    pos = entry_positions(rng, tfs, data.draw(st.sampled_from([3, 10**6])))
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1])).astype(np.int64)
    cols = codec.encode_blocks_bulk(docs, tfs, dls, starts, block_size,
                                    positions=pos)
    raw = codec.binary_values(cols["pos"])
    np.testing.assert_array_equal(codec.decode_positions(raw, tfs), pos)
    np.testing.assert_array_equal(codec.varint_decode(raw).astype(np.int64),
                                  position_gaps(pos, tfs))
    # any run of whole blocks decodes alone
    ns = np.concatenate([np.asarray(r) for r in cols["n"].to_pylist()])
    blocks = [b for r in cols["pos"].to_pylist() for b in r]
    lo = data.draw(st.integers(0, ns.size - 1))
    hi = data.draw(st.integers(lo + 1, ns.size))
    e0, e1 = int(ns[:lo].sum()), int(ns[:hi].sum())
    pv = np.concatenate(([0], np.cumsum(tfs)))
    np.testing.assert_array_equal(
        codec.decode_positions(blocks[lo:hi], tfs[e0:e1]),
        pos[pv[e0]:pv[e1]])

    rows = pa.Table.from_pydict(
        {"field": ["f"] * len(sizes),
         "term": [f"t{i}" for i in range(len(sizes))],
         "range_id": [0] * len(sizes),
         **{c: cols[c] for c in ("first_doc", "n", "docs", "tfs", "dls",
                                 "pos")},
         "ver": [1] * len(sizes)},
        schema=pa.schema([POSTINGS_ARROW.field(c) for c in (
            "field", "term", "range_id", "first_doc", "n", "docs", "tfs",
            "dls", "pos", "ver")]))
    kill, live = None, np.ones(n, bool)
    if with_tomb:
        dead = np.unique(rng.choice(docs, max(1, n // 3)))
        kill = _kill_set((dead, np.full(dead.size, 2, np.int64)))
        live = ~np.isin(docs, dead)
    _, d, t, _, p = _decode_rows(rows, True, kill)
    np.testing.assert_array_equal(d, docs[live])
    np.testing.assert_array_equal(t, tfs[live])
    np.testing.assert_array_equal(p, pos[np.repeat(live, tfs)])


def test_positions_must_ascend_within_an_entry():
    one = np.array([1, 2])
    with pytest.raises(ValueError, match="ascending"):
        codec.encode_blocks_bulk(one, np.array([2, 1]), one, np.array([0]),
                                 positions=np.array([5, 4, 0]))
    # a later entry may start below the one before it
    cols = codec.encode_blocks_bulk(one, np.array([2, 1]), one,
                                    np.array([0]),
                                    positions=np.array([4, 5, 0]))
    assert codec.decode_positions(codec.binary_values(cols["pos"]),
                                  np.array([2, 1])).tolist() == [4, 5, 0]
    with pytest.raises(ValueError):
        codec.decode_positions(codec.binary_values(cols["pos"]),
                               np.array([1, 1]))


# ------------------------------------------- arrow kernels == reference

_BLOCK_COLS = ("first_doc", "max_doc", "n", "max_tf", "min_dl", "docs",
               "tfs", "dls", "pos")


@given(data=st.data(), block_size=st.integers(1, 5),
       store_positions=st.booleans(), batch_values=st.sampled_from([1, 0]))
@settings(max_examples=60, deadline=None)
def test_arrow_kernels_equal_per_run_reference(data, block_size,
                                               store_positions,
                                               batch_values):
    """The merge kernel writes each (field, term, range) run as the row
    the per-run reference encoder produces for the same entries, column
    for column, and the arrow decode recovers every live entry of those
    rows from a sliced, several-chunk table. Runs end on and off a
    block boundary and come in several partial rows; the kill set
    empties whole rows. ``batch_values`` 1 makes the kernel emit one
    batch per run (0 keeps the default budget)."""
    from unittest import mock

    import pyarrow as pa

    from bright_spark.index import builder
    from bright_spark.index.builder import PARTIALS_ARROW, _make_merge_fn
    from bright_spark.index.mutations import _decode_rows, _kill_set
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    sizes = data.draw(st.lists(
        st.one_of(st.integers(1, 3).map(lambda m: m * block_size),
                  st.integers(1, 12)), min_size=1, max_size=6))
    runs, partial_rows = [], []
    for i, size in enumerate(sizes):
        d = np.sort(rng.choice(500, size, replace=False)).astype(np.int64)
        t = rng.integers(1, 4, size).astype(np.int64)
        l = rng.integers(1, 300, size).astype(np.int64)
        p = entry_positions(rng, t, 400)
        key = {"field": f"f{i % 2}", "term": f"t{i}", "range_id": 0}
        runs.append((key, d, t, l, p))
        # the run arrives as up to two partial rows, later docs first
        pv = np.concatenate(([0], np.cumsum(t)))
        cut = int(rng.integers(0, size + 1))
        for s, e in ((cut, size), (0, cut)):
            if e > s:
                partial_rows.append({
                    **key, "doc_ids": d[s:e].tolist(),
                    "tfs": t[s:e].tolist(), "dls": l[s:e].tolist(),
                    "pos": (p[pv[s]:pv[e]].tolist() if store_positions
                            else [])})
    partials = pa.Table.from_pylist(partial_rows, schema=PARTIALS_ARROW)
    merge = _make_merge_fn(block_size, 7, store_positions, ver=3)
    with mock.patch.object(builder, "_MERGE_BATCH_VALUES",
                           batch_values or builder._MERGE_BATCH_VALUES):
        batches = list(merge(partials.to_batches(2)))
    if batch_values:
        assert len(batches) == len(runs)
    out = pa.Table.from_batches(batches)
    assert out.num_rows == len(runs)
    got = {(r["field"], r["term"]): r for r in out.to_pylist()}
    for key, d, t, l, p in runs:
        row = got[(key["field"], key["term"])]
        ref = encode_blocks(d, t, l, block_size,
                            positions=p if store_positions else None)
        for c in _BLOCK_COLS:
            assert row[c] == ref[c], c
        assert row["df_chunk"] == d.size and row["cf_chunk"] == t.sum()
        assert row["range_id"] == 0 and row["ver"] == 3

    # decode: kill every entry of one row, plus random others
    rows = out.to_pylist()
    doomed = rows[int(rng.integers(0, len(rows)))]
    kill_ids = np.unique(np.concatenate([
        decode_all_blocks(doomed)[0],
        rng.choice(500, 40, replace=False)])).astype(np.int64)
    kill = _kill_set(None, kill_ids)
    want = {k: [] for k in ("row", "d", "t", "l", "pos")}
    for i, r in enumerate(rows):
        d, t, l = decode_all_blocks(r)
        p = (codec.decode_positions(r["pos"], t)
             if store_positions else np.empty(0, np.int64))
        keep = ~np.isin(d, kill_ids)
        want["row"].append(np.full(int(keep.sum()), i))
        want["d"].append(d[keep])
        want["t"].append(t[keep])
        want["l"].append(l[keep])
        if store_positions:
            want["pos"].append(p[np.repeat(keep, t)])
    h = len(rows) // 2
    chunked = pa.concat_tables(
        [out.slice(0, 1), out.slice(0, h), out.slice(h)]).slice(1)
    for tab in (out, chunked):
        got_rows = _decode_rows(tab, store_positions, kill)
        for name, arr in zip(("row", "d", "t", "l", "pos"), got_rows):
            exp = (np.concatenate(want[name]) if want[name]
                   else np.empty(0, np.int64))
            np.testing.assert_array_equal(arr, exp, err_msg=name)
