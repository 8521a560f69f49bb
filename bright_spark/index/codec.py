"""Posting-block codec: docID-sorted, delta-encoded, varint-compressed
blocks with per-block skip/max metadata (BASELINE.json north_star).

The reference stack stores postings as Roaring bitmaps + zapx
delta/varint payloads inside Bleve scorch segments (bright's go.mod:22,
38-43); bright itself never touches the encoding. Here the codec is
explicit, implemented with **vectorized numpy only** (no per-row
Python), because it runs inside Arrow-batched Spark UDFs on the build
and query hot paths.

Block layout (one posting row covers one ``(term, range_id)`` doc-range
chunk; rows hold parallel arrays of blocks):

- ``first_doc``: absolute docID of the block's first entry
- ``max_doc``:   absolute docID of the block's last entry (skip bound)
- ``n``:         entries in the block
- ``max_tf``:    max term frequency in the block
- ``min_dl``:    min document length in the block
- ``docs``:      varint(delta(docIDs)) — first delta is 0 w.r.t.
                 ``first_doc`` so decode is ``first_doc + cumsum``
- ``tfs``:       varint(tf per entry)
- ``dls``:       varint(doc_len per entry) — inlined so BM25 scoring
                 never joins the docs table (at 10^12 docs a
                 norms-join or broadcast is impossible)
- ``pos``:       varint positions of the block's entries, each entry's
                 ``tf`` values being its first absolute position then
                 the gaps between its ascending positions
                 (:func:`decode_positions`); empty lists when positions
                 are not stored

``(max_tf, min_dl)`` give a *parameter-free* block-max bound: the BM25
tf-norm ``tf/(tf + k1*(1-b+b*dl/avgdl))`` is increasing in tf and
decreasing in dl, so ``tf_norm(max_tf, min_dl)`` evaluated with the
*current* (k1, b, avgdl) always upper-bounds every entry — the bound
survives incremental corpus-stat drift, unlike a stored max-score.

In memory the payloads live as arrow binary arrays, never as per-block
Python ``bytes``: :func:`encode_blocks_bulk` varint-encodes each column
of many runs in one pass and wraps the resulting buffer as a
``BinaryArray`` cut at the per-block byte offsets, nested in a
``ListArray`` per run; :func:`list_values` / :func:`binary_values` read
a stored ``list<...>`` column's values straight from its arrow buffers
(slices and chunks included), so the decode is one varint pass per
column (plus one segmented cumsum for ``pos``). On disk they are
``list<binary>`` parquet columns (layout v7, whose per-entry gaps take
27% fewer ``pos`` bytes than v6's absolute positions on a 200-file
corpus).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

DEFAULT_BLOCK_SIZE = 128

# byte offsets of a binary array are int32
_MAX_BINARY_BYTES = np.iinfo(np.int32).max


# ---------------------------------------------------------------- varint

def varint_encode_raw(values: np.ndarray):
    """LEB128-encode a non-negative integer array (vectorized).
    Returns (uint8 buffer, per-value byte counts) so callers can slice
    per-segment byte ranges out of one bulk encode."""
    arr = np.asarray(values)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    if arr.dtype.kind == "i" and arr.min() < 0:
        raise ValueError("varint encoding requires non-negative values")
    v = np.ascontiguousarray(arr, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    rem = v.copy()
    idx = starts.copy()
    active = np.ones(v.size, dtype=bool)
    while True:
        cur = rem[active]
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        nxt = cur >> np.uint64(7)
        more = nxt > 0
        byte[more] |= 0x80
        out[idx[active]] = byte
        rem[active] = nxt
        idx[active] += 1
        if not more.any():
            break
        ai = np.flatnonzero(active)
        active[ai[~more]] = False
    return out, nbytes


def varint_decode(buf: bytes | bytearray | memoryview | np.ndarray
                  ) -> np.ndarray:
    """Decode LEB128 bytes back to uint64 (vectorized)."""
    a = (buf if isinstance(buf, np.ndarray)
         else np.frombuffer(buf, dtype=np.uint8))
    if a.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (a & 0x80) == 0
    n = int(is_end.sum())
    val_idx = np.zeros(a.size, dtype=np.int64)
    val_idx[1:] = np.cumsum(is_end)[:-1]
    ends = np.flatnonzero(is_end)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    byte_pos = np.arange(a.size, dtype=np.int64) - starts[val_idx]
    contrib = (a & 0x7F).astype(np.uint64) << (np.uint64(7) * byte_pos.astype(np.uint64))
    vals = np.zeros(n, dtype=np.uint64)
    np.bitwise_or.at(vals, val_idx, contrib)
    return vals


def _varint_blocks(values: np.ndarray, value_offsets: np.ndarray
                   ) -> pa.BinaryArray:
    """One bulk varint pass over ``values``, as a binary array whose
    element i holds the varints of ``values[value_offsets[i]:
    value_offsets[i + 1]]``: the encoded buffer itself, cut by offsets."""
    buf, nbytes = varint_encode_raw(values)
    byte_cum = np.zeros(nbytes.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_cum[1:])
    offs = byte_cum[value_offsets]
    if offs[-1] > _MAX_BINARY_BYTES:
        raise ValueError("varint payload over 2 GiB: encode fewer runs "
                         "per call")
    return pa.BinaryArray.from_buffers(
        pa.binary(), offs.size - 1,
        [None, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(buf)])


# ---------------------------------------------------------------- blocks

def _entry_gaps(positions: np.ndarray, entry_starts: np.ndarray
                ) -> np.ndarray:
    """Flat positions -> the ``pos`` payload values: the gap to the
    previous position, except at ``entry_starts`` (each entry's first
    value), which keep their absolute position."""
    p = np.ascontiguousarray(positions, dtype=np.int64)
    gaps = np.empty_like(p)
    if p.size:
        gaps[0] = p[0]
        np.subtract(p[1:], p[:-1], out=gaps[1:])
        gaps[entry_starts] = p[entry_starts]
        if gaps.min() < 0:
            raise ValueError("positions must be non-negative and ascending "
                             "within each entry")
    return gaps


def encode_blocks_bulk(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_starts: np.ndarray,
    block_size: int = DEFAULT_BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> dict[str, pa.ListArray]:
    """Encode MANY posting runs (concatenated, with ``group_starts``
    marking run boundaries) into the postings rows' block columns, in
    one bulk varint pass per payload column — no per-run or per-block
    Python.

    Returns the nine block columns (``first_doc`` ... ``pos``, in
    postings-row order) as arrow list arrays with one list per run:
    ``first_doc``/``max_doc`` ``list<int64>``, ``n``/``max_tf``/
    ``min_dl`` ``list<int32>``, the payloads ``list<binary>``. Every run
    restarts block segmentation, so each run's blocks are the same as
    an encode of that run alone.

    ``positions`` (optional): flat absolute base positions, entry i
    owning the ``tfs[i]`` values at offset ``Σ tfs[:i]`` (ascending
    within an entry; equal values are allowed). Encoded under key
    ``pos`` as one varint per position: each entry's first absolute
    position, then the gaps to its next ones. The gaps restart at every
    entry, so an entry still owns exactly ``tf`` values and block
    slicing is the same as for the other payloads. Without them every
    run's ``pos`` list is empty.
    """
    n = doc_ids.size
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    group_starts = np.ascontiguousarray(group_starts, dtype=np.int64)
    g_ends = np.concatenate((group_starts[1:], [n]))
    # block starts: every run restarts block segmentation. Vectorized
    # (no per-run arange — one partition can hold 10^5+ small runs):
    # block b of run g starts at group_starts[g] + within * block_size.
    nblocks = -(-(g_ends - group_starts) // block_size)
    run_offsets = np.zeros(group_starts.size + 1, dtype=np.int64)
    np.cumsum(nblocks, out=run_offsets[1:])
    block_group = np.repeat(
        np.arange(group_starts.size, dtype=np.int64), nblocks)
    within = (np.arange(block_group.size, dtype=np.int64)
              - run_offsets[block_group])
    block_starts = group_starts[block_group] + within * block_size
    # blocks tile [0, n) in order: block i covers entries
    # [bounds[i], bounds[i + 1])
    bounds = np.append(block_starts, n)
    block_ends = bounds[1:]
    # deltas: global diff, zeroed at block starts (each block's first
    # entry encodes 0 relative to its stored first_doc)
    deltas = np.empty(n, dtype=np.int64)
    if n:
        deltas[0] = 0
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
        deltas[block_starts] = 0
        if deltas.min() < 0:
            raise ValueError("doc_ids must be strictly increasing within runs")
        dup = deltas == 0
        dup[block_starts] = False
        if dup.any():
            raise ValueError("duplicate doc_ids within a run")
    if positions is not None:
        # value index space: entry i owns values [pv[i], pv[i + 1])
        pv = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs, out=pv[1:])
        pos = _varint_blocks(_entry_gaps(positions, pv[:-1][tfs > 0]),
                             pv[bounds])
    if n:
        max_tf = np.maximum.reduceat(tfs, block_starts)
        min_dl = np.minimum.reduceat(dls, block_starts)
    else:
        max_tf = min_dl = block_starts
    values = {
        "first_doc": pa.array(doc_ids[block_starts]),
        "max_doc": pa.array(doc_ids[block_ends - 1]),
        "n": pa.array((block_ends - block_starts).astype(np.int32)),
        "max_tf": pa.array(max_tf.astype(np.int32)),
        "min_dl": pa.array(min_dl.astype(np.int32)),
        "docs": _varint_blocks(deltas, bounds),
        "tfs": _varint_blocks(tfs, bounds),
        "dls": _varint_blocks(dls, bounds),
    }
    offs = pa.array(run_offsets.astype(np.int32))
    out = {k: pa.ListArray.from_arrays(offs, v) for k, v in values.items()}
    out["pos"] = (
        pa.ListArray.from_arrays(offs, pos) if positions is not None
        else pa.ListArray.from_arrays(
            pa.array(np.zeros(group_starts.size + 1, dtype=np.int32)),
            pa.array([], pa.binary())))
    return out


# ---------------------------------------------------------------- decode

def _chunks(col) -> list:
    return col.chunks if isinstance(col, pa.ChunkedArray) else [col]


def list_values(col) -> np.ndarray:
    """The values of a ``list<int>`` arrow column (array or chunked
    array, any slice offset) back to back, in row order, as numpy."""
    parts = [c.flatten().to_numpy() for c in _chunks(col)]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def binary_values(col) -> np.ndarray:
    """The bytes of every element of a ``list<binary>`` arrow column
    (array or chunked array, any slice offset) back to back, in row
    order, as one uint8 array: read from the arrow data buffers, copied
    only to join several chunks. Varint framing is self-delimiting, so
    one decode of the result yields every block's values in order."""
    parts = []
    for c in _chunks(col):
        v = c.flatten()
        if not len(v):
            continue
        _, offs_buf, data = v.buffers()
        off_type = np.int64 if pa.types.is_large_binary(v.type) else np.int32
        offs = np.frombuffer(offs_buf, dtype=off_type)
        lo, hi = int(offs[v.offset]), int(offs[v.offset + len(v)])
        if hi > lo:
            parts.append(np.frombuffer(data, dtype=np.uint8,
                                       count=hi - lo, offset=lo))
    if not parts:
        return np.empty(0, dtype=np.uint8)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def dead_entries(kill, doc_ids: np.ndarray, ver, row: np.ndarray
                 ) -> np.ndarray | None:
    """The tombstone kill rule over decoded entries. ``kill`` is
    (sorted doc ids, versions); ``ver`` the posting rows' ``ver`` column
    (arrow, or None when the rows carry none) and ``row`` each entry's
    row in it. An entry is dead iff its doc id is in ``kill`` at a
    version LATER than its row's ``ver`` (a null or absent ``ver`` is
    version 0, the oldest), so a re-add written after the tombstone
    stays live. Returns the boolean mask of dead entries, or None when
    none is."""
    if kill is None or not doc_ids.size:
        return None
    kids, kvers = kill
    idx = np.minimum(np.searchsorted(kids, doc_ids), kids.size - 1)
    hit = kids[idx] == doc_ids
    if not hit.any():
        return None
    v = (pc.fill_null(pc.cast(ver, pa.int64()), 0).to_numpy()[row]
         if ver is not None else 0)
    drop = hit & (v < kvers[idx])
    return drop if drop.any() else None


def decode_concat(bufs: list[bytes] | np.ndarray) -> np.ndarray:
    """Decode MANY varint buffers in ONE vectorized pass (uint64).
    ``bufs``: a list of buffers, or their bytes already back to back
    (:func:`binary_values`). Varint framing is self-delimiting, so
    concatenation preserves the value sequence; callers recover
    per-buffer slices from known value counts (the stored per-block
    ``n``)."""
    if isinstance(bufs, np.ndarray):
        return varint_decode(bufs)
    if not bufs:
        return np.empty(0, dtype=np.uint64)
    return varint_decode(b"".join(bufs))


def decode_positions(buf: list[bytes] | np.ndarray,
                     tfs: np.ndarray) -> np.ndarray:
    """Absolute positions (int64) of consecutive entries from their
    ``pos`` payload bytes (``buf`` as in :func:`decode_concat`: the
    bytes of whole blocks back to back) and their ``tfs``: one varint
    pass, then a cumsum restarted at every entry's first value."""
    vals = decode_concat(buf).astype(np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if vals.size != int(tfs.sum()):
        raise ValueError(f"{vals.size} positions for entries of total tf "
                         f"{int(tfs.sum())}")
    if not vals.size:
        return vals
    owned = tfs > 0
    starts = (np.cumsum(tfs) - tfs)[owned]
    c = np.cumsum(vals)
    return c - np.repeat(c[starts] - vals[starts], tfs[owned])


def decode_doc_blocks_bulk(first_docs: np.ndarray, ns: np.ndarray,
                           doc_bufs: list[bytes] | np.ndarray) -> np.ndarray:
    """Bulk-decode the docID arrays of many blocks into one flat int64
    array (query-kernel hot path — one varint pass + one cumsum instead
    of a per-block Python loop). ``first_docs``/``ns`` are per-block;
    ``doc_bufs`` as in :func:`decode_concat`. Each block's first delta
    is 0, so within-block prefix sums fall out of one global cumsum
    re-based at block starts."""
    deltas = decode_concat(doc_bufs).astype(np.int64)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    ns = np.ascontiguousarray(ns, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    c = np.cumsum(deltas)
    rebase = np.repeat(
        np.ascontiguousarray(first_docs, dtype=np.int64) - c[starts], ns)
    return c + rebase
