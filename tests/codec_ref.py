"""Per-run, per-block reference codec: the definitional form of the
posting-block layout (``bright_spark.index.codec``), one Python loop
iteration per block. Tests hold the bulk arrow kernels to it."""

from __future__ import annotations

import numpy as np

from bright_spark.index import codec


def varint_encode(values: np.ndarray) -> bytes:
    buf, _ = codec.varint_encode_raw(values)
    return buf.tobytes()


def entry_positions(rng, tfs: np.ndarray, hi: int) -> np.ndarray:
    """Random flat positions below ``hi`` for entries of ``tfs``:
    ascending (repeats allowed) within each entry, as the tokenizer
    emits them, and unordered across entries."""
    tfs = np.asarray(tfs, dtype=np.int64)
    p = rng.integers(0, hi, int(tfs.sum())).astype(np.int64)
    entry = np.repeat(np.arange(tfs.size), tfs)
    return p[np.lexsort((p, entry))]


def position_gaps(positions: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """The ``pos`` payload values of consecutive entries: per entry, its
    first position, then the gap from each position to the next."""
    out, at = [], 0
    for tf in np.asarray(tfs, dtype=np.int64).tolist():
        seg = [int(x) for x in positions[at:at + tf]]
        out += seg[:1] + [b - a for a, b in zip(seg, seg[1:])]
        at += tf
    return np.array(out, dtype=np.int64)


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = codec.DEFAULT_BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> dict[str, list]:
    """Split ONE docID-sorted posting run into compressed blocks.

    Returns parallel lists (one element per block) matching the
    ``postings`` row's block columns; ``pos`` is empty without
    ``positions`` (entry i owns the ``tfs[i]`` ascending values at
    ``Σ tfs[:i]``), else each block's :func:`position_gaps`.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if doc_ids.size and (np.diff(doc_ids) <= 0).any():
        raise ValueError("doc_ids must be strictly increasing")
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    pv = np.concatenate(([0], np.cumsum(tfs)))
    out: dict[str, list] = {
        "first_doc": [], "max_doc": [], "n": [], "max_tf": [],
        "min_dl": [], "docs": [], "tfs": [], "dls": [], "pos": [],
    }
    for s in range(0, doc_ids.size, block_size):
        e = min(s + block_size, doc_ids.size)
        d, t, l = doc_ids[s:e], tfs[s:e], dls[s:e]
        deltas = np.empty(d.size, dtype=np.uint64)
        deltas[0] = 0
        deltas[1:] = np.diff(d).astype(np.uint64)
        out["first_doc"].append(int(d[0]))
        out["max_doc"].append(int(d[-1]))
        out["n"].append(int(d.size))
        out["max_tf"].append(int(t.max()))
        out["min_dl"].append(int(l.min()))
        out["docs"].append(varint_encode(deltas))
        out["tfs"].append(varint_encode(t))
        out["dls"].append(varint_encode(l))
        if positions is not None:
            out["pos"].append(varint_encode(
                position_gaps(positions[pv[s]:pv[e]], t)))
    return out


def decode_block(first_doc: int, docs: bytes, tfs: bytes, dls: bytes):
    """One block -> (doc_ids int64, tfs int64, dls int64)."""
    d = codec.varint_decode(docs).astype(np.int64)
    np.cumsum(d, out=d)
    d += np.int64(first_doc)
    return (d, codec.varint_decode(tfs).astype(np.int64),
            codec.varint_decode(dls).astype(np.int64))


def decode_all_blocks(blocks: dict[str, list]):
    """Decode every block of one posting row into flat arrays."""
    parts_d, parts_t, parts_l = [], [], []
    for fd, db, tb, lb in zip(blocks["first_doc"], blocks["docs"],
                              blocks["tfs"], blocks["dls"]):
        d, t, l = decode_block(fd, db, tb, lb)
        parts_d.append(d)
        parts_t.append(t)
        parts_l.append(l)
    if not parts_d:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return (np.concatenate(parts_d), np.concatenate(parts_t),
            np.concatenate(parts_l))
