"""BM25 scoring + block-max top-k kernel (SURVEY.md Q15, §4).

The reference's scoring runs inside Bleve's TopNCollector over a
searcher tree (`handlers/search.go:140`). Ours is an Arrow-batch
kernel executed per doc-range chunk (on the driver, or by
``applyInArrow``) over that range's arrow table of posting rows,
operating on FLAT block-level numpy arrays for every query term at
once — there is no per-term (let alone per-document) Python object
churn, so a 1,000-term wildcard expansion costs barely more than a
2-term query:

- BM25 (k1=1.2, b=0.75 defaults; BASELINE.json pins BM25 over Bleve
  2.4's tf-idf default):
      idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
      tfn(tf, dl) = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
      score(d)    = sum_t boost_t * idf_t * tfn(tf_td, dl_d)
- Decoding is bulk: each payload column stays one byte buffer read
  from the arrow data (codec.binary_values); the bytes of every
  selected block are gathered and decoded in ONE vectorized pass
  (codec.decode_doc_blocks_bulk / decode_concat / decode_positions).
- Block-max pruning (disjunctions): every block stores (max_tf,
  min_dl); ``tfn`` is increasing in tf and decreasing in dl, so
  ``boost*idf*tfn(max_tf, min_dl)`` evaluated with *current* corpus
  stats upper-bounds every entry. The kernel:
    1. builds a block-interval upper-bound envelope over docID space
       (vectorized event sweep),
    2. scores the single highest-impact term's postings exactly to
       seed the top-k threshold θ (each seed contribution lower-bounds
       that doc's full score),
    3. bulk-decodes + scores only blocks overlapping envelope
       intervals with UB ≥ θ.
  Exactness argument: a doc whose true score can reach θ has all its
  posting entries inside UB≥θ intervals (its docID lies in one
  interval, and every block containing it overlaps that interval), so
  its accumulated sum is exact; docs partially covered by selected
  blocks accumulate partial sums ≤ true score < θ and cannot displace
  the ≥ k exactly-scored docs with score ≥ θ.
- Conjunctions intersect rarest-group-first (SURVEY.md §4: Bleve's
  boolean searcher orders by cost) with block-granular span skipping;
  exclusions are vectorized membership filters.

Exactness of the pruned path vs the exhaustive path is a pytest
property (WAND result == no-pruning result, SURVEY.md §7 step 3 exit).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from bright_spark.index import codec


def idf(n_docs: int, df: np.ndarray | float):
    return np.log(1.0 + (n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def tf_norm(tf, dl, avgdl, k1: float, b: float):
    """``avgdl`` may be a scalar or a per-entry array (per-field BM25
    stats: each term normalizes against its own field's avgdl)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    adl = np.maximum(np.asarray(avgdl, dtype=np.float64), 1e-9)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / adl))


_EMPTY_I = np.empty(0, dtype=np.int64)
_EMPTY_F = np.empty(0, dtype=np.float64)


def _payload(col) -> tuple[np.ndarray, np.ndarray]:
    """(every block's bytes back to back, per-block byte offsets) of one
    ``list<binary>`` payload column."""
    lens = pc.binary_length(pc.list_flatten(col)).to_numpy()
    off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    return codec.binary_values(col), off


class RangeBlocks:
    """Flat block-level view of ALL posting rows of one doc-range group.

    Parallel arrays, one element per block: owning term code, skip
    bounds and (max_tf, min_dl) metadata; each varint payload column is
    one uint8 buffer cut by per-block byte offsets.
    """

    def __init__(self, rows: pa.Table, weights: dict[str, float],
                 avgdl: float = 1.0,
                 avgdl_by_term: dict[str, float] | None = None,
                 tomb: tuple | None = None):
        if not isinstance(rows, pa.Table):
            # kept only for the benchmark's kernel replay
            # (perfbench/workloads.py::_search_replay), which passes
            # pandas groups; delete once that replay passes arrow
            rows = pa.Table.from_pandas(rows, preserve_index=False)
        # append-mode deletion mask: ``tomb`` = (sorted doc_ids, vers),
        # applied by codec.dead_entries against each row's ``ver``. A
        # term's postings may span several rows (base + delta dirs) —
        # they share one code, and every consumer sorts/uniques, so
        # split lists need no special handling.
        self.tomb = tomb
        self.ver = rows["ver"] if "ver" in rows.column_names else None
        # codes are ranks in the sorted unique terms: float accumulation
        # always runs in (doc, code) order, so scores are bit-identical
        # regardless of row arrival order, range granularity, or
        # pruning path
        uniq, codes = np.unique(rows["term"].to_numpy(zero_copy_only=False),
                                return_inverse=True)
        self.terms = [str(t) for t in uniq]
        self.code_of = {t: c for c, t in enumerate(self.terms)}
        self.w = np.array([weights.get(t, 0.0) for t in self.terms],
                          dtype=np.float64)
        # per-code avgdl (per-field BM25 stats; scalar fallback)
        adl_of = avgdl_by_term or {}
        self.adl = np.array([adl_of.get(t, avgdl) for t in self.terms],
                            dtype=np.float64)
        self.df_of_code = np.zeros(len(self.terms), dtype=np.int64)
        np.add.at(self.df_of_code, codes,
                  rows["df_chunk"].to_numpy().astype(np.int64))
        nb = pc.list_value_length(rows["first_doc"]).to_numpy()
        self.b_row = np.repeat(np.arange(rows.num_rows), nb)
        self.b_code = codes[self.b_row]
        self.b_first, self.b_max, self.b_n, self.b_maxtf, self.b_mindl = (
            codec.list_values(rows[c]).astype(np.int64)
            for c in ("first_doc", "max_doc", "n", "max_tf", "min_dl"))
        # positional payloads ride along only when the caller kept the
        # ``pos`` column (phrase kernels on store_positions indexes)
        self.payload = {c: _payload(rows[c])
                        for c in ("docs", "tfs", "dls", "pos")
                        if c in rows.column_names}

    def codes_for(self, terms: list[str]) -> np.ndarray:
        return np.array(sorted(self.code_of[t] for t in terms
                               if t in self.code_of), dtype=np.int64)

    def block_sel(self, codes: np.ndarray) -> np.ndarray:
        """Block indices owned by any of the given term codes."""
        if codes.size == 0:
            return _EMPTY_I
        return np.flatnonzero(np.isin(self.b_code, codes))

    def bounds(self, k1: float, b: float) -> np.ndarray:
        """Per-block score upper bound (sound under current stats)."""
        return self.w[self.b_code] * tf_norm(
            self.b_maxtf, self.b_mindl, self.adl[self.b_code], k1, b)

    # ------------------------------------------------------ bulk decode

    def _bytes(self, col: str, bsel: np.ndarray) -> np.ndarray:
        """The bytes of blocks ``bsel`` (non-empty) of one payload column,
        gathered back to back in one pass."""
        buf, off = self.payload[col]
        lo = off[bsel]
        n = off[bsel + 1] - lo
        ends = np.cumsum(n)
        return buf[np.arange(ends[-1]) + np.repeat(lo - ends + n, n)]

    def _dead(self, d: np.ndarray, eb: np.ndarray) -> np.ndarray | None:
        if self.tomb is None:
            return None
        return codec.dead_entries(self.tomb, d, self.ver, self.b_row[eb])

    def _raw_docs(self, bsel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        d = codec.decode_doc_blocks_bulk(
            self.b_first[bsel], self.b_n[bsel], self._bytes("docs", bsel))
        return d, np.repeat(bsel, self.b_n[bsel])

    def decode_docs(self, bsel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(flat doc_ids, per-entry block index) for selected blocks,
        tombstone-masked."""
        if bsel.size == 0:
            return _EMPTY_I, _EMPTY_I
        d, eb = self._raw_docs(bsel)
        dead = self._dead(d, eb)
        if dead is None:
            return d, eb
        return d[~dead], eb[~dead]

    def decode_full(self, bsel: np.ndarray):
        """(doc_ids, tfs, dls, per-entry block idx, positions) for
        selected blocks, tombstone-masked. Positions line up with
        ``repeat(doc_ids, tfs)`` and are None unless the rows carry
        ``pos``."""
        if bsel.size == 0:
            return _EMPTY_I, _EMPTY_I, _EMPTY_I, _EMPTY_I, None
        d, eb = self._raw_docs(bsel)
        tf, dl = (codec.decode_concat(self._bytes(c, bsel)).astype(np.int64)
                  for c in ("tfs", "dls"))
        pos = (codec.decode_positions(self._bytes("pos", bsel), tf)
               if "pos" in self.payload else None)
        dead = self._dead(d, eb)
        if dead is None:
            return d, tf, dl, eb, pos
        keep = ~dead
        if pos is not None:
            pos = pos[np.repeat(keep, tf)]
        return d[keep], tf[keep], dl[keep], eb[keep], pos

    def union_docs(self, codes: np.ndarray) -> np.ndarray:
        """Sorted unique docIDs matching ANY of the term codes."""
        d, _ = self.decode_docs(self.block_sel(codes))
        return np.unique(d) if d.size else _EMPTY_I


def _topk(docs: np.ndarray, scores: np.ndarray, k: int):
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def _accumulate_entries(d, tf, dl, eb, rb: "RangeBlocks",
                        k1: float, b: float):
    """Sum per-entry contributions into (unique docs, totals), in
    deterministic (doc, term code) order (see RangeBlocks)."""
    if d.size == 0:
        return _EMPTY_I, _EMPTY_F
    contrib = rb.w[rb.b_code[eb]] * tf_norm(tf, dl, rb.adl[rb.b_code[eb]], k1, b)
    perm = np.lexsort((rb.b_code[eb], d))
    uniq, inv = np.unique(d, return_inverse=True)
    totals = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(totals, inv[perm], contrib[perm])
    return uniq, totals


def score_range_topk(
    rows: pa.Table,
    weights: dict[str, float],
    must_groups: list[list[str]],
    should: list[str],
    must_not: list[str],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    prune: bool = True,
    need_total: bool = True,
    avgdl_by_term: dict[str, float] | None = None,
    tomb: tuple | None = None,
):
    """Exact top-k for one doc-range chunk of posting rows.

    Returns (doc_ids desc-by-(score, doc_id asc), scores, n_matched).
    ``rows`` holds the postings rows as an arrow table, any chunking or
    slice offset (every term of the query present in this range). A must group is satisfied by any of its terms
    (wildcard/fuzzy expansions); must_not terms exclude; scoring terms
    are all must-group members + should terms. ``n_matched`` is -1 when
    ``need_total`` is False and the pruned path skipped the exact count.
    ``avgdl_by_term`` overrides the scalar avgdl per term key (per-field
    BM25 stats, Q5). ``tomb`` masks append-mode tombstoned entries
    (see RangeBlocks); block skip metadata stays sound because masked
    entries only LOWER true scores below the stored upper bounds.
    """
    rb = RangeBlocks(rows, weights, avgdl, avgdl_by_term, tomb=tomb)
    must_groups = [sorted(set(g)) for g in must_groups]
    scoring_terms = sorted(
        {t for g in must_groups for t in g if weights.get(t)}
        | {t for t in should if weights.get(t)})
    scoring = rb.codes_for(scoring_terms)

    excl: np.ndarray | None = None
    if must_not:
        ex = rb.union_docs(rb.codes_for(sorted(set(must_not))))
        excl = ex if ex.size else None

    if scoring.size == 0:
        return _EMPTY_I, _EMPTY_F, 0

    # ---------------- conjunctive path: rarest-first intersection (Q6)
    if must_groups:
        group_codes = [rb.codes_for(g) for g in must_groups]
        if any(g.size == 0 for g in group_codes):
            return _EMPTY_I, _EMPTY_F, 0  # absent conjunct in this range
        order = sorted(range(len(group_codes)),
                       key=lambda i: int(rb.df_of_code[group_codes[i]].sum()))
        cand = rb.union_docs(group_codes[order[0]])
        for gi in order[1:]:
            if cand.size == 0:
                break
            lo, hi = int(cand[0]), int(cand[-1])
            bsel = rb.block_sel(group_codes[gi])
            bsel = bsel[(rb.b_max[bsel] >= lo) & (rb.b_first[bsel] <= hi)]
            ids, _ = rb.decode_docs(bsel)
            ids = np.unique(ids)
            cand = cand[np.isin(cand, ids, assume_unique=True)]
        if excl is not None and cand.size:
            cand = cand[~np.isin(cand, excl, assume_unique=True)]
        if cand.size == 0:
            return _EMPTY_I, _EMPTY_F, 0
        # exact scores: decode only scoring blocks containing a candidate
        bsel = rb.block_sel(scoring)
        j_lo = np.searchsorted(cand, rb.b_first[bsel])
        j_hi = np.searchsorted(cand, rb.b_max[bsel], side="right")
        bsel = bsel[j_hi > j_lo]
        d, tf, dl, eb, _ = rb.decode_full(bsel)
        pos = np.searchsorted(cand, d)
        pos_c = np.clip(pos, 0, cand.size - 1)
        hit = cand[pos_c] == d
        totals = np.zeros(cand.size, dtype=np.float64)
        contrib = rb.w[rb.b_code[eb]] * tf_norm(tf, dl, rb.adl[rb.b_code[eb]], k1, b)
        dh, ch = pos_c[hit], contrib[hit]
        perm = np.lexsort((rb.b_code[eb][hit], dh))
        np.add.at(totals, dh[perm], ch[perm])
        n_matched = int(cand.size)
        docs, scores = _topk(cand, totals, k)
        return docs, scores, n_matched

    # ---------------- disjunctive path: block-max pruned union (Q7/Q15)
    score_bsel = rb.block_sel(scoring)
    n_matched = -1
    if need_total:
        d_all, _ = rb.decode_docs(score_bsel)
        union = np.unique(d_all)
        if excl is not None:
            union = union[~np.isin(union, excl, assume_unique=True)]
        n_matched = int(union.size)
        if n_matched == 0:
            return _EMPTY_I, _EMPTY_F, 0

    total_entries = int(rb.b_n[score_bsel].sum())
    if not prune or total_entries <= 8 * max(k, 1) or scoring.size == 1:
        d, tf, dl, eb, _ = rb.decode_full(score_bsel)
        docs, totals = _accumulate_entries(d, tf, dl, eb, rb, k1, b)
        if excl is not None and docs.size:
            keep = ~np.isin(docs, excl, assume_unique=True)
            docs, totals = docs[keep], totals[keep]
        if not need_total:
            n_matched = int(docs.size)
        docs, scores = _topk(docs, totals, k)
        return docs, scores, n_matched

    ubs_all = rb.bounds(k1, b)

    # --- pass 1: upper-bound envelope over docID space (event sweep)
    starts = rb.b_first[score_bsel]
    ends = rb.b_max[score_bsel]
    ubs = ubs_all[score_bsel]
    events = np.concatenate([starts, ends + 1])
    deltas = np.concatenate([ubs, -ubs])
    order_e = np.argsort(events, kind="stable")
    events, deltas = events[order_e], deltas[order_e]
    bounds_at = np.cumsum(deltas)
    uniq_pos, last_idx = np.unique(events, return_index=True)
    next_start = np.concatenate([last_idx[1:], [events.size]])
    env = bounds_at[next_start - 1]

    # --- pass 2: seed θ from the highest-impact term's own postings
    # (each seed contribution lower-bounds that doc's full score, so
    # θ = kth largest seed contribution is a sound threshold)
    per_code_ub = np.zeros(rb.w.size, dtype=np.float64)
    np.maximum.at(per_code_ub, rb.b_code[score_bsel], ubs)
    seed_code = int(np.argmax(per_code_ub))
    seed_bsel = rb.block_sel(np.array([seed_code]))
    sd, stf, sdl, _, _ = rb.decode_full(seed_bsel)
    if excl is not None and sd.size:
        keep = ~np.isin(sd, excl)
        sd, stf, sdl = sd[keep], stf[keep], sdl[keep]
    seed_contrib = rb.w[seed_code] * tf_norm(stf, sdl, rb.adl[seed_code], k1, b)
    if sd.size >= k:
        theta = float(np.partition(seed_contrib, sd.size - k)[sd.size - k])
    else:
        theta = -math.inf

    # --- pass 3: bulk-decode + score only blocks overlapping UB>=θ
    # intervals (>= not >: with the (score desc, doc_id asc) tie-break,
    # a doc scoring exactly θ can still outrank a seed doc)
    hot = env >= theta
    hot_starts = uniq_pos[hot]
    hot_idx = np.flatnonzero(hot)
    iv_end = np.concatenate([uniq_pos[1:], [np.iinfo(np.int64).max]])
    hot_ends = iv_end[hot_idx]  # exclusive
    j = np.searchsorted(hot_starts, rb.b_max[score_bsel], side="right") - 1
    j2 = np.searchsorted(hot_ends, rb.b_first[score_bsel], side="right")
    overlap = (j >= j2) & (j >= 0)
    d, tf, dl, eb, _ = rb.decode_full(score_bsel[overlap])
    docs, totals = _accumulate_entries(d, tf, dl, eb, rb, k1, b)
    if excl is not None and docs.size:
        keep = ~np.isin(docs, excl, assume_unique=True)
        docs, totals = docs[keep], totals[keep]
    docs, scores = _topk(docs, totals, k)
    return docs, scores, n_matched


def score_range_phrase(
    rows: pa.Table,
    weights: dict[str, float],
    must_groups: list[list[str]],
    should: list[str],
    must_not: list[str],
    phrases: list[list[str]],
    base: int,
    avgdl: float,
    k1: float,
    b: float,
    avgdl_by_term: dict[str, float] | None = None,
    need_scores: bool = True,
    tomb: tuple | None = None,
):
    """Full match set of one doc-range chunk for a phrase-bearing query
    — the single-scan phrase plan (Q4). Every posting buffer of the
    range is decoded AT MOST ONCE (memoized per term), then three
    derivations run over the in-memory arrays:

      1. conjunctive candidates: every must group plus each phrase
         token (adjacency implies conjunction), rarest-group-first;
      2. positional adjacency per phrase via packed
         ``(doc-base) << 32 | pos`` key chains (same key algebra as the
         old standalone verify kernel, now over cached arrays);
      3. exact BM25 over the surviving candidates, accumulated in
         (doc, term code) order — bit-identical to the conjunctive
         path of :func:`score_range_topk`.

    Replaces the previous three-subtree plan (score scan + candidate
    re-scan + positions scan) with one partition-pruned postings read.
    Returns (docs asc, scores, n_matched). ``need_scores=False`` skips
    step 3 (NOT-phrase membership checks) and returns zero scores.
    ``tomb`` masks append-mode tombstoned entries, positions included.
    """
    rb = RangeBlocks(rows, weights, avgdl, avgdl_by_term, tomb=tomb)
    base64 = np.int64(base)
    cache: dict[int, tuple] = {}

    def full(code: int):
        """Memoized whole-term :meth:`RangeBlocks.decode_full`."""
        if code not in cache:
            cache[code] = rb.decode_full(rb.block_sel(
                np.array([code], dtype=np.int64)))
        return cache[code]

    def union_docs(codes: np.ndarray) -> np.ndarray:
        if codes.size == 0:
            return _EMPTY_I
        parts = [full(int(c))[0] for c in codes]
        d = np.concatenate(parts) if len(parts) > 1 else parts[0]
        return np.unique(d) if d.size else _EMPTY_I

    groups = [sorted(set(g)) for g in must_groups]
    groups += [[t] for ph in phrases for t in ph]
    group_codes = [rb.codes_for(g) for g in groups]
    if any(gc.size == 0 for gc in group_codes):
        return _EMPTY_I, _EMPTY_F, 0  # absent conjunct in this range

    order = sorted(range(len(group_codes)),
                   key=lambda i: int(rb.df_of_code[group_codes[i]].sum()))
    cand = union_docs(group_codes[order[0]])
    for gi in order[1:]:
        if cand.size == 0:
            return _EMPTY_I, _EMPTY_F, 0
        ids = union_docs(group_codes[gi])
        cand = cand[np.isin(cand, ids, assume_unique=True)]
    if must_not:
        ex = union_docs(rb.codes_for(sorted(set(must_not))))
        if ex.size and cand.size:
            cand = cand[~np.isin(cand, ex, assume_unique=True)]
    if cand.size == 0:
        return _EMPTY_I, _EMPTY_F, 0

    def pos_keys(token: str) -> np.ndarray:
        """Sorted ``local_doc<<32 | pos`` keys of one token, restricted
        to the current candidate set (local offsets < 2**range_bits
        keep the packed key inside int64 at 10^12-scale doc ids)."""
        code = rb.code_of.get(token)
        if code is None:
            return _EMPTY_I
        d, tf, _dl, _eb, pos = full(code)
        if d.size == 0 or pos is None:
            return _EMPTY_I
        keep = np.isin(d, cand, assume_unique=True)
        ekeep = np.repeat(keep, tf)
        local = d[keep] - base64
        keys = (np.repeat(local, tf[keep]) << np.int64(32)) | pos[ekeep]
        keys.sort()
        return keys

    for ph in phrases:
        cur = pos_keys(ph[0])
        for i, t in enumerate(ph[1:], 1):
            if cur.size == 0:
                break
            # local<<32|p survives iff local<<32|(p+i) carries token i
            # (positions fit 32 bits, so +i never crosses documents)
            cur = cur[np.isin(cur + np.int64(i), pos_keys(t))]
        docs_ph = ((np.unique(cur >> np.int64(32)) + base64)
                   if cur.size else _EMPTY_I)
        cand = cand[np.isin(cand, docs_ph, assume_unique=True)]
        if cand.size == 0:
            return _EMPTY_I, _EMPTY_F, 0

    if not need_scores:
        return cand, np.zeros(cand.size, dtype=np.float64), int(cand.size)

    scoring_terms = sorted(
        {t for g in must_groups for t in g if weights.get(t)}
        | {t for t in should if weights.get(t)}
        | {t for ph in phrases for t in ph if weights.get(t)})
    scoring = rb.codes_for(scoring_terms)
    totals = np.zeros(cand.size, dtype=np.float64)
    if scoring.size:
        parts = [full(int(c)) for c in scoring]
        d = np.concatenate([p[0] for p in parts])
        tf = np.concatenate([p[1] for p in parts])
        dl = np.concatenate([p[2] for p in parts])
        eb = np.concatenate([p[3] for p in parts])
        j = np.searchsorted(cand, d)
        j_c = np.clip(j, 0, cand.size - 1)
        hit = cand[j_c] == d
        contrib = rb.w[rb.b_code[eb]] * tf_norm(
            tf, dl, rb.adl[rb.b_code[eb]], k1, b)
        dh, ch = j_c[hit], contrib[hit]
        perm = np.lexsort((rb.b_code[eb][hit], dh))
        np.add.at(totals, dh[perm], ch[perm])
    return cand, totals, int(cand.size)
