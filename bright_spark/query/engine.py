"""SearchEngine — the read path, end to end (SURVEY.md §3.1).

Reference lifecycle: param parse -> Bleve query AST -> searcher tree ->
TopNCollector -> hit post-processing (`handlers/search.go:16-177`).
Spark lifecycle here:

  SearchRequest -> parser (pure Python AST) -> Planner (maps clauses to
  postings/term_stats/docs structures) -> one BM25 scorer, the per-range
  block-max kernels (:func:`scorer.score_range_topk`,
  :func:`scorer.score_range_phrase`), run by one of two executors,
  chosen before anything runs and named in ``SearchResponse.path``:

  * ``local``  (scored term/bool, wildcard, fuzzy, positional phrase
    and ``=``-filtered queries whose reads are small): pyarrow reads
    the bucket-pruned posting row groups on the driver, the kernels run
    once per ``range_id`` over arrow slices of that read, and one merge
    yields the total and the top-k. ``=`` filters intersect the kernels' full match sets with a
    doc-id allowlist read from the docs columns. Term dictionary,
    expansions, tombstones and hit assembly are driver-side reads as
    well: zero Spark jobs. The engine's pinned catalog keeps the row
    groups these reads load (``catalog.RowGroupCache``, bounded by
    ``catalog.LOCAL_READ_MAX_BYTES``), so a repeated search reads no
    parquet. A new engine starts cold unless it shares a cache: an
    ``IndexStore`` hands its engines the one cache its writes publish
    into, so an engine it re-pins after a commit starts warm.
  * ``spark``  (everything else): partition-pruned postings scan ->
    groupBy(range_id) applyInArrow of the same kernels. Plain
    term/bool shapes ask each range for its exact top-k + match count
    and collect those <= k rows per range into the same driver-side
    merge. Every other shape takes the full match set (``k=None``)
    followed by plain joins (:meth:`SearchEngine._spark_matches`):
    non-positional phrases run their tokens as must groups and re-
    tokenize the candidates' stored text, carrying their scores through
    (:meth:`_verify_phrases`);
    NOT-phrases anti-join a sub-query's match set; match-all is every
    docs ``doc_id`` at score 1.0 less the docs holding a NOT-term;
    attribute predicates semi-join the filtered docs table; custom
    sorts join their sort columns.

Selection rule: ``local`` whenever the query has a positive clause, no
NOT-phrase, no custom sort and no phrase on a non-positional index, and
the parquet row groups it reads — those whose ``term`` min/max covers a
query term in the pruned bucket files of every delta-chain dir, plus
the ``=``-filtered docs columns — hold fewer footer-reported bytes than
``catalog.LOCAL_READ_MAX_BYTES``; otherwise ``spark``. A ``local``
search whose term dictionary, expansion or hit assembly read does not
fit that budget runs that read as a Spark job, and reports ``spark``.
``search_df``/``match_df`` always return lazy Spark DataFrames.
"""

from __future__ import annotations

import sys
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.index.builder import _slices_by
from bright_spark.index.catalog import IndexCatalog, RowGroupCache, fits_local
from bright_spark.index.mutations import (_DECODE_COLS, ENTRIES_SCHEMA,
                                          _decode_to_entries)
from bright_spark.models import SearchRequest, SearchRequestError, SearchResponse
from bright_spark.query import scorer
from bright_spark.query.parser import parse_query
from bright_spark.query.planner import AnalyzedQuery, AttrPred, Planner

_KERNEL_SCHEMA = "doc_id BIGINT, score DOUBLE, range_id BIGINT, range_matched BIGINT"

# posting columns the kernels read (``pos`` only for phrases)
_KERNEL_COLUMNS = ["field", "term", "range_id", "df_chunk", "first_doc",
                   "max_doc", "n", "max_tf", "min_dl", "docs", "tfs", "dls",
                   "ver"]

# posting columns the entry decode of a NOT-term reads
_ENTRY_COLUMNS = [c for c in _DECODE_COLS if c != "pos"]

# docs column types whose cast-to-string equality pyarrow computes
# exactly as Spark does (Spark renders 1.0 as "1.0", arrow as "1")
_LOCAL_EQ_TYPES = {"string", "bigint", "int", "smallint", "tinyint", "boolean"}

# (field, term) -> one flat kernel key. \x1f (ASCII unit separator) is
# never produced by either tokenizer mode's emissions in practice; the
# key only has to be unambiguous per query, not globally escaped.
FIELD_SEP = "\x1f"

# term-dictionary cache size past which the next lookup clears it
_DF_CACHE_MAX = 1 << 16


def fkey(field: str, term: str) -> str:
    return f"{field}{FIELD_SEP}{term}"


@dataclass
class KernelArgs:
    """One query's per-range kernel inputs, derived once: flat term keys
    per role, BM25 weights and per-term avgdl, corpus constants, and the
    (field, term) posting rows to fetch."""
    weights: dict[str, float]
    avgdls: dict[str, float]
    must_groups: list[list[str]]
    should: list[str]
    must_not: list[str]
    phrases: list[list[str]]
    needed: list[tuple[str, str]]
    avgdl: float
    k1: float
    b: float
    range_bits: int

    def score(self, range_id: int, rows: pa.Table, k: int | None,
              prune: bool = True, need_total: bool = True,
              need_scores: bool = True, tomb: tuple | None = None):
        """(docs, scores, n_matched) of one range. Phrase queries return
        the range's full match set; otherwise the exact top-k, or the
        full match set when ``k`` is None."""
        if self.phrases:
            return scorer.score_range_phrase(
                rows, self.weights, self.must_groups, self.should,
                self.must_not, self.phrases,
                base=range_id << self.range_bits, avgdl=self.avgdl,
                k1=self.k1, b=self.b, avgdl_by_term=self.avgdls,
                need_scores=need_scores, tomb=tomb)
        if k is None:
            k, prune = sys.maxsize, False
        return scorer.score_range_topk(
            rows, self.weights, self.must_groups, self.should, self.must_not,
            k=k, avgdl=self.avgdl, k1=self.k1, b=self.b, prune=prune,
            need_total=need_total, avgdl_by_term=self.avgdls, tomb=tomb)


def _topk_shape(aq: AnalyzedQuery) -> bool:
    """Plain term/bool shapes, whose kernel stage can return each range's
    exact top-k; every other shape needs the full match set."""
    return aq.has_positive and not (aq.attr_preds or aq.phrases
                                    or aq.must_not_phrases)


def merge_ranges(parts: Iterable[tuple[np.ndarray, np.ndarray, int]],
                 k: int) -> tuple[int, list[tuple[int, float]]]:
    """Per-range kernel outputs (docs, scores, n_matched) -> (total,
    top-k hits by score desc, doc_id asc): the one merge both the local
    and the spark top-k execution end in."""
    parts = list(parts)
    if not parts:
        return 0, []
    docs, scores = scorer._topk(
        np.concatenate([p[0] for p in parts]).astype(np.int64),
        np.concatenate([p[1] for p in parts]).astype(np.float64), k)
    return (sum(int(p[2]) for p in parts),
            list(zip(docs.tolist(), scores.tolist())))


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 snapshot_id: int | None = None,
                 max_expansions: int | None = None,
                 on_overflow: str = "error",
                 cache: RowGroupCache | None = None):
        """``cache``: the read cache of the engine's catalog (an
        ``IndexStore``'s, to share its files); without one the catalog
        makes its own (catalog.py)."""
        self.spark = spark
        self.catalog = IndexCatalog(index_dir, snapshot_id=snapshot_id,
                                    cache=cache)
        # pin every read of this engine to one snapshot: queries are
        # immune to concurrent mutation commits (the poll-loop ingestor
        # commits while searches run), and ``snapshot_id`` time-travels
        # to any retained snapshot
        self.snapshot_id = self.catalog.pin()
        self.planner = Planner(spark, self.catalog,
                               max_expansions=max_expansions,
                               on_overflow=on_overflow)
        self.meta = self.planner.meta
        self.extra = self.planner.extra
        self._df_cache: dict[tuple[str, str], int] = {}
        # append-mode tombstones of the pinned snapshot: every decode
        # kernel masks dead entries with them (driver-side array read)
        self._tomb = self.catalog.tombstones()
        self._tomb_broadcast = None

    @property
    def _tomb_bc(self):
        """The tombstones as a Spark broadcast (None when there are
        none), created the first time a Spark kernel needs it."""
        if self._tomb is not None and self._tomb_broadcast is None:
            self._tomb_broadcast = self.spark.sparkContext.broadcast(
                self._tomb)
        return self._tomb_broadcast

    # ----------------------------------------------------------- utils

    def _field_avgdl(self, field: str) -> float:
        fs = self.meta.get("field_stats") or {}
        return float(fs.get(field, {}).get("avgdl", self.meta["avgdl"]))

    def _term_dfs(self, pairs: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """df per (field, term), via a driver-side dictionary cache (the
        hot term-dictionary an engine keeps resident; absent terms cache
        as 0 so repeated misses don't re-scan). The engine lives as long
        as its snapshot, so the cache is cleared once it passes
        ``_DF_CACHE_MAX`` entries; concurrent searches share it. The
        fetch itself is the bucket-pruned term_stats lookup
        (:meth:`IndexCatalog.term_dfs`)."""
        cache = self._df_cache
        if len(cache) > _DF_CACHE_MAX:
            cache.clear()
        # the answer is built from what this call found or fetched: a
        # concurrent search may clear the shared cache at any point
        found = {p: cache.get(p) for p in pairs}
        missing = [p for p, df in found.items() if df is None]
        if missing:
            got = self.catalog.term_dfs(self.spark, missing)
            for p in missing:
                found[p] = cache[p] = got.get(p, 0)
        return found

    def _term_weights(self, aq: AnalyzedQuery) -> tuple[dict[str, float],
                                                        dict[str, float]]:
        """(boost * idf, field avgdl) per scoring term, both keyed by
        the flat kernel key (driver-side: k small rows)."""
        specs = aq.scoring_terms
        if not specs:
            return {}, {}
        dfs = self._term_dfs([s.key for s in specs])
        n = int(self.meta["n_docs"])
        w, adl = {}, {}
        for s in specs:
            df = dfs.get(s.key, 0)
            if df > 0:
                k = fkey(s.field, s.term)
                w[k] = s.boost * float(scorer.idf(n, df))
                adl[k] = self._field_avgdl(s.field)
        return w, adl

    def _attr_filter(self, preds: list[AttrPred]):
        cond = None
        for p in preds:
            col = F.col(p.column)
            if p.op == "=":
                c = col.cast("string") == p.value
            elif p.op == ">":
                c = col > p.value
            elif p.op == ">=":
                c = col >= p.value
            elif p.op == "<":
                c = col < p.value
            elif p.op == "<=":
                c = col <= p.value
            elif p.op == "between":
                c = (col >= p.value) & (col <= p.hi)
            elif p.op == "like":
                c = col.cast("string").like(p.value)
            else:
                raise ValueError(f"bad attr op {p.op}")
            if p.negated:
                c = ~c
            cond = c if cond is None else (cond & c)
        return cond

    # ----------------------------------------------- per-range kernels

    def _kernel_args(self, aq: AnalyzedQuery) -> KernelArgs | None:
        """The per-range kernel inputs of ``aq`` (terms, phrases and
        must-nots; attribute predicates are applied by the callers), or
        None when it cannot match: no scoring term has postings, a must
        group has no term with postings, or a phrase token has none
        (Q6)."""
        weights, avgdls = self._term_weights(aq)

        def keys(specs) -> list[str]:
            return [k for k in (fkey(s.field, s.term) for s in specs)
                    if k in weights]

        must_groups = [keys(g) for g in aq.must_groups]
        phrases = [[fkey(ph.field, t) for t in ph.tokens]
                   for ph in aq.phrases]
        if (not weights or not all(must_groups)
                or any(k not in weights for ph in phrases for k in ph)):
            return None
        must_not_pairs = sorted(set(aq.must_not_terms))
        return KernelArgs(
            weights=weights, avgdls=avgdls, must_groups=must_groups,
            should=keys(aq.should_terms),
            must_not=[fkey(f, t) for f, t in must_not_pairs],
            phrases=phrases,
            needed=sorted({s.key for s in aq.scoring_terms
                           if fkey(*s.key) in weights} | set(must_not_pairs)),
            avgdl=float(self.meta["avgdl"]), k1=float(self.meta["k1"]),
            b=float(self.meta["b"]),
            range_bits=int(self.meta["range_bits"]))

    def _kernel_df(self, a: KernelArgs, k: int | None = None,
                   prune: bool = True, need_total: bool = True,
                   need_scores: bool = True) -> DataFrame:
        """Spark executor: partition-pruned postings of ``a.needed`` ->
        groupBy(range_id) applyInArrow of :meth:`KernelArgs.score` ->
        (doc_id, score, range_id, range_matched), at most ``k`` rows per
        range (all matches when ``k`` is None)."""
        rows = (self.catalog.postings_for_terms(self.spark, a.needed)
                .withColumn("term",
                            F.concat_ws(FIELD_SEP, "field", "term"))
                .drop("field"))
        if not a.phrases:
            rows = rows.drop("pos")
        tomb_bc = self._tomb_bc

        def kernel(key, tab):
            rid = key[0].as_py()
            docs, scores, n = a.score(
                rid, tab, k, prune=prune, need_total=need_total,
                need_scores=need_scores,
                tomb=tomb_bc.value if tomb_bc is not None else None)
            return pa.table({
                "doc_id": docs, "score": scores,
                "range_id": np.full(docs.size, rid, dtype=np.int64),
                "range_matched": np.full(docs.size, n, dtype=np.int64),
            })

        return rows.groupBy("range_id").applyInArrow(kernel, _KERNEL_SCHEMA)

    def _wand_hits(self, aq: AnalyzedQuery, k: int, prune: bool = True,
                   need_total: bool = True) -> DataFrame:
        """Per-range kernel -> (doc_id, score, range_id, range_matched).
        ``need_total=False`` lets the pruned kernel skip the exact
        match count (range_matched = -1) — top-k only callers."""
        a = self._kernel_args(aq)
        if a is None:
            return self.spark.createDataFrame([], _KERNEL_SCHEMA)
        return self._kernel_df(a, k, prune=prune, need_total=need_total)

    def _wand_topk(self, a: KernelArgs | None,
                   k: int) -> tuple[int, list[tuple[int, float]]]:
        """The spark top-k of :meth:`search`: one job collects each range's
        <= k kernel rows, merged on the driver."""
        if a is None:
            return 0, []
        tab = self._kernel_df(a, k).toArrow()
        _, first = np.unique(tab["range_id"].to_numpy(), return_index=True)
        return merge_ranges([(tab["doc_id"].to_numpy(), tab["score"].to_numpy(),
                              tab["range_matched"].to_numpy()[first].sum())], k)

    # -------------------------------------------------------- local path

    def _local_reads(self, aq: AnalyzedQuery, a: KernelArgs | None):
        """The driver-side reads of a local execution — the postings of
        ``a.needed`` and, for ``=`` filters, the filtered docs columns —
        or None when they do not fit the read budget, a filter column
        type rules the driver out or the docs DDL is not recorded."""
        post = allow = None
        nbytes = 0
        if a is not None:
            post = self.catalog.postings_read(
                a.needed, _KERNEL_COLUMNS + (["pos"] if a.phrases else []))
            nbytes += post.nbytes
            if aq.attr_preds:
                cols = self.planner.doc_columns()
                if any(p.op != "=" or cols.get(p.column) not in _LOCAL_EQ_TYPES
                       for p in aq.attr_preds):
                    return None
                allow = self.catalog.docs_read(
                    columns=sorted({p.column for p in aq.attr_preds}))
                if allow is None:  # no recorded docs DDL
                    return None
                nbytes += allow.nbytes
        return (post, allow) if fits_local(nbytes) else None

    @staticmethod
    def _allowlist(tab: pa.Table, preds: list[AttrPred]) -> np.ndarray:
        """doc_ids passing every ``=`` predicate: :meth:`_attr_filter`'s
        cast-to-string equality, negation and SQL null semantics (a null
        comparison keeps no row, negated or not)."""
        mask = None
        for p in preds:
            c = pc.equal(pc.cast(tab[p.column], pa.string()), p.value)
            if p.negated:
                c = pc.invert(c)
            mask = c if mask is None else pc.and_kleene(mask, c)
        return np.unique(tab.filter(mask)["doc_id"].to_numpy())

    def _local_topk(self, aq: AnalyzedQuery, a: KernelArgs | None, reads,
                    k: int) -> tuple[int, list[tuple[int, float]]]:
        """The local path of :meth:`search`: the kernels run once per
        range_id over the driver-read posting rows; with ``=`` filters
        each range's full match set is intersected with the allowlist."""
        if a is None:
            return 0, []
        post, allow = reads
        tab = post.read()
        tab = tab.set_column(
            tab.schema.get_field_index("term"), "term",
            pc.binary_join_element_wise(tab["field"], tab["term"], FIELD_SEP)
        ).drop_columns(["field"]).sort_by("range_id")
        ok = (self._allowlist(allow.read(), aq.attr_preds)
              if allow is not None else None)
        parts = []
        for rid, g in _slices_by(tab, tab["range_id"].to_numpy()):
            docs, scores, n = a.score(rid, g, None if ok is not None else k,
                                      tomb=self._tomb)
            if ok is not None:
                keep = np.isin(docs, ok)
                docs, scores, n = docs[keep], scores[keep], int(keep.sum())
            parts.append((docs, scores, n))
        return merge_ranges(parts, k)

    # ------------------------------------------------------ spark path

    def _spark_matches(self, aq: AnalyzedQuery) -> DataFrame:
        """Full match set (doc_id, score) on Spark: the kernel stage with
        ``k=None``, then plain joins for what the kernels do not see
        (non-positional phrase adjacency, NOT-phrases, match-all,
        attribute predicates)."""
        docs_df = self.catalog.docs(self.spark)
        if aq.has_positive:
            a = self._kernel_args(aq)
            if a is None:
                return self.spark.createDataFrame(
                    [], "doc_id BIGINT, score DOUBLE")
            verify = bool(a.phrases) and not self.meta.get("store_positions")
            if verify:
                # adjacency implies conjunction: each phrase token is its
                # own must group, so only the AND-candidates' stored text
                # is re-tokenized
                a = replace(a, phrases=[], must_groups=a.must_groups + [
                    [t] for ph in a.phrases for t in ph])
            out = self._kernel_df(a).select("doc_id", "score")
            if verify:
                out = self._verify_phrases(out, aq.phrases, docs_df)
        else:
            # match-all / filter-only / pure negation: every doc, score 1
            # (Q1 — handlers/search.go:91-92), less the NOT-term holders
            out = docs_df.select("doc_id").withColumn("score", F.lit(1.0))
            if aq.must_not_terms:
                neg = (self.catalog.postings_for_terms(
                           self.spark, sorted(set(aq.must_not_terms)))
                       .select(*_ENTRY_COLUMNS)
                       .mapInArrow(_decode_to_entries(tomb_bc=self._tomb_bc),
                                   ENTRIES_SCHEMA)
                       .select("doc_id").distinct())
                out = out.join(neg, "doc_id", "left_anti")
        for ph in aq.must_not_phrases:
            neg = self._spark_matches(AnalyzedQuery(phrases=[ph]))
            out = out.join(neg.select("doc_id"), "doc_id", "left_anti")
        if aq.attr_preds:
            keep = docs_df.filter(self._attr_filter(aq.attr_preds))
            out = out.join(keep.select("doc_id"), "doc_id", "left_semi")
        return out

    def _verify_phrases(self, cand: DataFrame, phrases: list,
                        docs_df: DataFrame) -> DataFrame:
        """Q4 adjacency on a non-positional index: the (doc_id, score)
        rows of ``cand`` whose docs match ALL ``phrases``. Re-runs the
        BATCH analyzer over only the AND-candidate docs' own field text
        and chains packed ``doc<<32 | pos`` keys — the same flat-array
        adjacency algebra as the positional kernel, with zero per-row
        Python (the tokenizer's regex scan is the only per-doc work)."""
        lang_col = self.extra["lang_col"]
        mode = self.meta["tokenizer"]
        stops = bool(self.meta["filter_stopwords"])
        fields = sorted({ph.field for ph in phrases})
        by_field = [(f, [list(ph.tokens) for ph in phrases if ph.field == f])
                    for f in fields]
        cols = ["doc_id"] + fields + ([lang_col] if lang_col else [])
        # the candidates' scores ride through the verify, so the kernel
        # stage behind ``cand`` is consumed (and run) once
        joined = docs_df.select(*cols).join(
            F.broadcast(cand.select("doc_id", "score")), "doc_id")

        def verify(batches: Iterator[pa.RecordBatch]
                   ) -> Iterator[pa.RecordBatch]:
            from bright_spark.analysis.tokenizer import count_terms_batch
            empty = np.empty(0, dtype=np.int64)
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                langs = (batch.column(lang_col).to_pylist() if lang_col
                         else [None] * n)
                ok = np.ones(n, dtype=bool)
                for f, phs in by_field:
                    texts = pc.fill_null(batch.column(f), "").to_pylist()
                    term_arr, tf_arr, _, pos_arr = count_terms_batch(
                        texts, mode, langs, stops, positions=True)
                    lens = np.fromiter((len(t) for t in term_arr),
                                       np.int64, n)
                    if lens.sum() == 0:
                        ok[:] = False
                        continue
                    flat_terms = np.concatenate(
                        [np.asarray(t, dtype=object) for t in term_arr])
                    flat_tf = np.concatenate(
                        [np.asarray(t, dtype=np.int64) for t in tf_arr])
                    flat_doc = np.repeat(np.arange(n, dtype=np.int64), lens)
                    flat_pos = np.concatenate(
                        [np.asarray(p, dtype=np.int64) for p in pos_arr])
                    ent_start = np.concatenate(
                        ([0], np.cumsum(flat_tf)[:-1]))
                    keys_cache: dict[str, np.ndarray] = {}

                    def keys_of(token: str) -> np.ndarray:
                        """Sorted doc<<32|pos keys of one token over
                        the whole batch (ragged gather, no row loop)."""
                        if token in keys_cache:
                            return keys_cache[token]
                        sel = np.flatnonzero(flat_terms == token)
                        if sel.size == 0:
                            keys_cache[token] = empty
                            return empty
                        L = flat_tf[sel]
                        total = int(L.sum())
                        offs = np.concatenate(([0], np.cumsum(L)[:-1]))
                        ar = (np.arange(total, dtype=np.int64)
                              - np.repeat(offs, L)
                              + np.repeat(ent_start[sel], L))
                        keys = ((np.repeat(flat_doc[sel], L) << np.int64(32))
                                | flat_pos[ar])
                        keys.sort()
                        keys_cache[token] = keys
                        return keys

                    for ph in phs:
                        cur = keys_of(ph[0])
                        for i, t in enumerate(ph[1:], 1):
                            if cur.size == 0:
                                break
                            cur = cur[np.isin(cur + np.int64(i),
                                              keys_of(t))]
                        docs_ph = (np.unique(cur >> np.int64(32))
                                   if cur.size else empty)
                        hit = np.zeros(n, dtype=bool)
                        hit[docs_ph] = True
                        ok &= hit
                yield batch.select(["doc_id", "score"]).filter(pa.array(ok))

        return joined.mapInArrow(verify, "doc_id BIGINT, score DOUBLE")

    # ------------------------------------------------------ public API

    def search_df(self, q: str, k: int = 10,
                  prune: bool = True) -> DataFrame:
        """Top-k hits as a DataFrame (doc_id, score), default sort
        (-_score, doc_id), always on Spark. ``prune=False`` turns off the
        kernels' block-max skipping (the WAND-exactness reference)."""
        aq = self.planner.analyze(parse_query(q))
        if _topk_shape(aq):
            hits = (self._wand_hits(aq, k, prune=prune, need_total=False)
                    .select("doc_id", "score"))
        else:
            hits = self._spark_matches(aq)
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def match_df(self, q: str) -> DataFrame:
        """Full exactly-scored match set (doc_id, score) on Spark, for
        callers that need the complete result (delete-by-filter U3,
        differential tests)."""
        return self._spark_matches(self.planner.analyze(parse_query(q)))

    def _choose_path(self, aq: AnalyzedQuery, custom_sort: list[str]):
        """(path, kernel args, local reads), decided before anything
        executes (see the module docstring's selection rule)."""
        if (not aq.has_positive or aq.must_not_phrases or custom_sort
                or (aq.phrases and not self.meta.get("store_positions"))):
            return "spark", None, None
        a = self._kernel_args(aq)
        reads = self._local_reads(aq, a)
        return ("local" if reads is not None else "spark"), a, reads

    def search(self, request: SearchRequest | str) -> SearchResponse:
        """Full request semantics R1-R6 (handlers/search.go:20-177)."""
        req = SearchRequest(q=request) if isinstance(request, str) else request
        req.validate()
        # an expired snapshot raises here, before the term-dictionary or
        # row-group caches could answer for it
        self.catalog.manifest()
        k_eff = req.effective_offset + req.limit
        fallbacks = self.catalog.spark_fallbacks()

        aq = self.planner.analyze(parse_query(req.q))
        custom_sort = [s for s in (req.sort or []) if s.lstrip("-") != "_score"]
        path, a, reads = self._choose_path(aq, custom_sort)
        if path == "local":
            total, hits = self._local_topk(aq, a, reads, k_eff)
        elif _topk_shape(aq) and not custom_sort:
            total, hits = self._wand_topk(a, k_eff)
        else:
            cand = self._spark_matches(aq)
            cand.persist()
            try:
                total = cand.count()
                order = self._order_cols(req)
                scored = self._join_sort_fields(cand, req)
                hit_rows = scored.orderBy(*order).limit(k_eff).collect()
            finally:
                cand.unpersist()
            hits = [(r["doc_id"], r["score"]) for r in hit_rows]

        hits = hits[req.effective_offset:]
        resp = self._assemble(req, hits, int(total))
        resp.truncated_expansions = list(aq.truncated_expansions)
        # a driver-side read that ran a Spark job instead (term
        # dictionary, expansion, hit assembly) makes it a Spark search
        resp.path = ("spark" if self.catalog.spark_fallbacks() != fallbacks
                     else path)
        return resp

    def _order_cols(self, req: SearchRequest):
        """R2: sort[]=[-]field, default -_score; doc_id tiebreak."""
        cols = []
        for s in req.sort or ["-_score"]:
            desc = s.startswith("-")
            name = s.lstrip("-+")
            col = F.col("score") if name == "_score" else F.col(name)
            cols.append(col.desc() if desc else col.asc())
        cols.append(F.col("doc_id").asc())
        return cols

    def _join_sort_fields(self, cand: DataFrame, req: SearchRequest) -> DataFrame:
        fields = {s.lstrip("-+") for s in (req.sort or []) if s.lstrip("-+") != "_score"}
        if not fields:
            return cand
        docs_df = self.catalog.docs(self.spark).select("doc_id", *sorted(fields))
        return cand.join(docs_df, "doc_id")

    def _assemble(self, req: SearchRequest, hits: list[tuple[int, float]],
                  total: int) -> SearchResponse:
        """R3-R6: projections, id injection, envelope."""
        if not hits:
            return SearchResponse(hits=[], total_hits=total, limit=req.limit)
        ids = [int(d) for d, _ in hits]
        scores = {int(d): float(s) for d, s in hits}
        # group-dir-pruned fetch: a top-k assembly reads at most k doc
        # group dirs, never the whole docs table
        cols = None
        if req.attributes_to_retrieve:
            have = self.planner.doc_columns()
            cols = [c for c in req.attributes_to_retrieve if c in have]
        by_id = self.catalog.doc_records(self.spark, ids, cols)
        out = []
        for d in ids:
            rec = dict(by_id.get(d, {"doc_id": d}))
            if "content_sha256" not in req.attributes_to_retrieve:
                # internal build column — the reference returns the
                # user's document fields, not index bookkeeping
                rec.pop("content_sha256", None)
            for c in req.attributes_to_exclude:
                rec.pop(c, None)  # R4 post-filter (search.go:161-166)
            if "id" not in rec:
                rec["id"] = str(d)  # R5 id injection (search.go:156-158)
            rec["_score"] = scores[d]
            out.append(rec)
        return SearchResponse(hits=out, total_hits=total, limit=req.limit)
