"""SearchEngine — the read path, end to end (SURVEY.md §3.1).

Reference lifecycle: param parse -> Bleve query AST -> searcher tree ->
TopNCollector -> hit post-processing (`handlers/search.go:16-177`).
Spark lifecycle here:

  SearchRequest -> parser (pure Python AST) -> Planner (maps clauses to
  postings/term_stats/docs structures) -> one of three executions,
  chosen before anything runs and named in ``SearchResponse.path``:

  * ``local``      (scored term/bool, wildcard, fuzzy, positional
    phrase and ``=``-filtered queries whose reads are small): pyarrow
    reads the bucket-pruned posting row groups on the driver, the same
    per-range kernels (:func:`scorer.score_range_topk`,
    :func:`scorer.score_range_phrase`) run once per ``range_id``, and
    one merge yields the total and the top-k. ``=`` filters intersect
    the kernels' full match sets with a doc-id allowlist read from the
    docs columns. Term dictionary, expansions, tombstones and hit
    assembly are driver-side reads as well: zero Spark jobs.
  * ``wand``       (the same term/bool shapes when the reads are too
    large for the driver): partition-pruned postings scan ->
    groupBy(range_id) applyInPandas of the same block-max kernel (per-
    range exact top-k + exact match count) -> one collect of those <= k
    rows per range -> the same driver-side merge.
  * ``relational`` (range/like filters, non-positional phrases, NOT-
    phrases, match-all, custom sorts, large phrase/filter queries, and
    the differential-testing path): decode postings to an exploded
    (term, doc_id, tf, dl) view -> broadcast-join per-term weights ->
    groupBy(doc_id) score sum + must-group counting -> docs-predicate
    semi-joins -> orderBy/limit.

Selection rule: ``local`` whenever the query's shape allows it and the
parquet row groups it reads — those whose ``term`` min/max covers a
query term in the pruned bucket files of every delta-chain dir, plus
the filtered docs columns — hold fewer footer-reported bytes than
``catalog.LOCAL_READ_MAX_BYTES``; otherwise ``wand`` when the shape
allows it, else ``relational``. ``search_df``/``match_df`` always
return lazy Spark DataFrames (wand or relational).
"""

from __future__ import annotations

import sys
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.index.catalog import IndexCatalog, fits_local
from bright_spark.models import SearchRequest, SearchRequestError, SearchResponse
from bright_spark.query import scorer
from bright_spark.query.parser import parse_query
from bright_spark.query.planner import AnalyzedQuery, AttrPred, Planner

_KERNEL_SCHEMA = "doc_id BIGINT, score DOUBLE, range_id BIGINT, range_matched BIGINT"

# posting columns the kernels read (``pos`` only for phrases)
_KERNEL_COLUMNS = ["field", "term", "range_id", "df_chunk", "first_doc",
                   "max_doc", "n", "max_tf", "min_dl", "docs", "tfs", "dls",
                   "ver"]

# docs column types whose cast-to-string equality pyarrow computes
# exactly as Spark does (Spark renders 1.0 as "1.0", arrow as "1")
_LOCAL_EQ_TYPES = {"string", "bigint", "int", "smallint", "tinyint", "boolean"}

# (field, term) -> one flat kernel key. \x1f (ASCII unit separator) is
# never produced by either tokenizer mode's emissions in practice; the
# key only has to be unambiguous per query, not globally escaped.
FIELD_SEP = "\x1f"


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

    def score(self, range_id: int, pdf: pd.DataFrame, k: int | None,
              prune: bool = True, need_total: bool = True,
              need_scores: bool = True, tomb: tuple | None = None):
        """(docs, scores, n_matched) of one range. Phrase queries return
        the range's full match set; otherwise the exact top-k, or the
        full match set when ``k`` is None."""
        if self.phrases:
            return scorer.score_range_phrase(
                pdf, self.weights, self.must_groups, self.should,
                self.must_not, self.phrases,
                base=range_id << self.range_bits, avgdl=self.avgdl,
                k1=self.k1, b=self.b, avgdl_by_term=self.avgdls,
                need_scores=need_scores, tomb=tomb)
        if k is None:
            k, prune = sys.maxsize, False
        return scorer.score_range_topk(
            pdf, self.weights, self.must_groups, self.should, self.must_not,
            k=k, avgdl=self.avgdl, k1=self.k1, b=self.b, prune=prune,
            need_total=need_total, avgdl_by_term=self.avgdls, tomb=tomb)


def _top(docs: np.ndarray, scores: np.ndarray, k: int):
    order = np.lexsort((docs, -scores))[:k]
    return docs[order], scores[order]


def merge_ranges(parts: Iterable[tuple[np.ndarray, np.ndarray, int]],
                 k: int) -> tuple[int, list[tuple[int, float]]]:
    """Per-range kernel outputs (docs, scores, n_matched) -> (total,
    top-k hits by score desc, doc_id asc): the one merge both the local
    and the wand executor end in."""
    parts = list(parts)
    if not parts:
        return 0, []
    docs, scores = _top(
        np.concatenate([p[0] for p in parts]).astype(np.int64),
        np.concatenate([p[1] for p in parts]).astype(np.float64), k)
    return (sum(int(p[2]) for p in parts),
            list(zip(docs.tolist(), scores.tolist())))


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 snapshot_id: int | None = None,
                 max_expansions: int | None = None,
                 on_overflow: str = "error"):
        self.spark = spark
        self.catalog = IndexCatalog(index_dir, snapshot_id=snapshot_id)
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
        as 0 so repeated misses don't re-scan). The fetch itself is the
        bucket-pruned term_stats lookup (:meth:`IndexCatalog.term_dfs`)."""
        missing = [p for p in pairs if p not in self._df_cache]
        if missing:
            got = self.catalog.term_dfs(self.spark, missing)
            for p in missing:
                self._df_cache[p] = got.get(p, 0)
        return {p: self._df_cache[p] for p in pairs}

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
            range_bits=int(self.meta.get("range_bits") or 0))

    def _kernel_df(self, a: KernelArgs, k: int | None = None,
                   prune: bool = True, need_total: bool = True,
                   need_scores: bool = True) -> DataFrame:
        """Spark executor: partition-pruned postings of ``a.needed`` ->
        groupBy(range_id) applyInPandas of :meth:`KernelArgs.score` ->
        (doc_id, score, range_id, range_matched), at most ``k`` rows per
        range (all matches when ``k`` is None)."""
        rows = (self.catalog.postings_for_terms(self.spark, a.needed)
                .withColumn("term",
                            F.concat_ws(FIELD_SEP, "field", "term"))
                .drop("field"))
        if not a.phrases:
            rows = rows.drop("pos")
        tomb_bc = self._tomb_bc

        def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            docs, scores, n = a.score(
                int(key[0]), pdf, k, prune=prune, need_total=need_total,
                need_scores=need_scores,
                tomb=tomb_bc.value if tomb_bc is not None else None)
            return pd.DataFrame({
                "doc_id": docs, "score": scores,
                "range_id": np.full(docs.size, int(key[0]), dtype=np.int64),
                "range_matched": np.full(docs.size, n, dtype=np.int64),
            })

        return rows.groupBy("range_id").applyInPandas(kernel, _KERNEL_SCHEMA)

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
        """The wand path of :meth:`search`: one job collects each range's
        <= k kernel rows, merged on the driver."""
        if a is None:
            return 0, []
        rows = self._kernel_df(a, k).collect()
        matched = {r["range_id"]: r["range_matched"] for r in rows}
        return merge_ranges([(np.array([r["doc_id"] for r in rows], np.int64),
                              np.array([r["score"] for r in rows], np.float64),
                              sum(matched.values()))], k)

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
            pc.binary_join_element_wise(tab["field"], tab["term"], FIELD_SEP))
        pdf = tab.drop_columns(["field"]).to_pandas()
        ok = (self._allowlist(allow.read(), aq.attr_preds)
              if allow is not None else None)
        parts = []
        for rid, g in pdf.groupby("range_id", sort=False):
            docs, scores, n = a.score(int(rid), g, None if ok is not None else k,
                                      tomb=self._tomb)
            if ok is not None:
                keep = np.isin(docs, ok)
                docs, scores, n = docs[keep], scores[keep], int(keep.sum())
            parts.append((docs, scores, n))
        return merge_ranges(parts, k)

    # ------------------------------------------------- relational path

    def _exploded_postings(self, pairs: list[tuple[str, str]]) -> DataFrame:
        """Decoded (field, term, doc_id, tf, dl) view — vectorized
        varint decode in mapInPandas; everything downstream is built-in
        ops."""
        rows = self.catalog.postings_for_terms(self.spark, pairs)
        sel = rows.select("field", "term", "first_doc", "n",
                          "docs", "tfs", "dls", "ver")
        tomb_bc = self._tomb_bc

        def decode_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bright_spark.index import codec
            tomb = tomb_bc.value if tomb_bc is not None else None
            for pdf in batches:
                if not len(pdf):
                    continue
                nb = pdf["first_doc"].str.len().to_numpy(dtype=np.int64)
                first = np.concatenate(pdf["first_doc"].to_numpy()).astype(np.int64)
                ns = np.concatenate(pdf["n"].to_numpy()).astype(np.int64)
                bufs_d = [buf for row in pdf["docs"] for buf in row]
                bufs_t = [buf for row in pdf["tfs"] for buf in row]
                bufs_l = [buf for row in pdf["dls"] for buf in row]
                if not bufs_d:
                    continue
                d = codec.decode_doc_blocks_bulk(first, ns, bufs_d)
                t = codec.decode_concat(bufs_t).astype(np.int64)
                l = codec.decode_concat(bufs_l).astype(np.int64)
                block_terms = np.repeat(pdf["term"].to_numpy(), nb)
                block_fields = np.repeat(pdf["field"].to_numpy(), nb)
                fields_e = np.repeat(block_fields, ns)
                terms_e = np.repeat(block_terms, ns)
                if tomb is not None and d.size:
                    # append-mode mask: entry dead iff its doc is
                    # tombstoned at a LATER version than its row
                    tids, tvers = tomb
                    ever = np.repeat(np.repeat(
                        pdf["ver"].fillna(0).to_numpy(np.int64), nb), ns)
                    idx = np.searchsorted(tids, d)
                    idxc = np.minimum(idx, tids.size - 1)
                    drop = (tids[idxc] == d) & (ever < tvers[idxc])
                    if drop.any():
                        keep = ~drop
                        d, t, l = d[keep], t[keep], l[keep]
                        fields_e, terms_e = fields_e[keep], terms_e[keep]
                yield pd.DataFrame({
                    "field": fields_e,
                    "term": terms_e,
                    "doc_id": d,
                    "tf": t,
                    "dl": l,
                })

        return sel.mapInPandas(
            decode_fn,
            "field STRING, term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT")

    def _relational_hits(self, aq: AnalyzedQuery) -> DataFrame:
        """Exhaustively scored match set: (doc_id, score). The pure-
        DataFrame execution (SURVEY.md §7 step 1) used for filters,
        phrases, custom sorts, and differential testing."""
        weights, avgdls = self._term_weights(aq)
        k1 = float(self.meta["k1"])
        b = float(self.meta["b"])
        docs_df = self.catalog.docs(self.spark)

        def known(s) -> bool:
            return fkey(s.field, s.term) in weights

        pos_specs: list[tuple[tuple[str, str], float, int]] = []  # key, w, group
        for gi, g in enumerate(aq.must_groups):
            for s in g:
                if known(s):
                    pos_specs.append((s.key, weights[fkey(*s.key)], gi))
        for s in aq.should_terms:
            if known(s):
                pos_specs.append((s.key, weights[fkey(*s.key)], -1))
        # each phrase token is its own conjunctive group: adjacency
        # implies conjunction, so verification only scans the (small)
        # AND-candidate set instead of the union of hot terms
        gi = len(aq.must_groups)
        for ph in aq.phrases:
            for t in ph.tokens:
                if fkey(ph.field, t) in weights:
                    pos_specs.append(((ph.field, t),
                                      weights[fkey(ph.field, t)], gi))
                    gi += 1
        n_groups = gi
        unsatisfiable = any(
            all(not known(s) for s in g) for g in aq.must_groups
        ) or (aq.phrases and any(fkey(ph.field, t) not in weights
                                 for ph in aq.phrases for t in ph.tokens))

        if aq.has_positive and (not pos_specs or unsatisfiable):
            return self.spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")

        # single-scan phrase plan (positional indexes): ONE partition-
        # pruned postings read feeds candidate intersection, positional
        # adjacency AND exact scoring inside one per-range kernel —
        # the old plan ran three decode subtrees (score, candidate
        # re-scan, positions) over the same term-pruned postings
        if aq.phrases and self.meta.get("store_positions"):
            cand = self._phrase_hits_onepass(aq)
            for ph in aq.must_not_phrases:
                cand = cand.join(self._phrase_matches(ph, docs_df),
                                 "doc_id", "left_anti")
            if aq.attr_preds:
                keep = docs_df.filter(
                    self._attr_filter(aq.attr_preds)).select("doc_id")
                cand = cand.join(keep, "doc_id", "left_semi")
            return cand

        if not aq.has_positive:
            # match-all / filter-only / pure-negation: constant score 1
            # (Q1: every doc, score 1 — handlers/search.go:91-92)
            out = docs_df.select("doc_id").withColumn("score", F.lit(1.0))
            if aq.must_not_terms:
                neg = (self._exploded_postings(sorted(set(aq.must_not_terms)))
                       .select("doc_id").distinct())
                out = out.join(neg, "doc_id", "left_anti")
            for ph in aq.must_not_phrases:
                out = out.join(self._phrase_matches(ph, docs_df),
                               "doc_id", "left_anti")
            cond = self._attr_filter(aq.attr_preds) if aq.attr_preds else None
            if cond is not None:
                keep = docs_df.filter(cond).select("doc_id")
                out = out.join(keep, "doc_id", "left_semi")
            return out

        # (field, term) -> (weight, field avgdl, must-group ids it can
        # satisfy)
        agg: dict[tuple[str, str], tuple[float, set[int]]] = {}
        for key, w, g in pos_specs:
            prev = agg.get(key, (w, set()))
            groups = prev[1] | ({g} if g >= 0 else set())
            agg[key] = (max(prev[0], w), groups)
        wdf = self.spark.createDataFrame(
            [(f, t, w, sorted(gs), avgdls[fkey(f, t)])
             for (f, t), (w, gs) in sorted(agg.items())],
            "field STRING, term STRING, w DOUBLE, groups ARRAY<INT>, adl DOUBLE",
        )
        exploded = self._exploded_postings(sorted(agg))
        tfn = (F.col("tf") * (k1 + 1.0)) / (
            F.col("tf") + k1 * (1.0 - b
                                + b * F.col("dl") / F.greatest(F.col("adl"),
                                                               F.lit(1e-9))))
        contrib = (exploded.join(F.broadcast(wdf), ["field", "term"])
                   .withColumn("contrib", F.col("w") * tfn))
        per_doc = (contrib.groupBy("doc_id")
                   .agg(F.sum("contrib").alias("score"),
                        F.size(F.array_distinct(
                            F.flatten(F.collect_list("groups")))).alias("n_g")))
        cand = per_doc.filter(F.col("n_g") >= n_groups) if n_groups else per_doc
        cand = cand.select("doc_id", "score")

        if aq.must_not_terms:
            neg = (self._exploded_postings(sorted(set(aq.must_not_terms)))
                   .select("doc_id").distinct())
            cand = cand.join(neg, "doc_id", "left_anti")

        if aq.phrases:
            # (non-positional fallback) the candidate frame is consumed
            # twice — once broadcast into the content re-verify, once in
            # the final semi-join; a lazy localCheckpoint materializes
            # the decode+score subtree exactly once
            cand = cand.localCheckpoint(eager=False)
            cand = self._verify_phrases(cand, aq.phrases, docs_df)

        for ph in aq.must_not_phrases:
            cand = cand.join(self._phrase_matches(ph, docs_df),
                             "doc_id", "left_anti")

        if aq.attr_preds:
            cond = self._attr_filter(aq.attr_preds)
            keep = docs_df.filter(cond).select("doc_id")
            cand = cand.join(keep, "doc_id", "left_semi")
        return cand

    def _phrase_hits_onepass(self, aq: AnalyzedQuery) -> DataFrame:
        """Q4 one-pass execution: postings (incl. positions) of the
        query's terms, partition-pruned, grouped by range —
        :func:`scorer.score_range_phrase` does candidates + adjacency +
        scoring per range from a single decode. Emits the FULL match
        set (doc_id, score) like the relational path."""
        a = self._kernel_args(aq)
        if a is None:
            return self.spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")
        return self._kernel_df(a).select("doc_id", "score")

    def _exploded_positions(self, pairs: list[tuple[str, str]]) -> DataFrame:
        """(field, term, doc_id, pos ARRAY<BIGINT>) decoded from
        positional postings (store_positions indexes only)."""
        rows = self.catalog.postings_for_terms(self.spark, pairs)
        sel = rows.select("field", "term", "first_doc", "n",
                          "docs", "tfs", "pos", "ver")
        tomb_bc = self._tomb_bc

        def decode_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bright_spark.index import codec
            tomb = tomb_bc.value if tomb_bc is not None else None
            for pdf in batches:
                if not len(pdf):
                    continue
                out_f, out_t, out_d, out_p = [], [], [], []
                for row in pdf.itertuples(index=False):
                    ns = np.asarray(row.n, dtype=np.int64)
                    d = codec.decode_doc_blocks_bulk(
                        np.asarray(row.first_doc, dtype=np.int64), ns,
                        list(row.docs))
                    tf = codec.decode_concat(list(row.tfs)).astype(np.int64)
                    pos = codec.decode_concat(list(row.pos)).astype(np.int64)
                    if tomb is not None and d.size:
                        tids, tvers = tomb
                        rv = (np.int64(row.ver) if pd.notna(row.ver)
                              else np.int64(0))
                        idx = np.searchsorted(tids, d)
                        idxc = np.minimum(idx, tids.size - 1)
                        drop = (tids[idxc] == d) & (rv < tvers[idxc])
                        if drop.any():
                            keep = ~drop
                            pos = pos[np.repeat(keep, tf)]
                            d, tf = d[keep], tf[keep]
                    bounds = np.concatenate(([0], np.cumsum(tf)))
                    out_f.extend([row.field] * d.size)
                    out_t.extend([row.term] * d.size)
                    out_d.extend(d.tolist())
                    out_p.extend(pos[bounds[i]:bounds[i + 1]]
                                 for i in range(d.size))
                if out_t:
                    yield pd.DataFrame({"field": out_f, "term": out_t,
                                        "doc_id": out_d, "pos": out_p})

        return sel.mapInPandas(
            decode_fn,
            "field STRING, term STRING, doc_id BIGINT, pos ARRAY<BIGINT>")

    def _verify_phrases_positional(self, cand: DataFrame,
                                   phrases: list) -> DataFrame:
        """Q4 adjacency from the positional index alone (no content
        scan), fully vectorized: per doc-range group, each token's
        (doc, position) pairs become one sorted int64 array of
        ``doc_id << 32 | pos`` keys; a phrase survives via a chain of
        ``isin(prev + 1, next_token_keys)`` filters (adjacency in key
        space), and a doc matches iff every phrase leaves it a
        surviving start. No per-document Python — the same flat-array
        style as the WAND kernel."""
        token_keys = [[fkey(ph.field, t) for t in ph.tokens]
                      for ph in phrases]
        pairs = sorted({(ph.field, t) for ph in phrases for t in ph.tokens})
        range_bits = int(self.meta["range_bits"])
        pos_df = (self._exploded_positions(pairs)
                  .join(F.broadcast(cand.select("doc_id")), "doc_id", "left_semi")
                  .withColumn("k", F.concat_ws(FIELD_SEP, "field", "term"))
                  .withColumn("range_id",
                              F.shiftright("doc_id", range_bits))
                  .select("range_id", "k", "doc_id", "pos"))

        def verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            empty = np.empty(0, dtype=np.int64)
            # range-LOCAL doc offsets (< 2**range_bits) keep the packed
            # doc|pos key inside int64 even at 10^12-scale doc ids
            base = np.int64(int(key[0])) << np.int64(range_bits)
            flat: dict[str, np.ndarray] = {}
            for k, grp in pdf.groupby("k"):
                docs = grp["doc_id"].to_numpy(dtype=np.int64) - base
                lens = grp["pos"].str.len().to_numpy(dtype=np.int64)
                if lens.sum() == 0:
                    flat[k] = empty
                    continue
                pos = np.concatenate(grp["pos"].to_numpy()).astype(np.int64)
                keys64 = (np.repeat(docs, lens) << np.int64(32)) | pos
                keys64.sort()
                flat[k] = keys64
            ok: np.ndarray | None = None
            for ks in token_keys:
                cur = flat.get(ks[0], empty)
                for i, t in enumerate(ks[1:], 1):
                    if cur.size == 0:
                        break
                    nxt = flat.get(t, empty)
                    # local<<32|p survives iff local<<32|(p+i) has token
                    # i (positions fit 32 bits, so +i never crosses docs)
                    cur = cur[np.isin(cur + np.int64(i), nxt,
                                      assume_unique=False)]
                docs_ph = np.unique(cur >> np.int64(32))
                ok = docs_ph if ok is None else np.intersect1d(
                    ok, docs_ph, assume_unique=True)
                if ok.size == 0:
                    break
            out = (ok + base) if ok is not None and ok.size else empty
            return pd.DataFrame({"doc_id": out})

        ok = pos_df.groupBy("range_id").applyInPandas(verify, "doc_id BIGINT")
        return cand.join(ok, "doc_id", "left_semi")

    def _verify_phrases(self, cand: DataFrame, phrases: list,
                        docs_df: DataFrame) -> DataFrame:
        """Q4 positional adjacency: keep only ``cand`` docs matching ALL
        ``phrases``. Positional indexes verify from the postings alone
        (:meth:`_verify_phrases_positional`); otherwise re-run the
        BATCH analyzer over only the AND-candidate docs' own field text
        and chain packed ``doc<<32 | pos`` keys — the same flat-array
        adjacency algebra as the positional kernel, with zero per-row
        Python (the tokenizer's regex scan is the only per-doc work)."""
        if self.meta.get("store_positions"):
            return self._verify_phrases_positional(cand, phrases)
        lang_col = self.extra.get("lang_col")
        mode = self.meta.get("tokenizer", "code")
        stops = bool(self.meta.get("filter_stopwords"))
        fields = sorted({ph.field for ph in phrases})
        by_field = [(f, [list(ph.tokens) for ph in phrases if ph.field == f])
                    for f in fields]
        cols = ["doc_id"] + fields + ([lang_col] if lang_col else [])
        joined = docs_df.select(*cols).join(
            F.broadcast(cand.select("doc_id")), "doc_id", "left_semi")

        def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bright_spark.analysis.tokenizer import count_terms_batch
            empty = np.empty(0, dtype=np.int64)
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                langs = (pdf[lang_col].tolist() if lang_col else [None] * n)
                ok = np.ones(n, dtype=bool)
                for f, phs in by_field:
                    texts = pdf[f].fillna("").tolist()
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
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64)[ok]})

        ok = joined.mapInPandas(verify, "doc_id BIGINT")
        return cand.join(ok, "doc_id", "left_semi")

    def _phrase_matches(self, ph, docs_df: DataFrame) -> DataFrame:
        """All doc_ids matching one phrase (used for NOT-phrase
        exclusion, Q8). Positional indexes run the same one-pass
        kernel as positive phrases with scoring skipped (one postings
        scan, membership only); otherwise AND-candidates from the
        postings + content re-tokenization verify."""
        if self.meta.get("store_positions"):
            a = self._kernel_args(AnalyzedQuery(phrases=[ph]))
            if a is None:
                return self.spark.createDataFrame([], "doc_id BIGINT")
            return self._kernel_df(a, need_scores=False).select("doc_id")
        toks = sorted(set(ph.tokens))
        pairs = [(ph.field, t) for t in toks]
        ex = self._exploded_postings(pairs)
        cand = (ex.groupBy("doc_id")
                .agg(F.count_distinct("term").alias("n_t"))
                .filter(F.col("n_t") >= len(toks))
                .select("doc_id"))
        return self._verify_phrases(cand, [ph], docs_df).select("doc_id")

    # ------------------------------------------------------ public API

    def search_df(self, q: str, k: int = 10, mode: str = "auto",
                  prune: bool = True) -> DataFrame:
        """Top-k hits as a DataFrame (doc_id, score), default sort
        (-_score, doc_id). ``mode``: auto | wand | relational."""
        aq = self.planner.analyze(parse_query(q))
        use_wand = (mode == "wand" or (
            mode == "auto" and aq.has_positive and not aq.attr_preds
            and not aq.phrases and not aq.is_match_all)
        ) and not aq.must_not_phrases
        if use_wand:
            hits = (self._wand_hits(aq, k, prune=prune, need_total=False)
                    .select("doc_id", "score"))
        else:
            hits = self._relational_hits(aq)
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def match_df(self, q: str) -> DataFrame:
        """Full exhaustively-scored match set (doc_id, score) — the
        relational path, for callers that need the complete result
        (delete-by-filter U3, custom sorts, differential tests)."""
        aq = self.planner.analyze(parse_query(q))
        return self._relational_hits(aq)

    def _choose_path(self, aq: AnalyzedQuery, custom_sort: list[str],
                     mode: str):
        """(path, kernel args, local reads), decided before anything
        executes (see the module docstring's selection rule)."""
        if (mode == "relational" or not aq.has_positive
                or aq.must_not_phrases or custom_sort
                or (aq.phrases and not self.meta.get("store_positions"))):
            return "relational", None, None
        a = self._kernel_args(aq)
        reads = self._local_reads(aq, a)
        if reads is not None:
            return "local", a, reads
        wand = not aq.attr_preds and not aq.phrases
        return ("wand" if wand else "relational"), a, None

    def search(self, request: SearchRequest | str, mode: str = "auto") -> SearchResponse:
        """Full request semantics R1-R6 (handlers/search.go:20-177)."""
        req = SearchRequest(q=request) if isinstance(request, str) else request
        req.validate()
        k_eff = req.effective_offset + req.limit

        aq = self.planner.analyze(parse_query(req.q))
        custom_sort = [s for s in (req.sort or []) if s.lstrip("-") != "_score"]
        path, a, reads = self._choose_path(aq, custom_sort, mode)
        if path == "local":
            total, hits = self._local_topk(aq, a, reads, k_eff)
        elif path == "wand":
            total, hits = self._wand_topk(a, k_eff)
        else:
            cand = self._relational_hits(aq)
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
        resp.path = path
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
