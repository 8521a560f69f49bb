"""Document mutations + incremental index maintenance (U1-U4, S5/S6).

Reference semantics:
- upsert: adding a doc with an existing id replaces it
  (handlers/documents.go:181-198, store/store.go:409-426)
- delete by id list (documents.go:231-234) and delete by query filter
  (documents.go:235-248, store/store.go:450-512)
- partial update: fetch stored doc, merge fields, re-index
  (documents.go:280-320)
- incremental source sync applies the same callbacks from a polled
  changeset (ingresses/postgres/poller.go) — here, callers pass the
  changed rows; checkpointing the watermark belongs to the caller's
  ingestion job (see checkpoints.CheckpointStore).

Physical strategy — the scorch model (`store/store.go:392-426` hands
batches to Bleve scorch, which appends immutable segments, masks dead
docs with a deleted-bitmap, and merges in the background) rebuilt on
the snapshot catalog, so a mutation commit is **O(batch)**:

  append mode (default for broadcast-sized change sets):
    docs        only the doc-range GROUPS containing changed ids are
                re-versioned (copy-on-write; new version dirs)
    postings    the new batch's entries merge into small DELTA version
                dirs APPENDED to their buckets' pointer chains — the
                existing postings are never read, decoded or rewritten
    tombstones  replaced/deleted ids land in a tiny (doc_id, ver)
                table; query kernels mask entries written before their
                doc's tombstone version (newer re-adds stay live)
    term_stats  SIGNED df/cf delta rows (− from re-tokenizing the
                replaced docs, + from the new batch) append to the
                affected buckets' stats chains; readers sum per term
    meta        n_docs / per-field token totals advance by integer
                deltas — bit-identical to recomputation

  consolidation (``compact()``, auto-triggered when a pointer chain
  exceeds ``compact_threshold``): scorch's background merger as an
  explicit, amortized operator. Targets: the chained buckets, or every
  bucket when tombstones exist. Selection: every row of a chained
  bucket, plus, when tombstones exist, the target rows whose
  ``range_id`` holds a tombstoned id. Selected rows decode (one bulk
  varint pass per column, dead entries dropped), re-merge and get the
  compaction's version; the other rows are copied unchanged, ``ver``
  included. Each target bucket becomes one version dir, stats chains
  collapse to their summed rows, the tombstone table clears. Between
  compactions every file in a bucket chain stays term-sorted and
  bounded (files_per_bucket per dir), so reads stay pruned.
  Two executions, one rule: when the footer-reported bytes of the
  target postings dirs and chained term_stats dirs fit
  ``catalog.fits_local`` (the read path's gate), the driver reads them
  with pyarrow, runs the same decode/merge kernels and writes one
  sorted file per bucket with zero Spark jobs; otherwise the same
  selection runs as Spark stages (a range-id plan literal up to 1024
  ranges, every row of the targets above that). The commit's metrics
  say which (``mode``: ``driver`` or ``spark``).

  rewrite mode (forced via ``mode="rewrite"``, and the automatic path
  for beyond-broadcast change sets): the pre-append behavior — affected
  buckets' touched rows decode (restricted to the CHANGED doc ranges;
  other rows are a JVM passthrough), changed ids drop ver-aware against
  existing tombstones (no resurrection), and those buckets consolidate
  in place. Stats maintenance is the same signed-delta path.

Everything becomes visible in ONE atomic manifest commit (catalog.py
write protocol) — a crash mid-mutation leaves the previous snapshot
untouched, and readers pinned to it never see a torn index. Block
(max_tf, min_dl) skip metadata stays sound under masking: dead entries
only lower true scores below the stored upper bounds.

Invariant (tested): mutate-then-query == full-rebuild-then-query, in
both modes, including across compaction.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.index import codec
from bright_spark.index.builder import (
    PARTIALS_SCHEMA,
    IndexBuilder,
    _make_assign_ids_fn,
    _make_merge_fn,
    _make_tokenize_fn,
    _make_tokenize_partials_fn,
    stage_docs_write,
    stage_postings_write,
)
from bright_spark.index.catalog import (
    POSTINGS_ARROW,
    POSTINGS_KERNEL_SCHEMA,
    TERM_STATS_ARROW,
    IndexCatalog,
    fits_local,
    term_bucket_col,
    write_part,
)

# columns the decode kernels need from a posting row
_DECODE_COLS = ["field", "term", "range_id",
                "first_doc", "n", "docs", "tfs", "dls", "pos", "ver"]

_EMPTY = np.empty(0, dtype=np.int64)
_NEVER_LIVE = np.iinfo(np.int64).max


def _kill_set(tomb=None, drop_ids=None):
    """One sorted (doc_ids, versions) kill set: a posting entry is dead
    iff its doc id is in the set at a version LATER than the entry's
    row. Tombstones keep their versions (newer re-adds stay live); the
    ids of a mutation's change set die at every version. None = nothing
    to kill."""
    parts = [] if tomb is None else [tomb]
    if drop_ids is not None and len(drop_ids):
        ids = np.asarray(drop_ids, dtype=np.int64)
        parts.append((ids, np.full(ids.size, _NEVER_LIVE, np.int64)))
    if not parts or not sum(p[0].size for p in parts):
        return None
    ids = np.concatenate([p[0] for p in parts])
    vers = np.concatenate([p[1] for p in parts])
    order = np.lexsort((vers, ids))
    ids, vers = ids[order], vers[order]
    last = np.concatenate([ids[1:] != ids[:-1], [True]])
    return ids[last], vers[last]


def _flat(col: pd.Series) -> list:
    return [v for cell in col for v in cell]


def _decode_rows(pdf: pd.DataFrame, store_positions: bool, kill=None):
    """Every entry of a batch of posting rows, decoded in ONE bulk varint
    pass per column, minus the entries ``kill`` (:func:`_kill_set`)
    marks dead — one vectorized ``searchsorted`` for the whole batch.

    Returns (row, doc_ids, tfs, dls, pos): per surviving entry the index
    of its row in ``pdf``, in row then doc order; ``pos`` holds the
    surviving entries' positions back to back (entry i owns ``tfs[i]``
    values), empty unless ``store_positions``."""
    nb = (pdf["first_doc"].str.len().to_numpy(np.int64) if len(pdf)
          else _EMPTY)
    if not nb.sum():
        return _EMPTY, _EMPTY, _EMPTY, _EMPTY, _EMPTY
    ns = np.concatenate(pdf["n"].to_numpy()).astype(np.int64)
    first = np.concatenate(pdf["first_doc"].to_numpy()).astype(np.int64)
    d = codec.decode_doc_blocks_bulk(first, ns, _flat(pdf["docs"]))
    t = codec.decode_concat(_flat(pdf["tfs"])).astype(np.int64)
    l = codec.decode_concat(_flat(pdf["dls"])).astype(np.int64)
    pos = (codec.decode_concat(_flat(pdf["pos"])).astype(np.int64)
           if store_positions else _EMPTY)
    row = np.repeat(np.repeat(np.arange(len(pdf)), nb), ns)
    if kill is not None:
        kids, kvers = kill
        idx = np.minimum(np.searchsorted(kids, d), kids.size - 1)
        hit = kids[idx] == d
        if hit.any():
            # files from layouts before the ver column read it as null:
            # version 0, the oldest
            ver = pdf["ver"].to_numpy(np.int64, na_value=0)
            drop = hit & (ver[row] < kvers[idx])
            if drop.any():
                keep = ~drop
                if pos.size:
                    pos = pos[np.repeat(keep, t)]
                row, d, t, l = row[keep], d[keep], t[keep], l[keep]
    return row, d, t, l, pos


def _decode_partials(pdf: pd.DataFrame, store_positions: bool,
                    kill=None) -> pd.DataFrame | None:
    """Posting rows -> partial-run rows (PARTIALS_SCHEMA) of their live
    entries; a row with no live entry emits nothing."""
    row, d, t, l, pos = _decode_rows(pdf, store_positions, kill)
    if not d.size:
        return None
    starts = np.concatenate(([0], np.flatnonzero(np.diff(row)) + 1))
    src = row[starts]
    bounds = np.append(starts, d.size)
    pos_bounds = np.append(0, np.cumsum(t))[bounds]
    return pd.DataFrame({
        "field": pdf["field"].to_numpy()[src],
        "term": pdf["term"].to_numpy()[src],
        "range_id": pdf["range_id"].to_numpy(np.int64)[src],
        "doc_ids": _runs(d, bounds), "tfs": _runs(t, bounds),
        "dls": _runs(l, bounds),
        "pos": (_runs(pos, pos_bounds) if store_positions
                else [_EMPTY] * src.size)})


def _runs(a: np.ndarray, bounds: np.ndarray) -> list[np.ndarray]:
    """``a`` cut at ``bounds`` (first 0, last ``a.size``): one view per
    run."""
    b = bounds.tolist()
    return [a[s:e] for s, e in zip(b[:-1], b[1:])]


def _decode_to_partials(store_positions: bool = False, drop_bc=None,
                        tomb_bc=None):
    """mapInPandas form of :func:`_decode_partials`, dropping (a) every
    doc id in the ``drop_bc`` broadcast (the mutation's change set — a
    sorted int64 numpy array, broadcast rather than a plan literal so
    million-row change sets don't explode the query plan), and (b)
    tombstoned entries, VERSION-AWARE: an entry survives if its row was
    written at or after its doc's tombstone version — re-encoding at
    the new snapshot version must never resurrect dead entries."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kill = _kill_set(tomb_bc.value if tomb_bc is not None else None,
                         drop_bc.value if drop_bc is not None else None)
        for pdf in batches:
            out = _decode_partials(pdf, store_positions, kill)
            if out is not None:
                yield out

    return fn


ENTRIES_SCHEMA = ("field STRING, term STRING, range_id BIGINT, "
                  "doc_id BIGINT, tf BIGINT, dl BIGINT, pos ARRAY<BIGINT>")


def _decode_to_entries(store_positions: bool = False, tomb_bc=None):
    """Posting rows -> one row per posting ENTRY (the exploded form the
    huge-change-set path anti-joins against the changed-id DataFrame —
    no driver collect, no executor broadcast). Tombstoned entries are
    dropped here, version-aware."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kill = _kill_set(tomb_bc.value if tomb_bc is not None else None)
        for pdf in batches:
            row, d, t, l, pos = _decode_rows(pdf, store_positions, kill)
            if not d.size:
                continue
            yield pd.DataFrame({
                "field": pdf["field"].to_numpy()[row],
                "term": pdf["term"].to_numpy()[row],
                "range_id": pdf["range_id"].to_numpy(np.int64)[row],
                "doc_id": d, "tf": t, "dl": l,
                "pos": (_runs(pos, np.append(0, np.cumsum(t)))
                        if store_positions else [_EMPTY] * d.size)})

    return fn


class IndexMutator:
    # change sets up to this many ids travel as one numpy broadcast
    # (append mode / broadcast drop); above it (a driver-OOM regime at
    # ~10^8 ids) the mutation switches to the rewrite path with an
    # entry-level anti-join
    BROADCAST_THRESHOLD = 2_000_000

    # change sets up to this many ids run entirely on the driver with
    # the same kernels (fastpath.py) — a head-node operation, like the
    # reference's in-process Bleve batch; above it the distributed
    # stages take over
    FAST_THRESHOLD = 10_000
    FAST_MAX_GROUP_BYTES = 256 << 20

    def __init__(self, spark: SparkSession, index_dir: str,
                 broadcast_threshold: int | None = None,
                 mode: str = "auto", compact_threshold: int = 8,
                 fast: str = "auto", fast_threshold: int | None = None,
                 fast_max_group_bytes: int | None = None):
        """``mode``: 'auto' (append when the change set fits the
        broadcast regime, else rewrite), 'append', or 'rewrite'.
        ``compact_threshold``: auto-compact when any bucket's pointer
        chain grows past this many dirs (0 disables).
        ``fast``: 'auto' (small batches commit driver-side, zero Spark
        jobs) or 'never' (always run the distributed stages)."""
        if mode not in ("auto", "append", "rewrite"):
            raise ValueError(f"unknown mutation mode {mode!r}")
        if fast not in ("auto", "never"):
            raise ValueError(f"unknown fast mode {fast!r}")
        self.spark = spark
        self.catalog = IndexCatalog(index_dir)
        self.config = self.catalog.load_config()
        self.extra = self.catalog.load_extra()
        self.broadcast_threshold = (self.BROADCAST_THRESHOLD
                                    if broadcast_threshold is None
                                    else broadcast_threshold)
        self.mode = mode
        self.compact_threshold = compact_threshold
        self.fast = fast
        self.fast_threshold = (self.FAST_THRESHOLD if fast_threshold is None
                               else fast_threshold)
        self.fast_max_group_bytes = (
            self.FAST_MAX_GROUP_BYTES if fast_max_group_bytes is None
            else fast_max_group_bytes)

    def _fast_enabled(self) -> bool:
        return self.fast == "auto" and self.mode != "rewrite"

    # ------------------------------------------------------- internals

    def _builder(self) -> IndexBuilder:
        return IndexBuilder(
            self.spark, self.config, self.catalog.index_dir,
            content_col=self.extra.get("content_col", "content"),
            key_cols=tuple(self.extra.get("key_cols") or ()),
            id_col=self.extra.get("id_col"),
            lang_col=self.extra.get("lang_col"),
            attr_cols=tuple(self.extra.get("attr_cols") or ()),
            text_cols=tuple(self.extra.get("text_cols") or ()),
            filter_stopwords=bool(self.extra.get("filter_stopwords")),
        )

    def _field_partials(self, rows: DataFrame) -> DataFrame:
        """Per-field partial posting rows for ``rows`` (must carry
        ``doc_id`` + every analyzed field column): the same fused
        tokenize+combine kernel the bulk build uses (B1), one namespace
        per field (Q5)."""
        b = self._builder()
        cols = ["doc_id"] + b.field_cols + ([b.lang_col] if b.lang_col else [])
        return rows.select(*cols).mapInPandas(
            _make_tokenize_partials_fn(
                b.field_cols, b.lang_col, self.config.tokenizer,
                b.filter_stopwords, self.config.range_bits,
                store_positions=self.config.store_positions),
            schema=PARTIALS_SCHEMA)

    @staticmethod
    def _signed_stats(partials: DataFrame, sign: int) -> DataFrame:
        """Partial posting rows -> SIGNED per-(field, term) df/cf
        contributions: df = ±(docs in the run), cf = ±Σtf."""
        return partials.select(
            "field", "term",
            (F.lit(sign) * F.size("doc_ids").cast("bigint")).alias("df"),
            (F.lit(sign) * F.expr(
                "aggregate(tfs, 0L, (acc, x) -> acc + x)")).alias("cf"))

    def _stats_delta(self, replaced_partials: DataFrame | None,
                     new_partials: DataFrame | None) -> DataFrame:
        parts = []
        if replaced_partials is not None:
            parts.append(self._signed_stats(replaced_partials, -1))
        if new_partials is not None:
            parts.append(self._signed_stats(new_partials, 1))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return (u.groupBy("field", "term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .filter((F.col("df") != 0) | (F.col("cf") != 0)))

    def _key_cols(self) -> list[str]:
        if self.extra.get("id_col"):
            return ["doc_id"]
        return list(self.extra.get("key_cols") or ("repo", "path", "commit"))

    def _tokenize_updates(self, updates: DataFrame) -> DataFrame:
        """Compute doc_len/sha256 for changed rows and assign doc_ids:
        existing natural keys keep their id (upsert replaces,
        store.go:416); new keys get ids above the current max, ranked by
        natural key."""
        b = self._builder()
        keys = self._key_cols()
        if self.extra.get("id_col"):
            updates = (updates.withColumnRenamed(self.extra["id_col"], "doc_id")
                       .withColumn("doc_id", F.col("doc_id").cast("bigint")))
        src = updates.withColumn(
            "content_sha256", F.sha2(F.col(b.content_col), 256))
        if not b.filter_stopwords:
            # JVM doc_len (exact tokenizer parity — builder fast path)
            from bright_spark.analysis.tokenizer import doc_len_sql
            tokenized = src.withColumn(
                "doc_len",
                F.coalesce(F.expr(doc_len_sql(b.content_col,
                                              self.config.tokenizer)),
                           F.lit(0)).cast("int"))
        else:
            tokenized = src.mapInPandas(
                _make_tokenize_fn(b.content_col, b.lang_col,
                                  self.config.tokenizer,
                                  b.filter_stopwords, list(src.columns)),
                schema=", ".join(f"{f.name} {f.dataType.simpleString()}"
                                 for f in src.schema.fields) + ", doc_len INT")
        if self.extra.get("id_col"):
            return tokenized
        docs = self.catalog.docs(self.spark).select(*keys, "doc_id")
        joined = tokenized.join(docs, keys, "left")
        olds = joined.filter(F.col("doc_id").isNotNull())
        news_src = joined.filter(F.col("doc_id").isNull()).drop("doc_id")
        # new keys get dense ids above the current max via the builder's
        # per-partition offset scheme (builder._keyed): one key-only
        # count pass fixes offsets, then each partition assigns locally.
        # No global window — a first full sync through StreamingIngestor
        # IS a large upsert batch, and a single-task rank would be its
        # straggler at 10^12 docs. max_doc_id reads only the top doc
        # group dir (groups are id ranges), not the whole docs table.
        max_id = self.catalog.max_doc_id(self.spark)
        max_id = -1 if max_id is None else int(max_id)
        p = int(self.extra.get("n_build_partitions")
                or self.spark.sparkContext.defaultParallelism)
        counts = {int(r["_pid"]): int(r["cnt"]) for r in (
            news_src.select(*keys)
            .groupBy(F.pmod(F.hash(*keys), F.lit(p)).alias("_pid"))
            .agg(F.count("*").alias("cnt")).collect())}
        if not counts:
            return olds
        offsets, acc = {}, max_id + 1
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in news_src.schema.fields) + ", doc_id BIGINT"
        news = (news_src
                .withColumn("_pid", F.pmod(F.hash(*keys), F.lit(p)))
                .repartition(p, *keys)
                .sortWithinPartitions(*keys)
                .mapInPandas(_make_assign_ids_fn(offsets), schema=schema))
        return olds.unionByName(news)

    # ------------------------------------------------------ operations

    def upsert(self, updates: DataFrame) -> None:
        """U1/U4: replace-or-insert documents from source-shaped rows.
        A batch that fits the fast regime commits driver-side with the
        same kernels (one probe job total — fastpath.py); otherwise the
        tokenized batch joins the current docs table for id assignment,
        its lineage truncated (localCheckpoint) before _apply rewrites
        that table."""
        if self._fast_enabled() and self.extra.get("id_col"):
            head = updates.limit(self.fast_threshold + 1).toPandas()
            if len(head) <= self.fast_threshold:
                from bright_spark.index.fastpath import apply_fast
                if apply_fast(self, changed_pdf=head):
                    return
        tok = self._tokenize_updates(updates).localCheckpoint(eager=True)
        self._apply(changed=tok)

    def upsert_rows(self, rows: list[dict]) -> None:
        """Upsert from driver-resident records (the REST/store path):
        in the fast regime this never touches Spark at all."""
        if not rows:
            return
        if (self._fast_enabled() and self.extra.get("id_col")
                and len(rows) <= self.fast_threshold):
            from bright_spark.index.fastpath import apply_fast
            if apply_fast(self, changed_pdf=pd.DataFrame(rows)):
                return
        self.upsert(self.spark.createDataFrame(rows))

    def delete_ids(self, doc_ids: list[int]) -> None:
        """U2: delete by id list — zero Spark jobs in the fast regime
        (the id set is already a driver literal)."""
        ids = [int(i) for i in doc_ids]
        if self._fast_enabled() and len(ids) <= self.fast_threshold:
            from bright_spark.index.fastpath import apply_fast
            if apply_fast(self, deleted=np.asarray(ids, dtype=np.int64)):
                return
        self._apply(deleted_ids=ids)

    def delete_where(self, ids_df: DataFrame) -> None:
        """U2/U3 bulk form: delete every doc_id in a DataFrame — the
        change set never passes through the driver as a Python list."""
        self._apply(deleted_df=ids_df.select("doc_id"))

    def delete_by_query(self, q: str) -> None:
        """U3: delete every doc matching a query-string filter — the
        same evaluator as search (store/store.go:450-512); the match
        set flows as a DataFrame."""
        from bright_spark.query.engine import SearchEngine
        eng = SearchEngine(self.spark, self.catalog.index_dir)
        self.delete_where(eng.match_df(q))

    def patch(self, doc_id: int, fields: dict) -> None:
        """U4: fetch stored doc, merge fields, re-index whole doc.
        The fetch is group-dir-pruned (doc_records)."""
        rec = self.catalog.doc_records(self.spark, [int(doc_id)]).get(
            int(doc_id))
        if rec is None:
            raise KeyError(f"doc_id {doc_id} not found")
        rec.pop("doc_len", None)
        rec.pop("content_sha256", None)
        rec.pop("_pid", None)
        rec.update(fields)
        if self.extra.get("id_col"):
            rec[self.extra["id_col"]] = rec.pop("doc_id")
        else:
            rec.pop("doc_id", None)
        upd = self.spark.createDataFrame([rec])
        self.upsert(upd)

    # ------------------------------------------------------- the apply

    def _apply(self, changed: DataFrame | None = None,
               deleted_ids: list[int] | None = None,
               deleted_df: DataFrame | None = None) -> None:
        """Change sets travel as DataFrames/joins — never as
        plan-literal IN-lists — so a million-document sync batch plans
        the same as a 10-document one. Up to ``broadcast_threshold``
        ids the change set rides one numpy broadcast (append mode /
        broadcast drop); above it (too large to ship to every executor,
        yet far from rebuild territory at 10^12 docs) the mutation
        falls back to the rewrite path with an entry-level anti-join."""
        spark = self.spark
        if deleted_ids is not None and changed is None and deleted_df is None:
            # driver-provided id list: zero Spark jobs to materialize
            arr = np.unique(np.asarray([int(i) for i in deleted_ids],
                                       dtype=np.int64))
        else:
            ids_src = (changed if changed is not None
                       else deleted_df).select("doc_id").distinct()
            # ONE probe job collects the whole id set when it fits the
            # broadcast regime (the overwhelmingly common case) — no
            # separate count + collect + checkpoint jobs
            rows = ids_src.limit(self.broadcast_threshold + 1).collect()
            if len(rows) > self.broadcast_threshold:
                # huge change set: entry-level anti-join path. Eager
                # localCheckpoint truncates lineage: a delete-by-query
                # id set reads the very dirs whose pointers this apply
                # replaces, and must never be recomputed mid-apply
                ids_df = ids_src.localCheckpoint(eager=True)
                n_changed = ids_df.count()
                if n_changed == 0:
                    return
                self._apply_inner(changed, ids_df, drop_bc=None,
                                  n_changed=n_changed)
                return
            arr = np.unique(np.array([r["doc_id"] for r in rows],
                                     dtype=np.int64))
        if arr.size == 0:
            return
        if (changed is None and self._fast_enabled()
                and arr.size <= self.fast_threshold):
            # delete set fits the fast regime: the probe job above was
            # the mutation's ONLY Spark job
            from bright_spark.index.fastpath import apply_fast
            if apply_fast(self, deleted=arr):
                return
        # the id set is a driver literal now — rebuilding ids_df from
        # it (Arrow path) removes the recompute hazard without a
        # checkpoint job
        ids_df = spark.createDataFrame(pd.DataFrame({"doc_id": arr}))
        drop_bc = spark.sparkContext.broadcast(arr)
        try:
            self._apply_inner(changed, ids_df, drop_bc,
                              n_changed=int(arr.size))
        finally:
            drop_bc.unpersist()

    def _apply_inner(self, changed: DataFrame | None, ids_df: DataFrame,
                     drop_bc, n_changed: int = 0) -> None:
        cfg = self.config
        spark = self.spark
        pending = self.catalog.begin()
        old_meta = self.catalog.load_meta()
        if not self.config.store_content:
            raise ValueError("mutations re-tokenize replaced docs from "
                             "stored content; store_content=False is not "
                             "supported")
        # layout v3 (single docs/term_stats version dir, no group bits
        # in meta): this mutation migrates those tables to the v4
        # partitioned form with ONE full rewrite, then every later
        # mutation is O(change)
        legacy = (not isinstance(pending.tables.get("docs"), dict)
                  or not isinstance(pending.tables.get("term_stats"), dict)
                  or old_meta.get("docs_range_bits") is None)
        if legacy and cfg.docs_range_bits is None:
            import dataclasses
            n_old = int(old_meta.get("n_docs") or 0)
            p = int(self.extra.get("n_build_partitions")
                    or spark.sparkContext.defaultParallelism)
            dspan = max(1024, n_old // max(1, p))
            cfg = dataclasses.replace(
                cfg, docs_range_bits=min(22, max(10, dspan.bit_length() - 1)))
            self.config = cfg
        bits = int(old_meta.get("docs_range_bits")
                   if not legacy else cfg.docs_range_bits)
        use_append = (self.mode != "rewrite" and not legacy
                      and drop_bc is not None)

        # ---- affected doc-range groups: the docs-table CoW unit.
        # ids_df carries every changed id (replacements, deletes AND
        # newly assigned ids), so its group set is exactly the set of
        # group dirs this mutation may rewrite — nothing else is read.
        # With the broadcast id array on the driver, groups AND the
        # changed posting ranges come from numpy — zero Spark jobs.
        range_bits = int(old_meta.get("range_bits") or cfg.range_bits or 0)
        changed_ranges: list[int] | None = None
        if drop_bc is not None:
            arr = np.asarray(drop_bc.value, dtype=np.int64)
            affected_groups = [int(g) for g in np.unique(arr >> bits)]
            changed_ranges = [int(r) for r in
                              np.unique(arr >> np.int64(range_bits))]
        else:
            affected_groups = sorted(
                int(r["g"]) for r in ids_df.select(
                    F.shiftright("doc_id", bits).alias("g"))
                .distinct().collect())
        if legacy:
            docs_scan = self.catalog.docs(spark, include_build_cols=True)
        else:
            docs_scan = self.catalog.docs(spark, include_build_cols=True,
                                          groups=affected_groups)
        # the docs table stores no token arrays (build module doc) —
        # re-tokenize the replaced set from stored field text, across
        # EVERY analyzed field (their old entries must leave the index:
        # append mode tombstones them and subtracts their stats; rewrite
        # mode drops them from the decoded runs). Checkpointing the
        # (small) replaced slice means the pruned group dirs are
        # scanned ONCE — every downstream pass reads the checkpoint.
        replaced = (docs_scan.join(ids_df, "doc_id", "left_semi")
                    .localCheckpoint(eager=True))
        if use_append:
            # the ids actually present become tombstones (an absent id
            # needs none and must not move n_docs) — tiny collect
            present_ids = np.array(
                [r["doc_id"] for r in replaced.select("doc_id").collect()],
                dtype=np.int64)
            n_present = int(present_ids.size)
        else:
            present_ids = None
            n_present = replaced.count()
        new_partials = (self._field_partials(changed)
                        if changed is not None else None)
        replaced_partials = self._field_partials(replaced)

        # ---- docs table: copy-on-write doc-range groups — only the
        # affected groups' survivors + the changed docs are rewritten
        # into new version dirs; every other group keeps its parent
        # pointer (never even listed). Visible only at commit.
        survivors = docs_scan.join(ids_df, "doc_id", "left_anti")
        new_docs = survivors
        if changed is not None:
            new_docs = survivors.unionByName(changed.select(*survivors.columns))
        par = spark.sparkContext.defaultParallelism
        if legacy:
            pending.reset_parts("docs")
            docs_width = par
        else:
            # width ~ the affected group count: a small mutation should
            # not schedule a full-width shuffle of 50 rows
            docs_width = min(par, max(2, 2 * len(affected_groups)))
        written_groups = stage_docs_write(new_docs, pending, bits, docs_width)
        for g in set(affected_groups or ()) - written_groups:
            pending.drop_part("docs", g)  # group emptied by a delete

        tomb_bc = None
        old_tomb = self.catalog.tombstones()
        try:
            if use_append:
                metrics = self._apply_append(
                    pending, cfg, new_partials, present_ids, old_tomb, par,
                    n_changed)
            else:
                if old_tomb is not None:
                    tomb_bc = spark.sparkContext.broadcast(old_tomb)
                metrics = self._apply_rewrite(
                    pending, cfg, ids_df, drop_bc, tomb_bc, new_partials,
                    replaced_partials, changed_ranges, legacy, par)

            # ---- term_stats + meta: O(batch) signed-delta maintenance
            # in BOTH modes (mutate_stats) — or, on a legacy index, the
            # one-time full recompute that migrates stats to the
            # per-bucket layout — then ONE atomic commit for docs +
            # postings + tombstones + stats together
            n_docs_new = (int(old_meta.get("n_docs") or 0) - n_present
                          + (n_changed if changed is not None else 0))
            b = self._builder()
            if legacy:
                b._n_docs = n_docs_new
                meta = b.build_stats(pending)
            else:
                delta = self._stats_delta(replaced_partials, new_partials)
                meta = b.mutate_stats(pending, old_meta, delta, n_docs_new)
            pending.commit(
                meta, "upsert" if changed is not None else "delete",
                metrics={"n_changed": n_changed,
                         "docs_groups_rewritten": len(written_groups),
                         **metrics})
        finally:
            if tomb_bc is not None:
                tomb_bc.unpersist()
        if (self.compact_threshold
                and max(self.catalog.delta_depth("postings"),
                        self.catalog.delta_depth("term_stats"))
                > self.compact_threshold):
            self.compact()

    def _apply_append(self, pending, cfg, new_partials,
                      present_ids: np.ndarray, old_tomb, par: int,
                      n_changed: int = 0) -> dict:
        """Append-mode postings + tombstones: the new batch's entries
        merge into DELTA dirs appended to their buckets' chains (the
        existing postings are never read); replaced/deleted ids land
        in the tombstone table at this snapshot's version."""
        appended: set[int] = set()
        if new_partials is not None:
            if n_changed <= 10_000:
                # small batch: coalesce satisfies the merge kernel's
                # co-location requirement with NO shuffle at all
                width = 1
                grouped = new_partials.coalesce(1)
            else:
                width = min(par, max(8, n_changed // 50_000))
                grouped = new_partials.repartition(width, "term", "range_id")
            rows = (grouped
                    .mapInPandas(_make_merge_fn(cfg.block_size,
                                                cfg.n_term_buckets,
                                                cfg.store_positions),
                                 schema=POSTINGS_KERNEL_SCHEMA)
                    .withColumn("ver", F.lit(pending.snapshot_id)))
            appended = stage_postings_write(
                rows, pending, cfg.n_term_buckets,
                cfg.files_per_bucket or 1, delta=True, width=width)
        # commit-critical last-version-wins merge: ONE implementation,
        # shared with the driver fast path (fastpath.merge_tombstones)
        from bright_spark.index.fastpath import merge_tombstones
        merge_tombstones(pending, present_ids, old_tomb)
        return {"mode": "append", "buckets_appended": len(appended),
                "tombstones_added": int(present_ids.size)}

    def _apply_rewrite(self, pending, cfg, ids_df, drop_bc, tomb_bc,
                       new_partials, replaced_partials,
                       changed_ranges, legacy: bool, par: int) -> dict:
        """Rewrite-mode postings: consolidate the affected buckets in
        place — ONLY their live dirs are read and re-versioned; every
        other bucket keeps its parent pointer untouched (never even
        listed). Within them, only rows in the CHANGED doc ranges can
        hold a changed id or receive a new entry — rows of other
        ranges bypass the Python decode/merge entirely (a JVM
        passthrough), so the kernel work is O(changed ranges), not
        O(touched terms' full postings). Existing tombstones apply
        version-aware during the decode, so re-encoding at the new
        snapshot version cannot resurrect dead entries."""
        spark = self.spark
        terms_df = replaced_partials.select("term")
        if new_partials is not None:
            terms_df = terms_df.unionByName(new_partials.select("term"))
        # eager lineage truncation, not persist: terms_df is consumed
        # by several downstream joins, and an evicted cache would
        # silently recompute the tokenize pass each time
        terms_df = terms_df.distinct().localCheckpoint(eager=True)
        # bucket set is tiny (<= n_term_buckets) — the only collect
        affected_buckets = sorted(
            r["b"] for r in terms_df.select(
                term_bucket_col(F.col("term"), cfg.n_term_buckets).alias("b"))
            .distinct().collect())

        in_buckets = self.catalog.postings(spark, buckets=affected_buckets)
        if changed_ranges is not None and len(changed_ranges) <= 1024:
            in_range = F.col("range_id").isin(changed_ranges)
            untouched = (in_buckets.filter(~in_range)
                         .unionByName(in_buckets.filter(in_range)
                                      .join(terms_df, "term", "left_anti")))
            touched = (in_buckets.filter(in_range)
                       .join(terms_df, "term", "left_semi"))
        else:
            untouched = in_buckets.join(terms_df, "term", "left_anti")
            touched = in_buckets.join(terms_df, "term", "left_semi")
        touched_sel = touched.select(*_DECODE_COLS)
        if drop_bc is not None:
            surviving_partials = touched_sel.mapInPandas(
                _decode_to_partials(cfg.store_positions,
                                    drop_bc=drop_bc, tomb_bc=tomb_bc),
                schema=PARTIALS_SCHEMA)
        else:
            # huge change set: entry-level anti-join instead of a
            # broadcast drop; survivors re-enter the merge as singleton
            # partial runs (the merge kernel regroups them anyway)
            entries = touched_sel.mapInPandas(
                _decode_to_entries(cfg.store_positions, tomb_bc=tomb_bc),
                schema=ENTRIES_SCHEMA)
            surviving_partials = (
                entries.join(ids_df, "doc_id", "left_anti")
                .select("field", "term", "range_id",
                        F.array("doc_id").alias("doc_ids"),
                        F.array("tf").alias("tfs"),
                        F.array("dl").alias("dls"),
                        F.col("pos")))
        partials = surviving_partials
        if new_partials is not None:
            partials = partials.unionByName(new_partials)
        n_merge = min(par, max(4, len(affected_buckets)
                               * (cfg.files_per_bucket or 1)))
        remerged = (partials.repartition(n_merge, "term", "range_id")
                    .mapInPandas(_make_merge_fn(cfg.block_size,
                                                cfg.n_term_buckets,
                                                cfg.store_positions),
                                 schema=POSTINGS_KERNEL_SCHEMA)
                    .withColumn("ver", F.lit(pending.snapshot_id)))
        rebuilt = untouched.unionByName(remerged)
        written = stage_postings_write(rebuilt, pending,
                                       len(affected_buckets) or 1,
                                       cfg.files_per_bucket or 1)
        for b in affected_buckets:
            if b not in written:
                pending.drop_postings_bucket(b)  # bucket emptied
        return {"mode": "rewrite",
                "buckets_rewritten": len(affected_buckets)}

    # ---------------------------------------------------- consolidation

    def compact(self) -> None:
        """Consolidate append-mode state — scorch's background merger
        as an explicit, amortized operator (auto-triggered past
        ``compact_threshold``): every bucket with a delta chain fully
        re-merges into one version dir; when tombstones exist, every
        bucket's rows in the TOMBSTONED doc ranges are additionally
        cleaned (other rows are copied as they are, ``ver`` included);
        stats chains collapse via the summed view; the tombstone table
        clears. Corpus totals are untouched — compaction changes layout,
        not content (the mutate==rebuild invariant holds across it).

        When the footer-reported bytes of every target postings dir and
        chained term_stats dir fit :func:`catalog.fits_local`, the whole
        operator runs on the driver with zero Spark jobs; otherwise as
        Spark jobs. The commit's metrics name the path (``mode``) and
        the footer bytes."""
        cfg = self.config
        cat = self.catalog
        pending = cat.begin()
        old_meta = cat.load_meta()
        tomb = cat.tombstones()
        pmap = cat.manifest()["tables"].get("postings") or {}
        if isinstance(pmap, str):
            return  # legacy layout: nothing append-shaped to compact
        chained = sorted(int(k) for k, v in pmap.items()
                         if isinstance(v, list))
        smap = cat.manifest()["tables"].get("term_stats") or {}
        schained = (sorted(int(k) for k, v in smap.items()
                           if isinstance(v, list))
                    if isinstance(smap, dict) else [])
        if tomb is None and not chained and not schained:
            return  # already consolidated
        targets = (sorted(int(k) for k in pmap) if tomb is not None
                   else chained)
        range_bits = int(old_meta.get("range_bits") or cfg.range_bits or 0)
        tranges = (np.unique(tomb[0] >> np.int64(range_bits))
                   if tomb is not None else _EMPTY)
        posts = {b: cat._footer_read(cat.postings_dirs([b]), "term", None,
                                     POSTINGS_ARROW) for b in targets}
        stats = {b: cat._footer_read(cat.term_stats_dirs([b]), "term", None,
                                     TERM_STATS_ARROW) for b in schained}
        nbytes = sum(rd.nbytes for rd in [*posts.values(), *stats.values()])
        if fits_local(nbytes):
            mode = "driver"
            self._compact_driver(pending, posts, stats, tomb, chained,
                                 tranges)
        else:
            mode = "spark"
            self._compact_spark(pending, tomb, targets, chained, schained,
                                tranges)
        pending.drop_table("tombstones")
        meta = dict(old_meta)  # content unchanged, layout only
        IndexBuilder._write_index_meta(pending, meta)
        pending.commit(meta, "compact", metrics={
            "mode": mode, "footer_bytes": nbytes,
            "buckets_compacted": len(targets),
            "stats_buckets_compacted": len(schained),
            "tombstones_cleared": int(tomb[0].size) if tomb else 0})

    def _compact_driver(self, pending, posts: dict, stats: dict, tomb,
                        chained: list[int], tranges: np.ndarray) -> None:
        """:meth:`compact` with pyarrow reads and writes, one bucket at a
        time (driver memory is bounded by the largest bucket): the
        selected rows go through the same decode and merge kernels as
        the Spark stages, and each bucket lands as one sorted file."""
        from bright_spark.index.fastpath import _postings_table
        cfg = self.config
        kill = _kill_set(tomb)
        merge = _make_merge_fn(cfg.block_size, cfg.n_term_buckets,
                               cfg.store_positions)
        # no plan literal here, so no cap on the range list
        ranges = pa.array(tranges, pa.int64())
        for b, rd in posts.items():
            tab = rd.read()
            if b in chained:
                touched, parts = tab, []
            else:
                sel = pc.is_in(tab["range_id"], value_set=ranges)
                touched, parts = tab.filter(sel), [tab.filter(pc.invert(sel))]
            partials = _decode_partials(
                touched.select(_DECODE_COLS).to_pandas(),
                cfg.store_positions, kill)
            if partials is not None:
                parts += [_postings_table(m, pending.snapshot_id)
                          for m in merge(iter([partials])) if len(m)]
            out = pa.concat_tables(parts) if parts else None
            if out is not None and out.num_rows:
                write_part(pending.adopt_part("postings", b), out.sort_by(
                    [("term", "ascending"), ("field", "ascending"),
                     ("range_id", "ascending")]))
            else:
                pending.drop_postings_bucket(b)
        for b, rd in stats.items():
            net = IndexCatalog._net_stats(rd.read(), dirty=True)
            if net.num_rows:
                write_part(pending.adopt_part("term_stats", b), net.sort_by(
                    [("term", "ascending"), ("field", "ascending")]))
            else:
                pending.drop_part("term_stats", b)

    def _compact_spark(self, pending, tomb, targets: list[int],
                       chained: list[int], schained: list[int],
                       tranges: np.ndarray) -> None:
        """:meth:`compact` as Spark jobs: rows outside the selection pass
        through JVM-side; the selected ones decode and re-merge in
        mapInPandas stages."""
        spark = self.spark
        cfg = self.config
        cat = self.catalog
        par = spark.sparkContext.defaultParallelism
        tomb_bc = (spark.sparkContext.broadcast(tomb)
                   if tomb is not None else None)
        try:
            if targets:
                rows = cat.postings(spark, buckets=targets)
                if tomb is not None:
                    cond = F.col("bucket").isin(chained) if chained \
                        else F.lit(False)
                    if tranges.size <= 1024:
                        cond = cond | F.col("range_id").isin(
                            [int(r) for r in tranges])
                    else:
                        cond = F.lit(True)
                else:
                    cond = F.col("bucket").isin(chained)
                touched = rows.filter(cond)
                untouched = rows.filter(~cond)
                surviving = touched.select(*_DECODE_COLS).mapInPandas(
                    _decode_to_partials(cfg.store_positions,
                                        tomb_bc=tomb_bc),
                    schema=PARTIALS_SCHEMA)
                n_merge = min(par, max(4, len(targets)
                                       * (cfg.files_per_bucket or 1)))
                remerged = (surviving
                            .repartition(n_merge, "term", "range_id")
                            .mapInPandas(
                                _make_merge_fn(cfg.block_size,
                                               cfg.n_term_buckets,
                                               cfg.store_positions),
                                schema=POSTINGS_KERNEL_SCHEMA)
                            .withColumn("ver",
                                        F.lit(pending.snapshot_id)))
                rebuilt = untouched.unionByName(remerged)
                written = stage_postings_write(rebuilt, pending,
                                               len(targets) or 1,
                                               cfg.files_per_bucket or 1)
                for b in targets:
                    if b not in written:
                        pending.drop_postings_bucket(b)
            if schained:
                ts = cat.term_stats(spark, buckets=schained)  # summed view
                from bright_spark.index.builder import stage_term_stats_write
                written_s = stage_term_stats_write(
                    ts, pending, max(1, len(schained)), min(par, 8))
                for b in set(schained) - written_s:
                    pending.drop_part("term_stats", b)
        finally:
            if tomb_bc is not None:
                tomb_bc.unpersist()

