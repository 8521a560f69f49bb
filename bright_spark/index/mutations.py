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

  append (every change set of up to ``BROADCAST_THRESHOLD`` ids):
    docs        only the doc-range GROUPS containing changed ids are
                re-versioned (copy-on-write; new version dirs)
    postings    the new batch's entries merge into a small DELTA
                APPENDED to the pointer chains of the buckets it holds
                rows of — one shared term-sorted file on the driver path
                (fastpath.py), one dir per bucket on the Spark path; the
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
  exceeds ``COMPACT_THRESHOLD`` dirs): scorch's background merger as an
  explicit, amortized operator. Targets: the chained buckets plus every
  bucket whose pointer holds a shared driver delta dir (all of a shared
  dir's holders are consolidated together; catalog.py, delta chains),
  or every bucket when tombstones exist. Selection: every row of a chained
  bucket, plus, when tombstones exist, the target rows whose
  ``range_id`` holds a tombstoned id. Selected rows decode (one bulk
  varint pass per column, read straight from the arrow buffers, dead
  entries dropped), re-merge and get the compaction's version; the
  other rows are copied unchanged, ``ver`` included. Each target
  bucket becomes one version dir, stats chains collapse to their
  summed rows, the tombstone table clears. Between
  compactions every file in a bucket chain stays term-sorted (a shared
  delta is cut into row groups at term boundaries) and each commit adds
  one dir to a chain, so reads stay pruned.
  Two executions, one rule: when the footer-reported bytes of the
  target postings dirs and chained term_stats dirs (each file once,
  however many chains share its dir) fit ``catalog.fits_local`` (the
  read path's gate), the driver reads each shared delta file once and
  splits it by ``bucket``, reads each bucket's own dirs with pyarrow,
  feeds the decoded entries straight into the merge kernel's sort and
  writes one sorted file per bucket with zero Spark jobs; otherwise the
  same selection runs as Spark stages over the ``bucket``-filtered
  scan (a range-id plan literal up to 1024 ranges, every row of the
  targets above that) whose decode and merge kernels run through
  ``mapInArrow``. The commit's metrics say which (``mode``: ``driver``
  or ``spark``) and how many files it wrote (``files_written``).

  rewrite (only a DataFrame change set of more than
  ``BROADCAST_THRESHOLD`` ids, too many to collect to the driver):
  the affected buckets' rows holding a touched term decode into one row
  per entry (tombstoned entries dropped ver-aware, so nothing is
  resurrected), anti-join the changed ids, re-merge with the new batch
  and consolidate those buckets in place — together with every other
  holder of a shared delta dir when one of them is affected. Stats
  maintenance is the same signed-delta path.

Which path a mutation takes depends only on its size: up to
``FAST_THRESHOLD`` ids it commits on the driver (fastpath.py; a
natural-key index's upserts excepted), up to ``BROADCAST_THRESHOLD``
as Spark append stages, above that as rewrite (a ``delete_ids`` list,
already on the driver, always appends). The module constants are read
at call time; tests monkeypatch them to force a path
(``tests/conftest.py``).

Everything becomes visible in ONE atomic manifest commit (catalog.py
write protocol) — a crash mid-mutation leaves the previous snapshot
untouched, and readers pinned to it never see a torn index. Block
(max_tf, min_dl) skip metadata stays sound under masking: dead entries
only lower true scores below the stored upper bounds.

Invariant (tested): mutate-then-query == full-rebuild-then-query, on
every path, including across compaction.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.index import codec
from bright_spark.index.builder import (
    PARTIALS_ARROW,
    PARTIALS_SCHEMA,
    IndexBuilder,
    _lists,
    _make_assign_ids_fn,
    _make_merge_fn,
    _make_tokenize_fn,
    _make_tokenize_partials_fn,
    _merge_runs,
    _slices_by,
    stage_docs_write,
    stage_postings_write,
)
from bright_spark.index.catalog import (
    POSTINGS_ARROW,
    POSTINGS_KERNEL_SCHEMA,
    TERM_STATS_ARROW,
    IndexCatalog,
    RowGroupCache,
    fits_local,
    is_shared_dir,
    term_bucket_col,
    write_part,
)

# columns the decode kernels need from a posting row
_DECODE_COLS = ["field", "term", "range_id",
                "first_doc", "n", "docs", "tfs", "dls", "pos", "ver"]

_EMPTY = np.empty(0, dtype=np.int64)
_NEVER_LIVE = np.iinfo(np.int64).max

# The mutation paths' size limits, read at call time (tests monkeypatch
# them). A change set of up to FAST_THRESHOLD ids whose touched docs
# groups hold at most FAST_MAX_GROUP_BYTES of files commits on the
# driver with the same kernels (fastpath.py) — a head-node operation,
# like the reference's in-process Bleve batch. Up to
# BROADCAST_THRESHOLD ids the Spark stages append with the id set
# collected to the driver as one numpy array; above it (a driver-OOM
# regime at ~10^8 ids) the mutation rewrites the affected buckets with
# an entry-level anti-join. A mutation whose commit leaves a pointer
# chain longer than COMPACT_THRESHOLD dirs compacts (0 never does).
FAST_THRESHOLD = 10_000
FAST_MAX_GROUP_BYTES = 256 << 20
BROADCAST_THRESHOLD = 2_000_000
COMPACT_THRESHOLD = 8


def last_row_per_key(rows: list[dict], key_cols) -> list[dict]:
    """``rows`` with one row per value of ``key_cols``: the LAST row of
    each key, as a Bleve batch keeps a later update of an id over an
    earlier one in the same batch."""
    return list({tuple(r.get(c) for c in key_cols): r
                 for r in rows}.values())


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


def _decode_rows(tab, store_positions: bool, kill=None):
    """Every entry of an arrow table or record batch of posting rows,
    decoded in ONE bulk varint pass per payload column straight from
    its arrow buffers (slices and chunks included), minus the entries
    ``kill`` (:func:`_kill_set`) marks dead — one vectorized
    ``searchsorted`` for the whole batch.

    Returns (row, doc_ids, tfs, dls, pos): per surviving entry the index
    of its row in ``tab``, in row then doc order; ``pos`` holds the
    surviving entries' positions back to back (entry i owns ``tfs[i]``
    values), empty unless ``store_positions``."""
    if not tab.num_rows:
        return _EMPTY, _EMPTY, _EMPTY, _EMPTY, _EMPTY
    nb = pc.list_value_length(tab["first_doc"]).to_numpy()
    ns = codec.list_values(tab["n"]).astype(np.int64)
    first = codec.list_values(tab["first_doc"]).astype(np.int64)
    d = codec.decode_doc_blocks_bulk(first, ns,
                                     codec.binary_values(tab["docs"]))
    if not d.size:
        return _EMPTY, _EMPTY, _EMPTY, _EMPTY, _EMPTY
    t = codec.decode_concat(codec.binary_values(tab["tfs"])).astype(np.int64)
    l = codec.decode_concat(codec.binary_values(tab["dls"])).astype(np.int64)
    pos = (codec.decode_positions(codec.binary_values(tab["pos"]), t)
           if store_positions else _EMPTY)
    row = np.repeat(np.repeat(np.arange(tab.num_rows), nb), ns)
    drop = codec.dead_entries(kill, d, tab["ver"], row)
    if drop is not None:
        keep = ~drop
        if pos.size:
            pos = pos[np.repeat(keep, t)]
        row, d, t, l = row[keep], d[keep], t[keep], l[keep]
    return row, d, t, l, pos


def _decode_partials(batch: pa.RecordBatch, store_positions: bool,
                     kill=None) -> pa.RecordBatch | None:
    """Posting rows -> partial-run rows (:data:`builder.PARTIALS_ARROW`)
    of their live entries; a row with no live entry emits nothing."""
    row, d, t, l, pos = _decode_rows(batch, store_positions, kill)
    if not d.size:
        return None
    starts = np.concatenate(([0], np.flatnonzero(np.diff(row)) + 1))
    src = row[starts]
    bounds = np.append(starts, d.size)
    pos_bounds = (np.append(0, np.cumsum(t))[bounds] if store_positions
                  else np.zeros(bounds.size, np.int64))
    return pa.RecordBatch.from_arrays([
        batch.column("field").take(src), batch.column("term").take(src),
        batch.column("range_id").take(src),
        _lists(bounds, d, pa.int64()), _lists(bounds, t, pa.int32()),
        _lists(bounds, l, pa.int32()), _lists(pos_bounds, pos, pa.int32()),
    ], schema=PARTIALS_ARROW)


def _decode_to_partials(store_positions: bool = False, tomb_bc=None):
    """mapInArrow form of :func:`_decode_partials`, dropping tombstoned
    entries VERSION-AWARE: an entry survives if its row was written at
    or after its doc's tombstone version — re-encoding at the new
    snapshot version must never resurrect dead entries."""

    def fn(batches: Iterator[pa.RecordBatch]
           ) -> Iterator[pa.RecordBatch]:
        kill = _kill_set(tomb_bc.value if tomb_bc is not None else None)
        for batch in batches:
            out = _decode_partials(batch, store_positions, kill)
            if out is not None:
                yield out

    return fn


ENTRIES_SCHEMA = ("field STRING, term STRING, range_id BIGINT, "
                  "doc_id BIGINT, tf BIGINT, dl BIGINT, pos ARRAY<BIGINT>")


def _decode_to_entries(store_positions: bool = False, tomb_bc=None):
    """mapInArrow kernel: posting rows -> one row per posting ENTRY
    (the exploded form the huge-change-set path anti-joins against the
    changed-id DataFrame — no driver collect, no executor broadcast).
    Tombstoned entries are dropped here, version-aware."""

    def fn(batches: Iterator[pa.RecordBatch]
           ) -> Iterator[pa.RecordBatch]:
        kill = _kill_set(tomb_bc.value if tomb_bc is not None else None)
        for batch in batches:
            row, d, t, l, pos = _decode_rows(batch, store_positions, kill)
            if not d.size:
                continue
            yield pa.RecordBatch.from_arrays([
                batch.column("field").take(row),
                batch.column("term").take(row),
                batch.column("range_id").take(row),
                pa.array(d), pa.array(t), pa.array(l),
                _lists(np.append(0, np.cumsum(t)) if store_positions
                       else np.zeros(d.size + 1, np.int64),
                       pos, pa.int64()),
            ], names=["field", "term", "range_id", "doc_id", "tf", "dl",
                      "pos"])

    return fn


class IndexMutator:
    """Upserts, deletes, patches and compactions of one index. Each
    mutation takes the path its size selects (the module constants
    above); nothing about the path is chosen per instance. The config
    and field layout are those the live snapshot at construction was
    written with, and every commit records them unchanged.

    ``cache``: the read cache this mutator's reads go through and its
    commits publish into (the owning store's); without one the
    mutator's catalog makes its own (catalog.py)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache: RowGroupCache | None = None):
        self.spark = spark
        self.catalog = IndexCatalog(index_dir, cache=cache)
        self.config = self.catalog.load_config()
        self.extra = self.catalog.load_extra()

    # ------------------------------------------------------- internals

    def _builder(self) -> IndexBuilder:
        return IndexBuilder(self.spark, self.config, self.catalog.index_dir,
                            **self.extra)

    def _field_partials(self, rows: DataFrame) -> DataFrame:
        """Per-field partial posting rows for ``rows`` (must carry
        ``doc_id`` + every analyzed field column): the same fused
        tokenize+combine kernel the bulk build uses (B1), one namespace
        per field (Q5)."""
        b = self._builder()
        cols = ["doc_id"] + b.field_cols + ([b.lang_col] if b.lang_col else [])
        return rows.select(*cols).mapInArrow(
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
        if self.extra["id_col"]:
            return ["doc_id"]
        return list(self.extra["key_cols"])

    def _tokenize_updates(self, updates: DataFrame) -> DataFrame:
        """Compute doc_len/sha256 for changed rows and assign doc_ids:
        existing natural keys keep their id (upsert replaces,
        store.go:416); new keys get ids above the current max, ranked by
        natural key."""
        b = self._builder()
        keys = self._key_cols()
        if self.extra["id_col"]:
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
        if self.extra["id_col"]:
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
        p = self.extra["n_build_partitions"]
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
        that table.

        Contract: ``updates`` holds at most one row per document key
        (the id column, or the natural key columns). It is not checked
        here, since that would cost a Spark job per batch: a batch that
        repeats a key fails with ``ValueError`` when the rows share a
        term. :meth:`upsert_rows` accepts repeated keys (last row
        wins)."""
        if self.extra["id_col"]:
            head = updates.limit(FAST_THRESHOLD + 1).toPandas()
            if len(head) <= FAST_THRESHOLD:
                from bright_spark.index.fastpath import apply_fast
                if apply_fast(self, changed_pdf=head):
                    return
        tok = self._tokenize_updates(updates).localCheckpoint(eager=True)
        self._apply(changed=tok)

    def upsert_rows(self, rows: list[dict]) -> None:
        """Upsert from driver-resident records (the REST/store path):
        in the fast regime this never touches Spark at all. A batch
        that repeats a document key keeps the LAST row of each key, as
        a Bleve batch does (a later update of an id in the same batch
        overrides the earlier one)."""
        if not rows:
            return
        rows = last_row_per_key(rows, [self.extra["id_col"]]
                                if self.extra["id_col"]
                                else self._key_cols())
        if self.extra["id_col"] and len(rows) <= FAST_THRESHOLD:
            from bright_spark.index.fastpath import apply_fast
            if apply_fast(self, changed_pdf=pd.DataFrame(rows)):
                return
        self.upsert(self.spark.createDataFrame(rows))

    def delete_ids(self, doc_ids: list[int]) -> None:
        """U2: delete by id list — zero Spark jobs in the fast regime
        (the id set is already a driver literal)."""
        ids = [int(i) for i in doc_ids]
        if len(ids) <= FAST_THRESHOLD:
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
        eng = SearchEngine(self.spark, self.catalog.index_dir,
                           cache=self.catalog._rg_cache)
        self.delete_where(eng.match_df(q))

    def patch(self, doc_id: int, fields: dict) -> None:
        """U4: fetch stored doc, merge fields, re-index whole doc.
        The fetch is group-dir-pruned (doc_records); the merged record
        commits through :meth:`upsert_rows`, so on the fast path no
        Spark job runs."""
        rec = self.catalog.doc_records(self.spark, [int(doc_id)]).get(
            int(doc_id))
        if rec is None:
            raise KeyError(f"doc_id {doc_id} not found")
        rec.pop("doc_len", None)
        rec.pop("content_sha256", None)
        rec.pop("_pid", None)
        rec.update(fields)
        if self.extra["id_col"]:
            rec[self.extra["id_col"]] = rec.pop("doc_id")
        else:
            rec.pop("doc_id", None)
        self.upsert_rows([rec])

    # ------------------------------------------------------- the apply

    def _apply(self, changed: DataFrame | None = None,
               deleted_ids: list[int] | None = None,
               deleted_df: DataFrame | None = None) -> None:
        """The Spark path. Change sets travel as DataFrames/joins —
        never as plan-literal IN-lists — so a million-document sync
        batch plans the same as a 10-document one. Up to
        ``BROADCAST_THRESHOLD`` ids the change set is collected to the
        driver as one numpy array (``ids``) and the mutation appends;
        above it (too large for the driver, yet far from rebuild
        territory at 10^12 docs) it rewrites the affected buckets with
        an entry-level anti-join."""
        if deleted_ids is not None:
            # driver-provided id list: zero Spark jobs to materialize
            ids = np.unique(np.asarray(deleted_ids, dtype=np.int64))
        else:
            ids_src = (changed if changed is not None
                       else deleted_df).select("doc_id").distinct()
            # ONE probe job collects the whole id set when it fits the
            # driver (the overwhelmingly common case) — no separate
            # count + collect + checkpoint jobs
            tab = ids_src.limit(BROADCAST_THRESHOLD + 1).toArrow()
            if tab.num_rows > BROADCAST_THRESHOLD:
                # huge change set: entry-level anti-join path. Eager
                # localCheckpoint truncates lineage: a delete-by-query
                # id set reads the very dirs whose pointers this apply
                # replaces, and must never be recomputed mid-apply
                ids_df = ids_src.localCheckpoint(eager=True)
                self._apply_inner(changed, ids_df, None, ids_df.count())
                return
            ids = np.unique(tab["doc_id"].to_numpy().astype(np.int64))
        if ids.size == 0:
            return
        if changed is None and ids.size <= FAST_THRESHOLD:
            # delete set fits the fast regime: the probe job above was
            # the mutation's ONLY Spark job
            from bright_spark.index.fastpath import apply_fast
            if apply_fast(self, deleted=ids):
                return
        # the id set is a driver literal now — rebuilding ids_df from
        # it (Arrow path) removes the recompute hazard without a
        # checkpoint job
        ids_df = self.spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
        self._apply_inner(changed, ids_df, ids, int(ids.size))

    def _apply_inner(self, changed: DataFrame | None, ids_df: DataFrame,
                     ids: np.ndarray | None, n_changed: int) -> None:
        """Commit one Spark-path mutation: append when the sorted id
        array ``ids`` is on the driver, else rewrite."""
        cfg = self.config
        spark = self.spark
        pending = self.catalog.begin()
        old_meta = self.catalog.load_meta()
        if not self.config.store_content:
            raise ValueError("mutations re-tokenize replaced docs from "
                             "stored content; store_content=False is not "
                             "supported")
        bits = int(old_meta["docs_range_bits"])

        # ---- affected doc-range groups: the docs-table CoW unit.
        # ids_df carries every changed id (replacements, deletes AND
        # newly assigned ids), so its group set is exactly the set of
        # group dirs this mutation may rewrite — nothing else is read.
        # With the id array on the driver the groups come from numpy —
        # zero Spark jobs.
        if ids is not None:
            affected_groups = [int(g) for g in np.unique(ids >> bits)]
        else:
            affected_groups = sorted(
                int(r["g"]) for r in ids_df.select(
                    F.shiftright("doc_id", bits).alias("g"))
                .distinct().collect())
        docs_scan = self.catalog.docs(spark, include_build_cols=True,
                                      groups=affected_groups)
        # the docs table stores no token arrays (build module doc) —
        # re-tokenize the replaced set from stored field text, across
        # EVERY analyzed field (their old entries must leave the index:
        # append tombstones them and subtracts their stats; rewrite
        # drops them from the decoded runs). Checkpointing the (small)
        # replaced slice means the pruned group dirs are scanned ONCE —
        # every downstream pass reads the checkpoint.
        replaced = (docs_scan.join(ids_df, "doc_id", "left_semi")
                    .localCheckpoint(eager=True))
        if ids is not None:
            # the ids actually present become tombstones (an absent id
            # needs none and must not move n_docs) — tiny collect
            present_ids = (replaced.select("doc_id").toArrow()["doc_id"]
                           .to_numpy().astype(np.int64))
            n_present = int(present_ids.size)
        else:
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
        # width ~ the affected group count: a small mutation should
        # not schedule a full-width shuffle of 50 rows
        docs_width = min(par, max(2, 2 * len(affected_groups)))
        written_groups = stage_docs_write(new_docs, pending, bits, docs_width)
        for g in set(affected_groups or ()) - written_groups:
            pending.drop_part("docs", g)  # group emptied by a delete

        tomb_bc = None
        old_tomb = self.catalog.tombstones()
        try:
            if ids is not None:
                metrics = self._apply_append(
                    pending, cfg, new_partials, present_ids, old_tomb, par,
                    n_changed)
            else:
                if old_tomb is not None:
                    tomb_bc = spark.sparkContext.broadcast(old_tomb)
                metrics = self._apply_rewrite(
                    pending, cfg, ids_df, tomb_bc, new_partials,
                    replaced_partials, par)

            # ---- term_stats + meta: O(batch) signed-delta maintenance
            # on both paths (mutate_stats), then ONE atomic commit for
            # docs + postings + tombstones + stats together
            n_docs_new = (int(old_meta["n_docs"]) - n_present
                          + (n_changed if changed is not None else 0))
            delta = self._stats_delta(replaced_partials, new_partials)
            meta = self._builder().mutate_stats(pending, old_meta, delta,
                                                n_docs_new)
            pending.commit(
                meta, "upsert" if changed is not None else "delete",
                metrics={"n_changed": n_changed,
                         "docs_groups_rewritten": len(written_groups),
                         **metrics})
        finally:
            if tomb_bc is not None:
                tomb_bc.unpersist()
        self._maybe_compact()

    def _maybe_compact(self) -> None:
        """Compact once a commit has left a pointer chain longer than
        ``COMPACT_THRESHOLD`` dirs (0 never compacts)."""
        if (COMPACT_THRESHOLD
                and max(self.catalog.delta_depth("postings"),
                        self.catalog.delta_depth("term_stats"))
                > COMPACT_THRESHOLD):
            self.compact()

    def _apply_append(self, pending, cfg, new_partials,
                      present_ids: np.ndarray, old_tomb, par: int,
                      n_changed: int = 0) -> dict:
        """Append postings + tombstones: the new batch's entries merge
        into DELTA dirs appended to their buckets' chains (the existing
        postings are never read); replaced/deleted ids land in the
        tombstone table at this snapshot's version."""
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
                    .mapInArrow(_make_merge_fn(cfg.block_size,
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

    def _apply_rewrite(self, pending, cfg, ids_df, tomb_bc, new_partials,
                       replaced_partials, par: int) -> dict:
        """Rewrite postings for a change set too large for the driver:
        consolidate the affected buckets in place — ONLY their live
        dirs are read and re-versioned; every other bucket keeps its
        parent pointer untouched (never even listed). Within them, rows
        of untouched terms pass through the JVM; the touched rows decode
        into one row per entry, existing tombstones applied
        version-aware (re-encoding at the new snapshot version cannot
        resurrect dead entries), and the changed ids leave by an
        anti-join against ``ids_df`` — no driver collect, no executor
        broadcast."""
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
        holders = self.catalog.shared_holders("postings")
        if holders & set(affected_buckets):
            # replacing one holder's chain replaces them all (see
            # IndexCatalog.shared_holders)
            affected_buckets = sorted(set(affected_buckets) | holders)

        in_buckets = self.catalog.postings(spark, buckets=affected_buckets)
        untouched = in_buckets.join(terms_df, "term", "left_anti")
        touched = in_buckets.join(terms_df, "term", "left_semi")
        # survivors re-enter the merge as singleton partial runs (the
        # merge kernel regroups them anyway)
        entries = touched.select(*_DECODE_COLS).mapInArrow(
            _decode_to_entries(cfg.store_positions, tomb_bc=tomb_bc),
            schema=ENTRIES_SCHEMA)
        partials = (
            entries.join(ids_df, "doc_id", "left_anti")
            .select("field", "term", "range_id",
                    F.array("doc_id").alias("doc_ids"),
                    F.array("tf").alias("tfs"),
                    F.array("dl").alias("dls"),
                    F.col("pos")))
        if new_partials is not None:
            partials = partials.unionByName(new_partials)
        n_merge = min(par, max(4, len(affected_buckets)
                               * (cfg.files_per_bucket or 1)))
        remerged = (partials.repartition(n_merge, "term", "range_id")
                    .mapInArrow(_make_merge_fn(cfg.block_size,
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
                pending.drop_part("postings", b)  # bucket emptied
        return {"mode": "rewrite",
                "buckets_rewritten": len(affected_buckets)}

    # ---------------------------------------------------- consolidation

    def compact(self) -> None:
        """Consolidate append-mode state — scorch's background merger
        as an explicit, amortized operator (auto-triggered past
        ``COMPACT_THRESHOLD``): every bucket with a delta chain fully
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
        tables = cat.manifest()["tables"]
        pmap = tables["postings"]
        chained = sorted(int(k) for k, v in pmap.items()
                         if isinstance(v, list))
        schained = sorted(int(k) for k, v in tables["term_stats"].items()
                          if isinstance(v, list))
        if tomb is None and not chained and not schained:
            return  # already consolidated
        # every holder of a shared delta dir is consolidated with the
        # chains (see IndexCatalog.shared_holders)
        targets = (sorted(int(k) for k in pmap) if tomb is not None
                   else sorted(set(chained) | cat.shared_holders("postings")))
        schained = sorted(set(schained) | cat.shared_holders("term_stats"))
        range_bits = cfg.range_bits
        tranges = (np.unique(tomb[0] >> np.int64(range_bits))
                   if tomb is not None else _EMPTY)
        # the gate counts each (file, row group) of the target chains
        # once, however many buckets share its dir
        nbytes = (cat._footer_read(cat.postings_dirs(targets), "term", None,
                                   POSTINGS_ARROW).nbytes
                  + cat._footer_read(cat.term_stats_dirs(schained), "term",
                                     None, TERM_STATS_ARROW).nbytes)
        if fits_local(nbytes):
            mode = "driver"
            self._compact_driver(pending, targets, schained, tomb, chained,
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

    def _compact_driver(self, pending, targets: list[int],
                        schained: list[int], tomb, chained: list[int],
                        tranges: np.ndarray) -> None:
        """:meth:`compact` with pyarrow reads and writes, one bucket at a
        time: each shared delta file of the target chains is read once
        and split by ``bucket`` up front, each bucket's own dirs when
        its turn comes (driver memory is bounded by the largest bucket
        plus those deltas). The selected rows' live entries decode
        straight from the arrow columns into the merge kernel's sort
        (no partial rows in between), and each bucket lands as one
        sorted file."""
        cfg = self.config
        kill = _kill_set(tomb)
        # no plan literal here, so no cap on the range list
        ranges = pa.array(tranges, pa.int64())
        posts = self._bucket_reads("postings", targets, POSTINGS_ARROW)
        for b in targets:
            tab = posts(b)
            if b in chained:
                touched, parts = tab, []
            else:
                sel = pc.is_in(tab["range_id"], value_set=ranges)
                touched, parts = tab.filter(sel), [tab.filter(pc.invert(sel))]
            row, d, t, l, pos = _decode_rows(touched, cfg.store_positions,
                                             kill)
            parts += [pa.Table.from_batches([m]) for m in _merge_runs(
                touched, row, d, t, l,
                pos if cfg.store_positions else None, cfg.block_size,
                cfg.n_term_buckets, ver=pending.snapshot_id)]
            out = pa.concat_tables(parts) if parts else None
            if out is not None and out.num_rows:
                write_part(pending.adopt_part("postings", b), out.sort_by(
                    [("term", "ascending"), ("field", "ascending"),
                     ("range_id", "ascending")]), pending)
            else:
                pending.drop_part("postings", b)
        stats = self._bucket_reads("term_stats", schained, TERM_STATS_ARROW)
        for b in schained:
            net = IndexCatalog._net_stats(stats(b), dirty=True)
            if net.num_rows:
                write_part(pending.adopt_part("term_stats", b), net.sort_by(
                    [("term", "ascending"), ("field", "ascending")]),
                    pending)
            else:
                pending.drop_part("term_stats", b)

    def _bucket_reads(self, table: str, keys: list[int],
                      schema: pa.Schema) -> Callable[[int], pa.Table]:
        """Reader of one bucket's rows of ``table`` over its chain: the
        shared delta dirs of all ``keys``' chains are read here, each
        file once, and split by ``bucket``; the returned function reads
        a bucket's own dirs and appends its share of those rows."""
        cat = self.catalog
        shared = [d for d in cat.part_dirs(table, keys) if is_shared_dir(d)]
        tab = cat._footer_read(shared, "term", None, schema).read()
        tab = tab.sort_by("bucket")  # _slices_by cuts runs of one key
        split = dict(_slices_by(tab, tab["bucket"].to_numpy()))

        def read(b: int) -> pa.Table:
            own = [d for d in cat.part_dirs(table, [b])
                   if not is_shared_dir(d)]
            parts = [cat._footer_read(own, "term", None, schema).read()]
            if b in split:
                parts.append(split[b])
            return pa.concat_tables(parts)
        return read

    def _compact_spark(self, pending, tomb, targets: list[int],
                       chained: list[int], schained: list[int],
                       tranges: np.ndarray) -> None:
        """:meth:`compact` as Spark jobs: rows outside the selection pass
        through JVM-side; the selected ones decode and re-merge in
        mapInArrow stages."""
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
                surviving = touched.select(*_DECODE_COLS).mapInArrow(
                    _decode_to_partials(cfg.store_positions,
                                        tomb_bc=tomb_bc),
                    schema=PARTIALS_SCHEMA)
                n_merge = min(par, max(4, len(targets)
                                       * (cfg.files_per_bucket or 1)))
                remerged = (surviving
                            .repartition(n_merge, "term", "range_id")
                            .mapInArrow(
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
                        pending.drop_part("postings", b)
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

