"""Index build pipeline — SURVEY.md §2.4 B1-B6.

The reference's write path (`handlers/documents.go:181-198` ->
`store/store.go:392-426`) hands batches to Bleve, which builds
in-memory segments and background-merges them. Here the same stages
are explicit Spark dataflow with exactly two data shuffles:

  stage 1  docs: deterministic dense doc_id assignment + tokenization
           for doc_len (Arrow-batched), materialized as the ``docs``
           table (attributes + content + sha256 + doc_len — NO token
           arrays: shipping per-doc term arrays through Arrow/parquet
           costs more than the cheap re-tokenize in stage 2)
  stage 2  postings: FUSED tokenize+segment kernel over the source
           (B1: the token arrays never leave the Python worker — they
           go straight into the vectorized map-side combine) ->
           shuffle-merge on ``(term, range_id)`` (B2) -> delta+varint
           blocks with per-block (max_tf, min_dl) skip metadata ->
           bucket(term)-partitioned parquet
  stage 3  term_stats (B4: global df/cf per term) + index_meta
           (N, avgdl, total_tokens)

Driver execution: a build whose source is small runs the same three
stages on the driver instead, the way the reference hands a batch to
Bleve in-process. The size figure is the optimizer's ``sizeInBytes`` of
the selected source columns when every leaf of the source plan is a
file scan (the files' on-disk bytes), or the arrow bytes of
driver-resident rows (the REST first batch). Any other source (a local
relation, a generated ``range``) builds on Spark: the optimizer sizes
it from row counts and default column widths, not bytes. Below
:func:`catalog.fits_local_build` the source is collected once with
``toArrow()`` (the build's one Spark job, none for rows), doc_ids are
assigned as stage 1 assigns them, the unchanged tokenize and merge
kernels run once per doc range, and pyarrow writes one file per docs
group, postings bucket and term_stats bucket in the Spark stages' sort
orders. A column type the driver does not map, a natural-key type the
Python murmur3 does not reproduce, a null key or a repeated id keeps
the build on Spark; the choice is made before anything is written and
recorded as the build commit's ``metrics.mode`` (``driver`` /
``spark``).

Kernels: the tokenize+combine and merge kernels take and return arrow
record batches. Spark runs them through ``mapInArrow``; the driver
execution and the mutation fast path call the same functions on the
batches of pyarrow tables. Partial posting rows are
:data:`PARTIALS_ARROW` batches whose list columns wrap the kernel's
sorted flat arrays at the run offsets, and the merge kernel emits
posting rows whose block columns come straight out of
:func:`codec.encode_blocks_bulk` — no per-block Python object exists
on either side.

Scale/skew notes (B5): grouping by ``(term, range_id)`` — not bare
``term`` — structurally bounds every merge group to <= 2**range_bits
entries, so a term appearing in 60% of 10^12 docs still merges as
millions of bounded, parallel groups instead of one straggler. This is
the salting the north rule demands, with a *fixed, query-aligned* salt
(the doc-range), which the query side exploits for shuffle-free
per-range WAND. Global df is recovered by a second, map-side-combined
aggregation over chunk counts (stage 3).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.analysis.tokenizer import (count_terms_batch,
                                             count_terms_flat)
from bright_spark.index import codec
from bright_spark.index.catalog import (
    _ARROW_OF_DDL,
    LAYOUT_VERSION,
    POSTINGS_ARROW,
    POSTINGS_KERNEL_ARROW,
    POSTINGS_KERNEL_SCHEMA,
    POSTINGS_SCHEMA,
    TERM_STATS_ARROW,
    TERM_STATS_SCHEMA,
    IndexCatalog,
    PendingSnapshot,
    RowGroupCache,
    _conform,
    fits_local_build,
    write_part,
)
from bright_spark.index.fastpath import _sha256_series
from bright_spark.index.hashing import partition_id
from bright_spark.models import IndexConfig

# source column types whose key values the driver execution hashes
# exactly as Spark's ``F.hash`` does (hashing.spark_hash), and id-column
# types it casts to BIGINT as Spark does
_HASHED_KEY_DDL = ("string", "bigint")
_ID_DDL = ("tinyint", "smallint", "int", "bigint")
_DDL_OF_ARROW = {t: n for n, t in _ARROW_OF_DDL.items()}

# shuffle wire format of the tokenize->merge exchange. doc_ids must be
# BIGINT (dense ids are unbounded at 10^12-doc scale); tfs/dls/pos are
# per-doc ordinals/counts (< doc token count < 2^31) and ride as INT —
# at 100 TB the positions array dominates this shuffle's bytes, and
# halving its width halves that traffic. The merge kernel widens back
# to int64 before encoding, so the stored postings bytes are unchanged.
PARTIALS_SCHEMA = ("field STRING, term STRING, range_id BIGINT, "
                   "doc_ids ARRAY<BIGINT>, tfs ARRAY<INT>, "
                   "dls ARRAY<INT>, pos ARRAY<INT>")
PARTIALS_ARROW = pa.schema([
    ("field", pa.string()), ("term", pa.string()), ("range_id", pa.int64()),
    ("doc_ids", pa.list_(pa.int64())), ("tfs", pa.list_(pa.int32())),
    ("dls", pa.list_(pa.int32())), ("pos", pa.list_(pa.int32())),
])

# entries plus positions per merge-kernel output batch: at most 10
# varint bytes a value keeps every binary column's buffer under 2 GiB
_MERGE_BATCH_VALUES = 1 << 26


# ------------------------------------------------------------ kernels

def _make_tokenize_fn(content_col: str, lang_col: str | None, mode: str,
                      filter_stopwords: bool, passthrough_cols: list[str],
                      id_offsets: dict[int, int] | None = None):
    """mapInPandas kernel: content -> doc_len (token arrays never cross
    the Arrow boundary — postings come from the fused partials kernel).

    Tallying is one factorize + lexsort over the whole record batch
    (count_terms_batch) — the per-doc regex scan is the only
    per-document work (T1-T5 chain from SURVEY.md §2.3).

    When ``id_offsets`` is given (partition id -> starting doc_id) the
    kernel also assigns dense deterministic doc_ids in place: the
    input must be hash-partitioned on the natural key with exactly the
    partition count the offsets were computed for, and sorted within
    partitions — then doc_id = offset[pid] + running row index. This
    fuses identity assignment into the tokenize pass (one data
    materialization instead of staging + window + rewrite)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        next_id = None
        if id_offsets is not None:
            from pyspark import TaskContext
            next_id = id_offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            texts = pdf[content_col].tolist()
            langs = pdf[lang_col].tolist() if lang_col else [None] * len(texts)
            _, _, dlens = count_terms_batch(texts, mode, langs, filter_stopwords)
            out = pdf[passthrough_cols].copy()
            if next_id is not None:
                out["doc_id"] = pd.Series(
                    range(next_id, next_id + len(pdf)), index=pdf.index,
                    dtype="int64")
                next_id += len(pdf)
            out["doc_len"] = pd.Series(dlens, index=pdf.index, dtype="int32")
            yield out

    return fn


def _lists(offsets: np.ndarray, values, typ) -> pa.ListArray:
    """``values`` as a ``list<typ>`` array, list i holding
    ``values[offsets[i]:offsets[i + 1]]``."""
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                    pa.array(values, typ))


def _emit_partials_flat(field: str, doc_ids_flat: np.ndarray,
                        codes: np.ndarray, uniq_terms: np.ndarray,
                        tfs: np.ndarray, dls: np.ndarray, range_bits: int,
                        pos_flat: np.ndarray | None = None
                        ) -> pa.RecordBatch | None:
    """FLAT (doc, term) pair arrays of ``field`` -> combined partial
    posting rows (:data:`PARTIALS_ARROW`): one lexsort + boundary scan,
    no per-doc or per-entry Python — each list column is the sorted pair
    array wrapped at the run offsets. The build hot path feeds this
    straight from :func:`tokenizer.count_terms_flat` (per-batch pair
    arrays, batch dictionaries unified by the caller) — per-doc token
    arrays never exist. ``pos_flat``: per-pair position segments
    concatenated in pair order (segment i holds ``tfs[i]`` values), or
    None."""
    if codes.size == 0:
        return None
    ranges = doc_ids_flat >> np.int64(range_bits)
    # range_id is monotone in doc_id: (code, doc) order == the full
    # (code, range, doc) order, one lexsort key fewer
    order = np.lexsort((doc_ids_flat, codes))
    codes_o, ranges_o, tfs_o = codes[order], ranges[order], tfs[order]
    boundary = np.flatnonzero(
        np.diff(codes_o).astype(bool) | np.diff(ranges_o).astype(bool)
    ) + 1
    starts = np.concatenate(([0], boundary))
    bounds = np.append(starts, codes_o.size)
    if pos_flat is None:
        pos = _lists(np.zeros(bounds.size, np.int64), [], pa.int32())
    else:
        # ragged gather of per-pair position segments into sorted order
        tf_cum = np.concatenate(([0], np.cumsum(tfs)))
        v = np.concatenate(([0], np.cumsum(tfs_o)))
        ar = (np.arange(int(v[-1]), dtype=np.int64)
              - np.repeat(v[:-1], tfs_o)
              + np.repeat(tf_cum[:-1][order], tfs_o))
        pos = _lists(v[bounds], pos_flat[ar], pa.int32())
    return pa.RecordBatch.from_arrays([
        pa.repeat(pa.scalar(field, pa.string()), starts.size),
        pa.array(uniq_terms, pa.string()).take(codes_o[starts]),
        pa.array(ranges_o[starts]),
        _lists(bounds, doc_ids_flat[order], pa.int64()),
        _lists(bounds, tfs_o, pa.int32()),
        _lists(bounds, dls[order], pa.int32()),
        pos,
    ], schema=PARTIALS_ARROW)


def _strings(batch: pa.RecordBatch, col: str) -> list:
    """A string column of ``batch`` as Python values (None for null)."""
    return batch.column(col).to_numpy(zero_copy_only=False).tolist()


def _make_tokenize_partials_fn(field_cols: list[str], lang_col: str | None,
                               mode: str, filter_stopwords: bool,
                               range_bits: int,
                               id_offsets: dict[int, int] | None = None,
                               flush_docs: int = 32768,
                               store_positions: bool = False):
    """FUSED mapInArrow kernel: source record batches -> partial posting
    rows (:data:`PARTIALS_ARROW` record batches) in one pass (B1). Token
    arrays are produced AND combined inside the same Python worker —
    they never cross the Arrow boundary or touch parquet, which removes
    the build's largest data movement.

    Every column in ``field_cols`` is analyzed into its OWN postings
    namespace (Q5 per-field term indexing — Bleve's default mapping
    analyzes each string field, store/store.go:126): one tokenize pass
    per field over the same batch, partial rows tagged with ``field``.
    Per-field doc lengths (Σtf within that field) ride along in the
    partials, so BM25 normalizes against the field's own length.

    With ``id_offsets`` the kernel assigns the same deterministic dense
    doc_ids as the docs stage (same partitioning + sort => same ids);
    without it, input rows carry ``doc_id``."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        next_id = None
        if id_offsets is not None:
            from pyspark import TaskContext
            next_id = id_offsets.get(TaskContext.get().partitionId(), 0)
        # per field: list of per-batch FLAT pair tuples
        # (ids_arr, pair_doc, pair_tid, term_dict, pair_tf, doc_len,
        #  pos_flat) — per-doc token arrays are never materialized
        acc: dict[str, list[tuple]] = {f: [] for f in field_cols}
        n_acc = 0

        def flush() -> Iterator[pa.RecordBatch]:
            for f in field_cols:
                parts = [p for p in acc[f] if p[1].size]
                acc[f] = []
                if not parts:
                    continue
                # unify the batch-local term dictionaries: factorize
                # over the (small) concatenated dictionaries only, then
                # remap each batch's codes through its dict offset
                dicts = [p[3] for p in parts]
                union = (np.concatenate(dicts) if len(dicts) > 1
                         else dicts[0])
                ucodes, uniq = pd.factorize(union, sort=False)
                if len(parts) > 1:
                    doffs = np.concatenate(
                        ([0], np.cumsum([d.size for d in dicts])))
                    codes = np.concatenate(
                        [ucodes[doffs[i] + p[2]]
                         for i, p in enumerate(parts)])
                    doc_flat = np.concatenate([p[0][p[1]] for p in parts])
                    tfs = np.concatenate([p[4] for p in parts])
                    dls = np.concatenate([p[5][p[1]] for p in parts])
                    pos_flat = (np.concatenate([p[6] for p in parts])
                                if store_positions else None)
                else:
                    (bids, pair_doc, pair_tid, _, tfs, dl_arr,
                     pos_flat) = parts[0]
                    codes = ucodes[pair_tid]
                    doc_flat, dls = bids[pair_doc], dl_arr[pair_doc]
                    if not store_positions:
                        pos_flat = None
                out = _emit_partials_flat(f, doc_flat, codes, uniq, tfs,
                                          dls, range_bits, pos_flat)
                if out is not None:
                    yield out

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            langs = _strings(batch, lang_col) if lang_col else [None] * n
            if next_id is not None:
                bids = np.arange(next_id, next_id + n, dtype=np.int64)
                next_id += n
            else:
                bids = batch.column("doc_id").to_numpy().astype(
                    np.int64, copy=False)
            for f in field_cols:
                pair_doc, pair_tid, tdict, pair_tf, dl_arr, pos_flat = \
                    count_terms_flat(_strings(batch, f), mode, langs,
                                     filter_stopwords,
                                     positions=store_positions)
                acc[f].append((bids, pair_doc, pair_tid, tdict,
                               pair_tf, dl_arr, pos_flat))
            n_acc += n
            if n_acc >= flush_docs:
                yield from flush()
                n_acc = 0
        if n_acc:
            yield from flush()

    return fn


def _make_assign_ids_fn(id_offsets: dict[int, int]):
    """mapInPandas kernel: dense deterministic doc_id assignment from
    per-hash-bucket offsets (U6). Contract as in :meth:`IndexBuilder._keyed`:
    the input carries a ``_pid`` column (pmod(hash(keys), P)), is
    repartitioned on the same keys/P, and sorted by key within
    partitions; doc_id = offset[_pid] + running row index within that
    bucket. Keying on the explicit ``_pid`` column (NOT
    TaskContext.partitionId()) keeps the assignment correct even when a
    downstream union or AQE shifts physical partition indices."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        next_by_pid = dict(id_offsets)
        for pdf in batches:
            pids = pdf["_pid"].to_numpy()
            ids = np.empty(len(pdf), dtype=np.int64)
            for pid in np.unique(pids):
                m = pids == pid
                base = next_by_pid.get(int(pid), 0)
                ids[m] = np.arange(base, base + int(m.sum()), dtype=np.int64)
                next_by_pid[int(pid)] = base + int(m.sum())
            out = pdf.drop(columns=["_pid"]).copy()
            out["doc_id"] = ids
            yield out

    return fn


def _merge_runs(rows, row: np.ndarray, doc: np.ndarray, tf: np.ndarray,
                dl: np.ndarray, pos: np.ndarray | None, block_size: int,
                n_buckets: int, ver: int | None = None
                ) -> Iterator[pa.RecordBatch]:
    """Posting entries -> posting rows: entry i (``doc[i]``, ``tf[i]``,
    ``dl[i]``, and when ``pos`` is given its ``tf[i]`` positions, in
    entry order) belongs to the ``field``/``term``/``range_id`` of row
    ``row[i]`` of the arrow table or batch ``rows``. One lexsort orders
    the entries, every (field, term, range_id) run becomes one row, and
    :func:`codec.encode_blocks_bulk` encodes all their blocks at once.

    Yields :data:`catalog.POSTINGS_KERNEL_ARROW` record batches, or
    :data:`catalog.POSTINGS_ARROW` ones stamped with ``ver``. A batch
    holds at most about ``_MERGE_BATCH_VALUES`` entries plus positions,
    which keeps each of its varint buffers under 2 GiB. Each term's
    bucket comes from the ``bucket`` column of ``rows`` when they carry
    one (posting rows being re-merged), else from hashing the term."""
    if not doc.size:
        return

    def codes(col):
        # dictionary codes in first-appearance order, one per row
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        enc = pc.dictionary_encode(col)
        return enc.indices.to_numpy(), enc.dictionary

    fcode, fields = codes(rows["field"])
    tcode, terms = codes(rows["term"])
    if "bucket" in rows.column_names:
        ubucket = np.empty(len(terms), np.int64)
        ubucket[tcode] = rows["bucket"].to_numpy()
    else:
        # one crc32 per UNIQUE term (each term spans many (field,
        # range) groups), fanned out by fancy indexing
        ubucket = np.fromiter(
            (zlib.crc32(t.encode("utf-8")) % n_buckets
             for t in terms.to_numpy(zero_copy_only=False)),
            np.int64, len(terms))
    fcode, tcode = fcode[row], tcode[row]
    rng = rows["range_id"].to_numpy()[row]
    # range_id = doc_id >> bits is monotone in doc_id, so sorting
    # (fcode, tcode, doc) already lands ranges contiguous+ascending
    # within each (field, term) — the range key would be redundant
    order = np.lexsort((doc, tcode, fcode))
    if pos is not None:
        # per-entry position segments, gathered into sorted order
        ent_start = np.concatenate(([0], np.cumsum(tf)[:-1]))
        L = tf[order]
        offs = np.concatenate(([0], np.cumsum(L)[:-1]))
        pos = pos[np.arange(int(L.sum()), dtype=np.int64)
                  - np.repeat(offs, L) + np.repeat(ent_start[order], L)]
    fcode, tcode, rng = fcode[order], tcode[order], rng[order]
    doc, tf, dl = doc[order], tf[order], dl[order]
    boundary = np.flatnonzero(
        np.diff(tcode).astype(bool) | np.diff(rng).astype(bool)
        | np.diff(fcode).astype(bool)
    ) + 1
    starts = np.concatenate(([0], boundary))
    ends = np.concatenate((boundary, [doc.size]))
    cf = np.add.reduceat(tf, starts)
    # batches of whole runs: run g goes to batch (values before it) //
    # budget
    weight = ends - starts + (cf if pos is not None else 0)
    cut = np.flatnonzero(np.diff(
        (np.cumsum(weight) - weight) // _MERGE_BATCH_VALUES)) + 1
    pv = np.concatenate(([0], np.cumsum(tf))) if pos is not None else None
    schema = POSTINGS_KERNEL_ARROW if ver is None else POSTINGS_ARROW
    for g0, g1 in zip([0, *cut.tolist()], [*cut.tolist(), starts.size]):
        s, e = starts[g0:g1], ends[g0:g1]
        e0, e1 = int(s[0]), int(e[-1])
        blocks = codec.encode_blocks_bulk(
            doc[e0:e1], tf[e0:e1], dl[e0:e1], s - e0, block_size,
            positions=None if pos is None else pos[pv[e0]:pv[e1]])
        cols = [
            pa.array(ubucket[tcode[s]].astype(np.int32)),
            fields.take(fcode[s]), terms.take(tcode[s]), pa.array(rng[s]),
            pa.array((e - s).astype(np.int32)), pa.array(cf[g0:g1]),
            *blocks.values()]
        if ver is not None:
            cols.append(pa.array(np.full(s.size, ver, np.int64)))
        yield pa.RecordBatch.from_arrays(cols, schema=schema)


def _make_merge_fn(block_size: int, n_buckets: int,
                   store_positions: bool = False, ver: int | None = None):
    """mapInArrow kernel that merges ALL partial posting runs
    (:data:`PARTIALS_ARROW` record batches) in its partition into
    posting rows (:func:`_merge_runs`; the preceding ``repartition(n,
    term, range_id)`` shuffle colocates every run of a group).
    Partition-level merging instead of per-group ``applyInPandas``
    avoids a per-group Arrow round trip — thousands of tiny (term,
    range) groups merge as one vectorized lexsort + boundary scan (B2).
    Driver callers pass ``ver`` to get the on-disk row shape."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        tab = pa.Table.from_batches(parts)
        lens = pc.list_value_length(tab["doc_ids"]).to_numpy()
        yield from _merge_runs(
            tab, np.repeat(np.arange(tab.num_rows), lens),
            codec.list_values(tab["doc_ids"]).astype(np.int64),
            codec.list_values(tab["tfs"]).astype(np.int64),
            codec.list_values(tab["dls"]).astype(np.int64),
            (codec.list_values(tab["pos"]).astype(np.int64)
             if store_positions else None),
            block_size, n_buckets, ver)

    return fn


def _slices_by(tab: pa.Table, keys: np.ndarray
               ) -> Iterator[tuple[int, pa.Table]]:
    """(key, rows) per run of equal ``keys`` (one sorted key per row of
    ``tab``) — one driver-side file per partition."""
    if not keys.size:
        return
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    ends = np.r_[starts[1:], keys.size]
    for s, e in zip(starts.tolist(), ends.tolist()):
        yield int(keys[s]), tab.slice(s, e - s)


def _file_scan_bytes(df: DataFrame) -> int | None:
    """The optimizer's ``sizeInBytes`` of ``df`` when every leaf of its
    plan is a file scan, else None. Only a file scan's figure is a byte
    size (the files' on-disk bytes, scaled to the selected columns):
    other leaves are sized as row count times default column widths
    (a local relation counts 20 B per string whatever its length, a
    ``range`` 8 B per row, whatever a ``mapInPandas`` over it yields).
    Reads the plan only, starts no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if (leaf.getClass().getSimpleName() != "LogicalRelation"
                or leaf.relation().getClass().getSimpleName()
                != "HadoopFsRelation"):
            return None
    return int(plan.stats().sizeInBytes())


def _staged_part_write(prepared: DataFrame, pending: PendingSnapshot,
                       table: str, part_col: str,
                       delta: bool = False) -> set[int]:
    """Write an already repartitioned/sorted frame into per-partition
    version dirs of ``pending``: one partitionBy job into a staging
    dir, then a driver-side rename of each ``<part_col>=K`` dir into
    its immutable ``data/<table>/<prefix>K/v{N}`` home (rename, not
    copy — same fs). Partitions absent from the output are simply not
    adopted — the caller decides whether they keep their parent
    pointer (untouched) or get dropped (emptied). Returns the set of
    partition keys that received rows."""
    staging = os.path.join(pending.catalog.index_dir, "data", table,
                           f".staging-v{pending.snapshot_id:08d}")
    shutil.rmtree(staging, ignore_errors=True)
    prepared.write.mode("overwrite").partitionBy(part_col).parquet(staging)
    adopt = pending.adopt_part_delta if delta else pending.adopt_part
    written: set[int] = set()
    for name in os.listdir(staging):
        if not name.startswith(part_col + "="):
            continue
        k = int(name.split("=", 1)[1])
        dst = adopt(table, k)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.rmtree(dst, ignore_errors=True)  # crashed prior attempt
        os.rename(os.path.join(staging, name), dst)
        written.add(k)
    shutil.rmtree(staging, ignore_errors=True)
    return written


def stage_postings_write(df: DataFrame, pending: PendingSnapshot,
                         n_buckets: int,
                         files_per_bucket: int = 1,
                         delta: bool = False,
                         width: int | None = None) -> set[int]:
    """Posting rows -> per-bucket version dirs. ``bucket`` stays a
    DATA column in the files (the partition column is a duplicate), so
    reads over explicit bucket dirs keep it.

    ``files_per_bucket`` (S) splits each bucket into deterministic
    doc-range slices (pmod(range_id, S)): write parallelism becomes
    ~n_buckets x S instead of capping at the bucket count, and no
    single file holds a whole bucket. Every file stays term-sorted
    (row-group min/max pruning unchanged) and the per-bucket file
    count stays bounded at S across all mutations. Returns the set of
    buckets that received rows."""
    s = max(1, int(files_per_bucket))
    slot = (F.col("bucket").cast("bigint") * s
            + F.pmod(F.col("range_id"), F.lit(s)))
    prepared = (df.withColumn("pbucket", F.col("bucket"))
                  .repartition(width or (max(1, n_buckets) * s), slot)
                  .sortWithinPartitions("term", "field", "range_id"))
    return _staged_part_write(prepared, pending, "postings", "pbucket",
                              delta=delta)


def stage_docs_write(df: DataFrame, pending: PendingSnapshot,
                     docs_range_bits: int, n_tasks: int) -> set[int]:
    """Doc rows -> per-doc-range version dirs (group = doc_id >>
    docs_range_bits), doc_id-sorted within each group so parquet
    min/max prunes id lookups. Only groups present in ``df`` are
    written/adopted — the mutation copy-on-write unit for the docs
    table. Returns the set of groups that received rows."""
    prepared = (df.withColumn(
                    "dgroup", F.shiftright(F.col("doc_id"),
                                           int(docs_range_bits)))
                  .repartition(max(1, n_tasks), "dgroup")
                  .sortWithinPartitions("dgroup", "doc_id"))
    return _staged_part_write(prepared, pending, "docs", "dgroup")


def stage_term_stats_write(ts: DataFrame, pending: PendingSnapshot,
                           n_buckets: int, n_tasks: int,
                           delta: bool = False) -> set[int]:
    """term_stats rows -> per-bucket version dirs (term-sorted files;
    ``bucket`` stays a data column). Write width: one task per bucket
    is pure scheduling overhead when buckets outnumber the parallel
    slots — several buckets per task still land one term-sorted file
    per bucket dir via partitionBy."""
    prepared = (ts.withColumn("sbucket", F.col("bucket"))
                  .repartition(max(1, min(n_buckets, n_tasks)), "bucket")
                  .sortWithinPartitions("term", "field"))
    return _staged_part_write(prepared, pending, "term_stats", "sbucket",
                              delta=delta)


# ------------------------------------------------------------- driver

class IndexBuilder:
    """Builds one index directory from a source DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        config: IndexConfig,
        index_dir: str,
        *,
        content_col: str = "content",
        key_cols: tuple[str, ...] = ("repo", "path", "commit"),
        id_col: str | None = None,
        lang_col: str | None = "lang",
        attr_cols: tuple[str, ...] = (),
        text_cols: tuple[str, ...] = (),
        n_build_partitions: int | None = None,
        filter_stopwords: bool = False,
        cache: RowGroupCache | None = None,
    ):
        """``cache``: the read cache a driver build's commit publishes
        its files into (the owning store's); without one the build's
        catalog makes its own (catalog.py)."""
        self.spark = spark
        self.config = config
        self.catalog = IndexCatalog(index_dir, cache=cache)
        self.content_col = content_col
        self.key_cols = key_cols
        self.id_col = id_col
        self.lang_col = lang_col
        # excludeAttributes (models/index.go:6, applied as a disabled
        # field mapping at store/store.go:127-133): excluded columns are
        # neither indexed nor stored — `field:value` on one behaves like
        # an unknown field (no match) and hits never carry it
        excl = set(config.exclude_attributes or ())
        reserved = {content_col, id_col, lang_col, *key_cols} - {None}
        bad = excl & reserved
        if bad:
            raise ValueError(
                f"exclude_attributes cannot cover key/content/lang "
                f"columns: {sorted(bad)}")
        self.attr_cols = tuple(c for c in attr_cols if c not in excl)
        # Q5: extra analyzed text fields, each with its own postings
        # namespace + BM25 stats (Bleve's default mapping analyzes
        # every string field, store/store.go:126; `title:hello` then
        # searches that field's postings, README.md:46)
        self.text_cols = tuple(c for c in text_cols
                               if c != content_col and c not in excl)
        self.n_build_partitions = (n_build_partitions
                                   or spark.sparkContext.defaultParallelism)
        self.filter_stopwords = filter_stopwords
        self._id_offsets: dict[int, int] | None = None
        self._n_docs: int | None = None
        self._docs_schema: str | None = None

    @property
    def field_cols(self) -> list[str]:
        """All analyzed fields; the first is the default search field."""
        return [self.content_col, *self.text_cols]

    def _source_cols(self) -> list[str]:
        """The source columns a build reads, in docs-table order."""
        return list(dict.fromkeys(
            ([self.id_col] if self.id_col else list(self.key_cols))
            + ([self.lang_col] if self.lang_col else [])
            + list(self.attr_cols) + list(self.text_cols)
            + [self.content_col]
        ))

    # -------------------------------------------------------- stage 1

    def _keyed(self, source: DataFrame,
               cols: list[str]) -> tuple[DataFrame, dict[int, int] | None]:
        """Deterministically partitioned source slice + doc_id offsets.

        id_col path: identity provided by the source (docID =
        stringified PK in the reference, store/store.go:409-414; here a
        numeric PK), hash-partitioned on it.

        natural-key path: deterministic dense doc_ids with ONE cheap
        key-only count pass (the 10^12-row-safe replacement for UUIDv7
        fill, U6) fixing per-partition id offsets; kernels then assign
        doc_id = offset[pid] + local rank over hash(natural key)
        partitions sorted by key. Hash partitioning (not range) because
        Spark's murmur3 bucket is reproducible across jobs/runs — no
        sampled boundaries. The count pass runs once per build (cached
        on self for the second stage).
        """
        src = source.select(*cols)
        p = self.n_build_partitions
        if self.id_col:
            keyed = (src.withColumnRenamed(self.id_col, "doc_id")
                        .withColumn("doc_id", F.col("doc_id").cast("bigint"))
                        .repartition(p, "doc_id"))
            return keyed, None
        if self._id_offsets is None:
            counts = {int(r["_pid"]): int(r["cnt"]) for r in (
                source.select(*self.key_cols)
                      .groupBy(F.pmod(F.hash(*self.key_cols), F.lit(p)).alias("_pid"))
                      .agg(F.count("*").alias("cnt")).collect())}
            offsets, acc = {}, 0
            for pid in sorted(counts):
                offsets[pid] = acc
                acc += counts[pid]
            self._id_offsets = offsets
            self._n_docs = acc
        keyed = (src.repartition(p, *self.key_cols)
                    .sortWithinPartitions(*self.key_cols))
        return keyed, self._id_offsets

    def build_docs(self, source: DataFrame,
                   pending: PendingSnapshot) -> None:
        """Docs table: attributes + content + content_sha256 + doc_len.
        Token arrays are deliberately NOT staged (see module doc).

        Fast path (filter_stopwords=False, the default): doc_len is a
        Catalyst expression (tokenizer.doc_len_sql, parity-tested
        against count_terms), so the stage tokenizes NOTHING in Python —
        the only Python work is the id-assignment kernel on the
        natural-key path, and the id_col path is 100% JVM. The stopword
        path keeps the Arrow tokenize kernel (per-lang sets)."""
        from bright_spark.analysis.tokenizer import doc_len_sql
        cfg = self.config
        keyed, id_offsets = self._keyed(source, self._source_cols())
        keyed = keyed.withColumn("content_sha256", F.sha2(F.col(self.content_col), 256))
        if not self.filter_stopwords:
            if self.id_col:
                tokenized = keyed
            else:
                p = self.n_build_partitions
                with_pid = keyed.withColumn(
                    "_pid", F.pmod(F.hash(*self.key_cols), F.lit(p)))
                schema = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in keyed.schema.fields) + ", doc_id BIGINT"
                tokenized = with_pid.mapInPandas(
                    _make_assign_ids_fn(id_offsets or {}), schema=schema)
            tokenized = tokenized.withColumn(
                "doc_len",
                F.coalesce(F.expr(doc_len_sql(self.content_col, cfg.tokenizer)),
                           F.lit(0)).cast("int"))
        else:
            passthrough = [c for c in keyed.columns]
            in_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                  for f in keyed.schema.fields)
            id_part = "" if self.id_col else "doc_id BIGINT, "
            out_schema = f"{in_schema}, {id_part}doc_len INT"
            tokenized = keyed.mapInPandas(
                _make_tokenize_fn(self.content_col, self.lang_col, cfg.tokenizer,
                                  self.filter_stopwords, passthrough, id_offsets),
                schema=out_schema,
            )
        if not cfg.store_content:
            tokenized = tokenized.drop(self.content_col)
        # record the docs DDL in this builder (build_stats puts it in
        # the manifest meta): reads then survive empty group dirs and
        # empty corpora, where parquet schema inference fails
        self._docs_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in tokenized.schema.fields)
        # a full build replaces EVERY doc group: forget inherited
        # pointers so groups absent from this corpus drop out
        pending.reset_parts("docs")
        stage_docs_write(tokenized, pending, cfg.docs_range_bits,
                         self.n_build_partitions)

    # -------------------------------------------------------- stage 2

    def build_postings(self, source: DataFrame,
                       pending: PendingSnapshot) -> None:
        """Fused tokenize+segment pass, then the (term, range_id)
        shuffle-merge. When content is stored (default), the pass is a
        shuffle-free columnar scan of the docs table (doc_ids already
        assigned); re-tokenizing is far cheaper than staging per-doc
        token arrays through Arrow + parquet. With store_content=False
        it re-derives the same deterministic doc_ids from the source
        (one extra key shuffle)."""
        cfg = self.config
        fields = self.field_cols
        if cfg.store_content:
            cols = ["doc_id"] + fields + (
                [self.lang_col] if self.lang_col else [])
            scan = self.spark.read.parquet(
                *pending.docs_dirs()).select(*cols)
            # ids are already assigned on this path, so the tokenize
            # kernel is partition-assignment-free — floor its
            # parallelism: the freshly written docs table is many small
            # files that open-cost packing can collapse into one or two
            # scan splits (guide §6), single-threading the heaviest
            # build stage; no-op when the scan is already wide
            from bright_spark.util import fan_out
            scan = fan_out(scan, self.n_build_partitions)
            id_offsets = None
        else:
            cols = list(dict.fromkeys(
                ([self.id_col] if self.id_col else list(self.key_cols))
                + ([self.lang_col] if self.lang_col else []) + fields
            ))
            scan, id_offsets = self._keyed(source, cols)
        partials = scan.mapInArrow(
            _make_tokenize_partials_fn(
                fields, self.lang_col, cfg.tokenizer,
                self.filter_stopwords, cfg.range_bits, id_offsets,
                store_positions=cfg.store_positions),
            schema=PARTIALS_SCHEMA,
        )
        n_merge = self.n_build_partitions
        merged = (partials
                  .repartition(n_merge, "term", "range_id")
                  .mapInArrow(_make_merge_fn(cfg.block_size, cfg.n_term_buckets,
                                             cfg.store_positions),
                              schema=POSTINGS_KERNEL_SCHEMA)
                  .withColumn("ver", F.lit(pending.snapshot_id)))
        # a full build replaces EVERY bucket: forget inherited pointers
        # so buckets absent from this corpus drop out of the snapshot
        pending.tables["postings"] = {}
        # term leads the in-file sort so parquet row-group min/max
        # prunes term lookups; field is a low-cardinality secondary key
        stage_postings_write(merged, pending, cfg.n_term_buckets,
                             cfg.files_per_bucket or 1)

    # -------------------------------------------------------- stage 3

    def _docs_ddl(self, pending: PendingSnapshot) -> str | None:
        """DDL recorded by build_docs, or (resume path, where the docs
        stage was skipped this run) inferred from the pending dirs."""
        if self._docs_schema is None:
            ddirs = pending.docs_dirs()
            if ddirs:
                sch = self.spark.read.parquet(*ddirs).schema
                self._docs_schema = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in sch.fields)
        return self._docs_schema

    @staticmethod
    def _write_index_meta(pending: PendingSnapshot, meta: dict) -> None:
        # single-row table: driver-side pyarrow write (a whole Spark
        # job for one row is pure fixed overhead); nested field_stats
        # stays in the manifest only
        import pyarrow as pa
        import pyarrow.parquet as pq
        im = pending.table_path("index_meta")
        shutil.rmtree(im, ignore_errors=True)
        os.makedirs(im, exist_ok=True)
        flat = {k: v for k, v in meta.items() if not isinstance(v, dict)}
        pq.write_table(pa.Table.from_pylist([flat]),
                       os.path.join(im, "part-0.parquet"))

    def _make_meta(self, n_docs: int, field_tokens: dict[str, int],
                   docs_schema: str | None) -> dict:
        cfg = self.config
        total_tokens = field_tokens.get(self.content_col, 0)
        # per-field BM25 stats: a field absent from a doc contributes
        # length 0, so avgdl_f = Σ dl_f / N over ALL docs
        field_stats = {
            f: {"total_tokens": field_tokens.get(f, 0),
                "avgdl": (field_tokens.get(f, 0) / n_docs) if n_docs else 0.0}
            for f in self.field_cols
        }
        return {
            "n_docs": n_docs,
            # top-level stats are the default (content) field's
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
            "field_stats": field_stats,
            "k1": cfg.k1,
            "b": cfg.b,
            "tokenizer": cfg.tokenizer,
            "store_positions": cfg.store_positions,
            "filter_stopwords": self.filter_stopwords,
            "range_bits": cfg.range_bits,
            "block_size": cfg.block_size,
            "n_term_buckets": cfg.n_term_buckets,
            "docs_range_bits": cfg.docs_range_bits,
            "docs_schema": docs_schema,
            "version": LAYOUT_VERSION,
            # how this snapshot was written: IndexCatalog.load_config /
            # load_extra, the settings its readers and writers take
            "build": {"config": dataclasses.asdict(cfg), "extra": {
                "content_col": self.content_col,
                "key_cols": list(self.key_cols),
                "id_col": self.id_col,
                "lang_col": self.lang_col,
                "attr_cols": list(self.attr_cols),
                "text_cols": list(self.text_cols),
                "filter_stopwords": self.filter_stopwords,
                "n_build_partitions": self.n_build_partitions}},
        }

    def _field_cf_totals(self, dirs: list[str]) -> dict[str, int]:
        """Per-field Σ cf over a set of term_stats dirs — a column-
        pruned scan of the tiny aggregate, on the driver when the
        footer bytes of the two columns fit :func:`catalog.fits_local`.
        Explicit schema: an EMPTY selection (delete-everything, emptied
        buckets) has zero part files and inference would fail on the
        bare _SUCCESS marker."""
        if not dirs:
            return {}
        rd = self.catalog._footer_read(
            dirs, "term", None,
            pa.schema([TERM_STATS_ARROW.field(c) for c in ("field", "cf")]))
        if rd.fits:
            agg = rd.read().group_by("field").aggregate([("cf", "sum")])
            return {f: int(t or 0) for f, t in zip(
                agg["field"].to_pylist(), agg["cf_sum"].to_pylist())}
        frows = (self.spark.read.schema(TERM_STATS_SCHEMA).parquet(*dirs)
                 .groupBy("field").agg(F.sum("cf").alias("t")).collect())
        return {r["field"]: int(r["t"] or 0) for r in frows}

    def build_stats(self, pending: PendingSnapshot) -> dict:
        """Stage 3 over the PENDING postings (not yet visible to
        readers): per-bucket term_stats version dirs + index_meta,
        returning the corpus-stats dict the caller commits into the
        manifest. Full-build form — every bucket is (re)computed; the
        mutation path uses :meth:`mutate_stats` (affected buckets
        only)."""
        cfg = self.config
        dirs = pending.postings_dirs()
        # column-pruned read: only (bucket, field, term, df_chunk,
        # cf_chunk) leave the parquet scan
        post = (self.spark.read.schema(POSTINGS_SCHEMA).parquet(*dirs)
                if dirs else
                self.spark.createDataFrame([], POSTINGS_SCHEMA))
        ts = (post.groupBy("bucket", "field", "term")
                  .agg(F.sum("df_chunk").alias("df"), F.sum("cf_chunk").alias("cf")))
        # a full rebuild replaces every stats bucket
        pending.reset_parts("term_stats")
        stage_term_stats_write(ts, pending, cfg.n_term_buckets,
                               self.n_build_partitions)
        # per-field totals: Σ cf (every emitted token lands in exactly
        # one posting run), re-read from the term_stats dirs just
        # written instead of persisting the whole table across jobs;
        # n_docs is tracked during doc_id assignment (no extra scan)
        field_tokens = self._field_cf_totals(
            pending.part_dirs("term_stats"))
        n_docs = self._n_docs
        if n_docs is None:
            # parquet FOOTER row counts of the freshly written docs
            # dirs — exact, O(files) metadata reads, no Spark job (the
            # id_col path never runs the offsets count pass, so this
            # was a full scan+count job per build)
            cat = self.catalog
            n_docs = sum(cat._footer(f).num_rows
                         for f in cat._files(pending.docs_dirs()))
            self._n_docs = n_docs
        meta = self._make_meta(n_docs, field_tokens,
                               self._docs_ddl(pending))
        self._write_index_meta(pending, meta)
        return meta

    def mutate_stats(self, pending: PendingSnapshot, old_meta: dict,
                     delta_df: DataFrame, n_docs: int) -> dict:
        """Stats maintenance for a mutation commit, O(batch): the
        caller derives SIGNED per-(field, term) df/cf deltas from the
        re-tokenized replaced docs (−) and the new batch (+) — no
        postings read at all. The deltas land as append rows in the
        affected buckets' term_stats chains (the reader view sums per
        term; compaction consolidates), and the per-field corpus
        totals advance by the same integer deltas, so results stay
        bit-identical to a full re-aggregation (the mutate==rebuild
        pytest invariant)."""
        cfg = self.config
        from bright_spark.index.catalog import term_bucket_col
        rows = (delta_df
                .withColumn("bucket", term_bucket_col(
                    F.col("term"), cfg.n_term_buckets))
                .select("field", "term", "df", "cf", "bucket"))
        written = stage_term_stats_write(
            rows, pending, cfg.n_term_buckets,
            min(self.n_build_partitions, 8), delta=True)
        # per-field totals delta: Σ of the SIGNED cf rows just written
        # — one tiny directory-pruned read-back (an Observation on the
        # write would save it, but observed metrics do not propagate
        # inside Structured Streaming's foreachBatch, where the sync
        # loop runs this very path)
        new_dirs = [os.path.join(self.catalog.index_dir,
                                 pending.part_rel("term_stats", b))
                    for b in sorted(written)]
        field_delta = self._field_cf_totals(new_dirs)
        old_fs = old_meta.get("field_stats") or {}
        field_tokens = {
            f: (int((old_fs.get(f) or {}).get("total_tokens", 0))
                + field_delta.get(f, 0))
            for f in self.field_cols
        }
        meta = self._make_meta(n_docs, field_tokens,
                               old_meta.get("docs_schema"))
        self._write_index_meta(pending, meta)
        return meta

    # ----------------------------------------------------------- main

    def resolve_range_bits(self, source: DataFrame) -> None:
        """Auto-size build knobs left as None in the config:

        - range_bits: aim for ~4 doc-ranges per parallel slot so the
          per-range query kernel and the (term, range) merge both fan
          out, with ≥1024-doc spans (bounds postings row counts) and
          ≤2**16-doc spans (the B5 skew bound for web-scale corpora).
        - n_term_buckets: ~the build partition count (bounded [16, 256])
          so the bucket-partitioned postings write parallelizes.
        - docs_range_bits: docs-table CoW group span, ~one group per
          build partition, spans bounded [2**10, 2**22]: small enough
          that a mutation's group rewrite stays proportional to its
          change set, large enough that the manifest's group map stays
          compact at 10^12 docs (~2.4e8/2**22 ≈ 60k entries).
        """
        repl: dict = {}
        if self.config.n_term_buckets is None:
            repl["n_term_buckets"] = min(256, max(16, self.n_build_partitions))
        if self.config.files_per_bucket is None:
            nb = repl.get("n_term_buckets", self.config.n_term_buckets)
            repl["files_per_bucket"] = max(1, self.n_build_partitions
                                           // max(1, nb))
        if (self.config.range_bits is None
                or self.config.docs_range_bits is None):
            if self._n_docs is None:
                self._n_docs = int(source.count())
            n_docs = self._n_docs
            if self.config.range_bits is None:
                slots = self.spark.sparkContext.defaultParallelism
                span = max(1024, n_docs // max(4 * slots, 1))
                repl["range_bits"] = min(16, max(10, int(span).bit_length() - 1))
            if self.config.docs_range_bits is None:
                dspan = max(1024, n_docs // max(1, self.n_build_partitions))
                repl["docs_range_bits"] = min(
                    22, max(10, int(dspan).bit_length() - 1))
        if repl:
            self.config = dataclasses.replace(self.config, **repl)

    # ------------------------------------------------- driver execution

    def _driver_source(self, source: DataFrame, rows: list[dict] | None
                       ) -> tuple[pa.Table | None, int | None]:
        """(the selected source columns as one arrow table, or None when
        the build must run on Spark; the size figure gated). Starts at
        most one Spark job (the collect) and writes nothing. A repeated
        id value also keeps the build on Spark: the driver derives each
        doc's length from its id."""
        sel = source.select(*self._source_cols())
        ddl = [(f.name, f.dataType.simpleString()) for f in sel.schema.fields]
        keys = [self.id_col] if self.id_col else list(self.key_cols)
        key_types = _ID_DDL if self.id_col else _HASHED_KEY_DDL
        if (any(t not in _ARROW_OF_DDL for _, t in ddl)
                or any(t not in key_types for n, t in ddl if n in keys)):
            return None, None
        schema = pa.schema([(n, _ARROW_OF_DDL[t]) for n, t in ddl])
        tab = None
        if rows is None:
            nbytes = _file_scan_bytes(sel)
            if nbytes is None:
                return None, None
        else:
            try:
                tab = pa.Table.from_pylist(rows, schema=schema)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                return None, None
            nbytes = tab.nbytes
        if not fits_local_build(nbytes):
            return None, nbytes
        if tab is None:
            tab = _conform(sel.toArrow(), schema)
        if any(tab[k].null_count for k in keys) or (
                self.id_col and pc.count_distinct(tab[self.id_col]).as_py()
                != tab.num_rows):
            return None, nbytes
        return tab, nbytes

    def _partials(self, tab: pa.Table) -> pa.Table | None:
        """The fused tokenize+combine kernel (the Spark stage's
        mapInArrow body) over driver-resident rows carrying ``doc_id``
        and every analyzed field: their partial posting rows, or None
        when no field holds a term."""
        cfg = self.config
        fn = _make_tokenize_partials_fn(
            self.field_cols, self.lang_col, cfg.tokenizer,
            self.filter_stopwords, int(cfg.range_bits),
            store_positions=bool(cfg.store_positions))
        out = list(fn(iter(tab.to_batches())))
        return pa.Table.from_batches(out) if out else None

    def _build_driver(self, src: pa.Table, pending: PendingSnapshot) -> dict:
        """Stages 1-3 over the collected source, on the driver: the
        Spark stages' doc_ids, kernels, file sort orders and docs DDL,
        one file per docs group, postings bucket and term_stats bucket.
        Returns the corpus-stats dict, as :meth:`build_stats` does."""
        cfg = self.config
        n = src.num_rows
        if self.id_col:
            src = src.set_column(src.schema.get_field_index(self.id_col),
                                 "doc_id", src[self.id_col].cast(pa.int64())
                                 ).sort_by("doc_id")
            ids = src["doc_id"]
        else:
            # stage 1's order: hash partition, then natural key within it
            p = self.n_build_partitions
            pids = [partition_id(k, p) for k in zip(
                *(src[c].to_pylist() for c in self.key_cols))]
            src = (src.append_column("_pid", pa.array(pids, pa.int32()))
                      .sort_by([("_pid", "ascending")]
                               + [(c, "ascending") for c in self.key_cols])
                      .drop_columns(["_pid"]))
            ids = pa.chunked_array([np.arange(n, dtype=np.int64)])
        ids_np = ids.to_numpy()

        # postings: the tokenize and merge kernels run once per doc range
        # (every (term, range_id) merge group lies within one), so the
        # driver holds one range's partials at a time. The content
        # field's partials carry each doc's length, the doc_len column.
        kin = pa.table({"doc_id": ids, **{c: src[c] for c in dict.fromkeys(
            [*self.field_cols, *([self.lang_col] if self.lang_col else [])])}})
        merge = _make_merge_fn(cfg.block_size, cfg.n_term_buckets,
                               cfg.store_positions, ver=pending.snapshot_id)
        doc_len = np.zeros(n, np.int32)
        posts = []
        for _, part in _slices_by(kin, ids_np >> np.int64(cfg.range_bits)):
            partials = self._partials(part)
            if partials is None:
                continue
            own = partials.filter(
                pc.equal(partials["field"], self.content_col))
            doc_len[np.searchsorted(ids_np, codec.list_values(
                own["doc_ids"]))] = codec.list_values(own["dls"])
            posts += merge(partials.to_batches())

        docs = src.append_column("content_sha256", pa.array(
            _sha256_series(src[self.content_col].to_pandas()), pa.string()))
        if not self.id_col:
            docs = docs.append_column("doc_id", ids)
        docs = docs.append_column("doc_len", pa.array(doc_len))
        if not cfg.store_content:
            docs = docs.drop_columns([self.content_col])
        self._docs_schema = ", ".join(f"{f.name} {_DDL_OF_ARROW[f.type]}"
                                      for f in docs.schema)
        pending.reset_parts("docs")
        for g, part in _slices_by(
                docs, ids_np >> np.int64(cfg.docs_range_bits)):
            write_part(pending.adopt_part("docs", g), part, pending,
                       all_statistics=True)

        pending.tables["postings"] = {}
        pending.reset_parts("term_stats")
        field_tokens: dict[str, int] = {}
        if posts:
            post = pa.Table.from_batches(posts).sort_by(
                [("bucket", "ascending"), ("term", "ascending"),
                 ("field", "ascending"), ("range_id", "ascending")])
            for b, part in _slices_by(post, post["bucket"].to_numpy()):
                write_part(pending.adopt_part("postings", b), part, pending)
            agg = post.group_by(["bucket", "field", "term"]).aggregate(
                [("df_chunk", "sum"), ("cf_chunk", "sum")])
            stats = pa.Table.from_arrays(
                [agg["field"], agg["term"], agg["df_chunk_sum"],
                 agg["cf_chunk_sum"], agg["bucket"]],
                schema=TERM_STATS_ARROW).sort_by(
                [("bucket", "ascending"), ("term", "ascending"),
                 ("field", "ascending")])
            for b, part in _slices_by(stats, stats["bucket"].to_numpy()):
                write_part(pending.adopt_part("term_stats", b), part,
                           pending)
            tot = stats.group_by("field").aggregate([("cf", "sum")])
            field_tokens = dict(zip(tot["field"].to_pylist(),
                                    tot["cf_sum"].to_pylist()))
        meta = self._make_meta(n, field_tokens, self._docs_schema)
        self._write_index_meta(pending, meta)
        return meta

    def build(self, source: DataFrame) -> IndexCatalog:
        return self._build(source, None)

    def _build(self, source: DataFrame,
               rows: list[dict] | None) -> IndexCatalog:
        """``rows``: the driver-resident records ``source`` was just
        created from (the REST first batch), or None. The driver
        execution reads them instead of collecting ``source``."""
        local, nbytes = self._driver_source(source, rows)
        if local is not None:
            self._n_docs = local.num_rows
        self.resolve_range_bits(source)
        import time
        t0 = time.time()
        pending = self.catalog.begin()
        if local is not None:
            meta = self._build_driver(local, pending)
        else:
            self.build_docs(source, pending)
            self.build_postings(source, pending)
            meta = self.build_stats(pending)
        pending.commit(meta, "build", metrics={
            "mode": "spark" if local is None else "driver",
            "source_bytes": nbytes,
            "n_docs": meta["n_docs"],
            "buckets_written": len(pending.tables["postings"]),
            "wall_ms": int((time.time() - t0) * 1000)})
        return self.catalog


def detect_primary_key(source: DataFrame) -> str:
    """U5 auto-detection (store/store.go:559-594): the single column
    whose name ends with 'id' (case-insensitive). Errors on zero or
    multiple candidates, exactly like the reference."""
    candidates = sorted(c for c in source.columns if c.lower().endswith("id"))
    if not candidates:
        raise ValueError("no primary key candidate found "
                         "(no attribute ending with 'id')")
    if len(candidates) > 1:
        raise ValueError(f"multiple primary key candidates found: {candidates}")
    return candidates[0]


def build_index(spark: SparkSession, source: DataFrame, index_dir: str,
                config: IndexConfig | None = None, **kwargs) -> IndexCatalog:
    cfg = config or IndexConfig(id=os.path.basename(index_dir.rstrip("/")))
    return IndexBuilder(spark, cfg, index_dir, **kwargs).build(source)
