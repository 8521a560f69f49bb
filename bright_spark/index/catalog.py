"""On-disk index catalog — the Spark-native analog of a Bleve index dir.

The reference persists one Bleve scorch directory per index under
``<dataDir>/<indexID>`` plus a ``configs.json`` (store/store.go:91,
226-282). Our index is a directory of columnar tables under an
Iceberg-style snapshot protocol (layout v4):

    <index_dir>/
      config.json        index + build configuration (configs.json analog)
      CURRENT            id of the live snapshot ("s00000007"), replaced
                         atomically via os.replace — THE commit point
      snapshots/
        s00000007.json   manifest: table-name -> version-dir pointers +
                         corpus stats (n_docs, avgdl, field_stats, ...)
      data/
        docs/g00000012/v00000007/  per-DOC-RANGE versioned doc dirs;
                                   group = doc_id >> docs_range_bits
                                   (doc_id, attrs, content, sha256,
                                   doc_len — doc_id-sorted files)
        postings/b00003/v00000004/ per-BUCKET versioned posting dirs;
                                   bucket = crc32(term) % B is a data
                                   column (term-sorted files)
        term_stats/b00003/v00000005/ per-BUCKET versioned stats dirs:
                                   term -> global df, cf
        index_meta/v00000007/      single-row parquet mirror of stats
      checkpoints/       per-shard build lineage rows (resumability)
      segments/          resumable-build staging (not snapshot-tracked)

(Layout v3 — a single version dir for docs and term_stats — is still
READABLE: a manifest entry that is a plain string resolves as one dir.
The first mutation on a v3 index migrates those tables to the
per-group/per-bucket form.)

Write protocol (single writer, any number of readers):
  1. ``begin()`` a :class:`PendingSnapshot` — writers put every table
     they produce into NEW immutable version dirs; tables they do not
     touch keep the parent manifest's pointers (a mutation that
     rewrites 3 of 64 posting buckets shares the other 61 dirs with
     its parent — pointer copy, zero data copy). In v4 EVERY big table
     is partitioned this way — postings by term bucket, docs by
     doc-range group, term_stats by term bucket — so a mutation commit
     is O(changed partitions), never O(corpus): a 50-doc upsert
     re-versions the handful of doc groups and term buckets its ids
     and terms land in, and nothing else is read, written, or listed.
  2. ``commit()`` writes the manifest JSON, then atomically replaces
     ``CURRENT``. A crash anywhere before that leaves the previous
     snapshot fully intact (orphan version dirs are ignored and later
     reclaimed by :meth:`IndexCatalog.vacuum`).

Readers resolve paths through a manifest. :meth:`pin` freezes a reader
on the snapshot that was current at pin time, so long-running queries
are immune to concurrent mutations (the streaming poll loop commits
while searches run); old snapshots stay readable until ``vacuum``
expires them — exactly Iceberg's snapshot-expiry contract.

Bucket pruning: the query side computes the term's bucket on the
driver (crc32 — same polynomial as Spark's ``F.crc32``) and reads ONLY
those buckets' live version dirs — directory-level pruning that never
even lists the other buckets; parquet row-group min/max on ``term``
prunes within a bucket (rows are written term-sorted).

Driver-side reads: the same pruning runs from the parquet footers
alone (:class:`FooterRead`). A read whose selected row groups hold
fewer than :data:`LOCAL_READ_MAX_BYTES` (footer-reported uncompressed
bytes of the columns read) runs with pyarrow on the driver and starts
no Spark job; a larger one goes through the Spark readers below.
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import os
import shutil
import threading
import time
import zlib
from collections.abc import Callable
from dataclasses import asdict
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bright_spark.models import IndexConfig

# kernel-output posting row (what the merge kernels emit)
POSTINGS_KERNEL_SCHEMA = (
    "bucket INT, field STRING, term STRING, range_id BIGINT, "
    "df_chunk INT, cf_chunk BIGINT, "
    "first_doc ARRAY<BIGINT>, max_doc ARRAY<BIGINT>, n ARRAY<INT>, "
    "max_tf ARRAY<INT>, min_dl ARRAY<INT>, "
    "docs ARRAY<BINARY>, tfs ARRAY<BINARY>, dls ARRAY<BINARY>, "
    # per-block absolute-varint positions (empty when the index was
    # built with store_positions=False)
    "pos ARRAY<BINARY>"
)

# on-disk posting row: adds the writing snapshot's id (`ver`) — the
# generation stamp append-mode tombstones compare against (an entry is
# dead iff its doc_id is tombstoned at a LATER version). Files from
# older layouts lack the column; Spark fills null, which readers treat
# as version 0 (the oldest).
POSTINGS_SCHEMA = POSTINGS_KERNEL_SCHEMA + ", ver BIGINT"

TERM_STATS_SCHEMA = ("field STRING, term STRING, df BIGINT, cf BIGINT, "
                     "bucket INT")

_LIST_I64 = pa.list_(pa.int64())
_LIST_I32 = pa.list_(pa.int32())
_LIST_BIN = pa.list_(pa.binary())

# arrow shape of the on-disk posting / term_stats rows. The Spark
# readers use the DDL schemas above, so logical-type equality is the
# only contract the files honor (Spark writes ``ver`` as int32, the
# driver-side writers as int64): driver-side reads cast to these.
POSTINGS_ARROW = pa.schema([
    ("bucket", pa.int32()), ("field", pa.string()), ("term", pa.string()),
    ("range_id", pa.int64()), ("df_chunk", pa.int32()),
    ("cf_chunk", pa.int64()), ("first_doc", _LIST_I64),
    ("max_doc", _LIST_I64), ("n", _LIST_I32), ("max_tf", _LIST_I32),
    ("min_dl", _LIST_I32), ("docs", _LIST_BIN), ("tfs", _LIST_BIN),
    ("dls", _LIST_BIN), ("pos", _LIST_BIN), ("ver", pa.int64()),
])

TERM_STATS_ARROW = pa.schema([
    ("field", pa.string()), ("term", pa.string()), ("df", pa.int64()),
    ("cf", pa.int64()), ("bucket", pa.int32()),
])
_TERM_DF_ARROW = pa.schema([TERM_STATS_ARROW.field(c)
                            for c in ("field", "term", "df")])

# build-time columns a docs read never returns
_BUILD_COLS = ("_term_arr", "_tf_arr", "_pid")

# docs DDL types a driver-side read maps to arrow; a docs read touching
# any other type (decimal, timestamp, binary, nested, ...) goes through
# Spark, whose Row values those types would not match
_ARROW_OF_DDL = {
    "string": pa.string(), "bigint": pa.int64(), "int": pa.int32(),
    "smallint": pa.int16(), "tinyint": pa.int8(), "double": pa.float64(),
    "float": pa.float32(), "boolean": pa.bool_(),
}

# Driver-side read budget: a read whose selected parquet row groups hold
# fewer uncompressed bytes (as their footers report, over the columns
# read) runs with pyarrow on the driver; anything larger runs as Spark
# jobs. The one size gate of the read path (postings, term dictionary,
# expansions, docs) and of compaction (every target postings dir plus
# every chained term_stats dir).
#
# Set below the smallest measured crossover of search() wall time, driver
# path vs Spark path (4-vCPU VM, local[4], 50,000-file make_repos_spark
# corpus, median of 5): positional phrases cross at 30-42 MiB (hot
# phrase at 29.7 MiB: 2.04 s driver vs 2.51 s relational; 42.2 MiB:
# 2.37 vs 2.30; 55.8 MiB: 2.83 vs 2.30); hot-term ORs at 84-96 MiB
# (60.6 MiB: 1.09 vs 1.56 s wand; 84.4: 1.63 vs 1.84; 95.5: 2.19 vs
# 1.96); wildcards of 1,861-4,096 terms reading the whole 98 MiB postings
# table still run 2-3x faster on the driver. Driver peak RSS grows by
# about 2.6x the footer bytes read (136 MiB at 29.7 MiB).
#
# Compaction (same VM; make_repos_spark corpora of 2,000-5,600 files
# with positions, 1% of ids replaced; median of 3 warm runs): driver vs
# Spark wall at 11.1 MiB of footer bytes 2.53 s vs 4.69 s; 21.0 MiB:
# 4.37 vs 8.44 s; 28.8 MiB: 7.93 vs 10.57 s. The driver wins below the
# gate, by less as bytes grow. It compacts one bucket at a time; its
# peak RSS grew by 111, 181 and 238 MiB (about 8-10x the footer bytes).
LOCAL_READ_MAX_BYTES = 32 << 20


def fits_local(nbytes: int) -> bool:
    return nbytes < LOCAL_READ_MAX_BYTES


@functools.lru_cache(maxsize=None)
def _ddl_fields(ddl: str) -> tuple[tuple[str, str], ...]:
    """(name, Spark simple type name) of each column of a DDL string,
    parsed by Spark's own DDL parser (a JVM call, no job)."""
    return tuple((f.name, f.dataType.simpleString())
                 for f in StructType.fromDDL(ddl).fields)


def _covers_any(keys: list) -> Callable[[Any, Any], bool]:
    """Row-group test: some of the (sorted) ``keys`` lies in [lo, hi]."""
    return lambda lo, hi: (bisect.bisect_left(keys, lo)
                           < bisect.bisect_right(keys, hi))


def _covers_prefix(prefix: str) -> Callable[[Any, Any], bool]:
    """Row-group test: [lo, hi] may hold a string starting with
    ``prefix`` (every string above ``prefix`` that lacks it sorts above
    all strings that have it)."""
    return lambda lo, hi: hi >= prefix and (lo <= prefix
                                            or lo.startswith(prefix))


def _conform(tab: pa.Table, schema: pa.Schema) -> pa.Table:
    """``tab`` in ``schema``'s column order and types; a column the
    file lacks (older layouts) reads as nulls, as Spark fills it."""
    return pa.Table.from_arrays(
        [tab[f.name].cast(f.type) if f.name in tab.column_names
         else pa.nulls(tab.num_rows, f.type) for f in schema],
        schema=schema)


class FooterRead:
    """Row groups of one table picked from parquet footers alone, and
    the uncompressed bytes they hold over the columns to read — the
    size :func:`fits_local` gates. :meth:`read` loads them with
    pyarrow, cast to ``schema`` and filtered by ``where``."""

    def __init__(self, parts: list[tuple[str, Any, list[int]]], nbytes: int,
                 schema: pa.Schema,
                 where: Callable[[pa.Table], Any] | None = None):
        self.parts = parts
        self.nbytes = nbytes
        self.schema = schema
        self.where = where

    @property
    def fits(self) -> bool:
        return fits_local(self.nbytes)

    def read(self) -> pa.Table:
        cols = self.schema.names
        tabs = [_conform(pq.ParquetFile(path, metadata=md)
                         .read_row_groups(rgs, columns=cols), self.schema)
                for path, md, rgs in self.parts]
        tab = pa.concat_tables(tabs) if tabs else self.schema.empty_table()
        if self.where is not None and tab.num_rows:
            tab = tab.filter(self.where(tab))
        return tab


def _pair_mask(pairs: list[tuple[str, str]]) -> Callable[[pa.Table], Any]:
    """(field, term) pairs -> arrow row mask (the driver-side form of
    :meth:`IndexCatalog._pair_filter`)."""
    by_field: dict[str, set[str]] = {}
    for f, t in pairs:
        by_field.setdefault(f, set()).add(t)

    def where(tab: pa.Table):
        mask = None
        for f in sorted(by_field):
            m = pc.and_(pc.equal(tab["field"], f),
                        pc.is_in(tab["term"], value_set=pa.array(
                            sorted(by_field[f]), pa.string())))
            mask = m if mask is None else pc.or_(mask, m)
        return mask
    return where


def write_part(dst_dir: str, table: pa.Table) -> None:
    """One driver-side version-dir write: clobber a crashed prior
    attempt, then write ``table`` as a single file. zstd at level 3 and
    no embedded Arrow schema give files the size of Spark's (same codec
    and level); column statistics stay on, since readers prune on them."""
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir, exist_ok=True)
    pq.write_table(table, os.path.join(dst_dir, "part-0.parquet"),
                   compression="zstd", compression_level=3,
                   store_schema=False)


LAYOUT_VERSION = 4

# partitioned snapshot tables: manifest entry {part_key: version_dir};
# prefix/width name the partition dirs (data/<table>/<prefix><key>/v<N>)
PART_TABLES = {"postings": ("b", 5), "docs": ("g", 8), "term_stats": ("b", 5)}


def term_bucket(term: str, n_buckets: int) -> int:
    """crc32(term) % B — matches Spark's ``F.crc32`` (same polynomial),
    so the driver can compute the partition of a query term without a
    scan, and the build can compute it JVM-side."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(term_col, n_buckets: int):
    return (F.crc32(F.encode(term_col, "UTF-8")) % n_buckets).cast("int")


def _snap_name(snapshot_id: int) -> str:
    return f"s{snapshot_id:08d}"


def _entry_dirs(v) -> list[str]:
    """A partition pointer is one dir (str) or a delta chain (list)."""
    return [v] if isinstance(v, str) else list(v)


class CommitConflictError(RuntimeError):
    """Another writer committed since this pending snapshot began —
    the optimistic-concurrency check Iceberg performs on its metadata
    pointer. The loser re-begins from the new snapshot and replays."""


class SnapshotExpiredError(FileNotFoundError):
    """The snapshot this reader is pinned to (or was asked to pin) has
    been expired by :meth:`IndexCatalog.vacuum` — the Iceberg
    ``expire_snapshots`` contract: old snapshots stay readable only
    within the vacuum retention window (``keep_last``); a reader that
    outlives it must re-pin on a retained snapshot. Subclasses
    FileNotFoundError so existing missing-index handling still
    catches it."""


class PendingSnapshot:
    """An uncommitted snapshot: new version dirs + inherited pointers.

    ``adopt_part(table, key)`` hands out the version dir a writer
    should produce for one partition of a partitioned table (postings
    bucket / docs group / term_stats bucket), recording the pointer;
    ``drop_part`` removes a partition a mutation emptied;
    ``table_path("index_meta")`` covers the one whole-table write.
    Nothing is visible to readers until :meth:`commit`.
    """

    def __init__(self, catalog: IndexCatalog, parent: dict | None):
        self.catalog = catalog
        self.parent = parent
        self.snapshot_id = (parent["snapshot_id"] + 1) if parent else 1
        ptabs = (parent or {}).get("tables", {})
        self.tables: dict[str, Any] = {}
        for t in PART_TABLES:
            v = ptabs.get(t, {})
            # a legacy (v3) string entry is inherited as-is; the writer
            # that touches the table migrates it to the dict form
            self.tables[t] = dict(v) if isinstance(v, dict) else v
        for t in ("index_meta", "tombstones"):
            if parent and t in ptabs:
                self.tables[t] = ptabs[t]

    # ---------------------------------------------------- write targets

    def table_path(self, table: str) -> str:
        """Absolute path of this snapshot's NEW version dir for a
        whole-table rewrite (index_meta — the partitioned tables go
        through :meth:`adopt_part`)."""
        rel = os.path.join("data", table, f"v{self.snapshot_id:08d}")
        self.tables[table] = rel
        return os.path.join(self.catalog.index_dir, rel)

    def part_rel(self, table: str, key: int) -> str:
        prefix, width = PART_TABLES[table]
        return os.path.join("data", table, f"{prefix}{key:0{width}d}",
                            f"v{self.snapshot_id:08d}")

    def adopt_part(self, table: str, key: int) -> str:
        """Record this snapshot's new version dir for one partition of
        a partitioned table and return its absolute path (the caller
        moves/writes data there). REPLACES the partition's pointer —
        any delta chain collapses to the one new dir (the consolidation
        form; :meth:`adopt_part_delta` is the append form)."""
        if not isinstance(self.tables.get(table), dict):
            self.tables[table] = {}  # legacy str entry: migrated now
        rel = self.part_rel(table, key)
        self.tables[table][str(key)] = rel
        return os.path.join(self.catalog.index_dir, rel)

    def adopt_part_delta(self, table: str, key: int) -> str:
        """APPEND this snapshot's version dir to the partition's
        pointer chain instead of replacing it — the O(batch) mutation
        form (scorch's segment append): readers union the chain's
        dirs; a later consolidation (adopt_part) collapses it."""
        if not isinstance(self.tables.get(table), dict):
            self.tables[table] = {}
        cur = self.tables[table].get(str(key))
        chain = ([] if cur is None
                 else [cur] if isinstance(cur, str) else list(cur))
        rel = self.part_rel(table, key)
        if rel not in chain:
            chain.append(rel)
        self.tables[table][str(key)] = chain if len(chain) > 1 else rel
        return os.path.join(self.catalog.index_dir, rel)

    def drop_part(self, table: str, key: int) -> None:
        if isinstance(self.tables.get(table), dict):
            self.tables[table].pop(str(key), None)

    def reset_parts(self, table: str) -> None:
        """Forget inherited pointers — a full rewrite of the table."""
        self.tables[table] = {}

    def adopt_parts_from_disk(self, table: str) -> set[int]:
        """Re-adopt THIS snapshot's partition dirs already on disk —
        the resumable build's recovery path: an interrupted run's
        version dirs (written, never committed) are found by scanning
        ``data/<table>/<prefix>*/v<this snapshot id>``."""
        prefix, _ = PART_TABLES[table]
        root = os.path.join(self.catalog.index_dir, "data", table)
        self.tables[table] = {}
        found: set[int] = set()
        if not os.path.isdir(root):
            return found
        vname = f"v{self.snapshot_id:08d}"
        for name in os.listdir(root):
            if not name.startswith(prefix):
                continue
            try:
                key = int(name[len(prefix):])
            except ValueError:
                continue
            if os.path.isdir(os.path.join(root, name, vname)):
                self.adopt_part(table, key)
                found.add(key)
        return found

    # legacy-named wrappers (the postings write path predates v4)
    def adopt_postings_bucket(self, bucket: int) -> str:
        return self.adopt_part("postings", bucket)

    def drop_postings_bucket(self, bucket: int) -> None:
        self.drop_part("postings", bucket)

    def drop_table(self, table: str) -> None:
        self.tables.pop(table, None)

    def write_tombstones(self, ids, vers) -> None:
        """Write this snapshot's tombstone table — (doc_id, ver) pairs
        meaning: posting entries for doc_id written BEFORE ver are
        dead. The whole table is rewritten per commit (driver-side
        pyarrow, no Spark job): it only ever holds the ids changed
        since the last compaction, so it stays tiny."""
        order = np.argsort(np.asarray(ids, dtype=np.int64))
        write_part(self.table_path("tombstones"), pa.table({
            "doc_id": np.asarray(ids, dtype=np.int64)[order],
            "ver": np.asarray(vers, dtype=np.int64)[order]}))

    # ------------------------------------------------------------ reads

    def part_dirs(self, table: str, keys=None) -> list[str]:
        """Resolve (possibly not-yet-committed) partition dirs — stats
        passes inside a build/mutation read through the pending state.
        A legacy string entry resolves as one dir (keys ignored); a
        delta chain resolves to all its dirs in append order."""
        pmap = self.tables[table]
        if isinstance(pmap, str):
            return [os.path.join(self.catalog.index_dir, pmap)]
        ks = (sorted(pmap, key=int) if keys is None
              else [str(k) for k in sorted({int(k) for k in keys})
                    if str(k) in pmap])
        return [os.path.join(self.catalog.index_dir, d)
                for k in ks for d in _entry_dirs(pmap[k])]

    def postings_dirs(self, buckets=None) -> list[str]:
        return self.part_dirs("postings", buckets)

    def docs_dirs(self, groups=None) -> list[str]:
        return self.part_dirs("docs", groups)

    # ----------------------------------------------------------- commit

    def commit(self, meta: dict[str, Any], operation: str,
               metrics: dict[str, Any] | None = None) -> int:
        """Write the manifest, then atomically flip CURRENT. Everything
        before the final ``os.replace`` is invisible to readers.

        Concurrency: the manifest file is CLAIMED atomically (hard link
        of a complete temp file — O_EXCL semantics), so of two writers
        racing from the same parent, exactly one owns the snapshot id;
        the loser gets :class:`CommitConflictError` whichever side of
        the winner's CURRENT flip it lands on, and replays. The check-
        then-act window of a bare current_snapshot_id() compare cannot
        silently clobber. A writer that crashed between claim and flip
        leaves an orphan manifest that blocks its snapshot id;
        ``vacuum()`` removes above-live orphans (operator-run, safe
        under the single-writer contract). (Pre-commit DATA writes
        still assume that contract too: two same-parent writers share
        staging v{N} dirs — the loser must treat its version dirs as
        orphaned and replay; vacuum reclaims them.)"""
        cat = self.catalog
        live = cat.current_snapshot_id()
        expected = self.parent["snapshot_id"] if self.parent else None
        if live != expected:
            raise CommitConflictError(
                f"snapshot {live} was committed after this write began "
                f"(expected parent {expected}); re-begin and replay")
        os.makedirs(cat.snapshots_dir, exist_ok=True)
        manifest = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent["snapshot_id"] if self.parent else None,
            "layout_version": LAYOUT_VERSION,
            "operation": operation,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "metrics": metrics or {},
            "tables": self.tables,
            "meta": meta,
        }
        name = _snap_name(self.snapshot_id)
        mf = os.path.join(cat.snapshots_dir, name + ".json")
        # temp name unique per WRITER, not just per process: two threads
        # of one process racing commit must not share (and truncate)
        # each other's temp file between json.dump and os.link
        tmp_mf = mf + f".tmp-{os.getpid()}-{threading.get_ident()}"
        with open(tmp_mf, "w") as f:
            json.dump(manifest, f, indent=2)
        try:
            # atomic claim: link fails iff another writer already
            # claimed this snapshot id (readers never see partial
            # JSON — the linked file is complete). NO takeover here:
            # a claim whose CURRENT flip has not landed yet is
            # indistinguishable from a crashed writer's orphan, and
            # guessing wrong silently clobbers the winner — the
            # crashed-orphan case is resolved by vacuum() (an operator
            # action, safe under the single-writer contract), which
            # removes above-live orphan manifests
            os.link(tmp_mf, mf)
        except FileExistsError:
            raise CommitConflictError(
                f"snapshot {self.snapshot_id} is already claimed "
                f"(a concurrent writer, or a crashed writer's orphan "
                f"manifest — run vacuum() to reclaim); re-begin and "
                f"replay") from None
        finally:
            try:
                os.unlink(tmp_mf)
            except FileNotFoundError:
                pass  # never mask the real outcome
        tmp = cat.current_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, cat.current_file)  # THE commit point
        cat._invalidate_cache()
        return self.snapshot_id


class IndexCatalog:
    """Paths + config/manifest persistence for one index.

    ``snapshot_id`` pins every read to that snapshot; otherwise reads
    resolve the live snapshot per call (:meth:`pin` freezes it at the
    current one — what :class:`SearchEngine` does at construction)."""

    def __init__(self, index_dir: str, snapshot_id: int | None = None):
        self.index_dir = index_dir
        self.snapshots_dir = os.path.join(index_dir, "snapshots")
        self.current_file = os.path.join(index_dir, "CURRENT")
        self.checkpoints_path = os.path.join(index_dir, "checkpoints")
        self.config_file = os.path.join(index_dir, "config.json")
        self._pinned = snapshot_id
        self._cache: tuple[int, dict] | None = None
        # (spark id, snapshot id, include_build_cols) -> docs DataFrame;
        # plans are immutable and dirs are fixed per snapshot, so
        # reusing the frame is sound — it saves the per-query reader
        # setup + manifest/schema file reads (~0.2 s of driver time per
        # search on this host)
        self._docs_frames: dict[tuple, "DataFrame"] = {}
        # committed version dirs are immutable: their file lists and
        # parquet footers are cached for the driver-side reads
        self._dir_files: dict[str, list[str]] = {}
        self._footers: dict[str, Any] = {}
        self._rg_stats: dict[tuple[str, str], list] = {}

    # ------------------------------------------------------- snapshots

    def _invalidate_cache(self) -> None:
        self._cache = None
        self._docs_frames = {}

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self.current_file) as f:
                return int(f.read().strip().lstrip("s"))
        except FileNotFoundError:
            return None

    def read_manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.snapshots_dir,
                               _snap_name(snapshot_id) + ".json")) as f:
            return json.load(f)

    def _manifest_file(self, snapshot_id: int) -> str:
        return os.path.join(self.snapshots_dir,
                            _snap_name(snapshot_id) + ".json")

    def manifest(self) -> dict:
        """The pinned manifest, or the live one (re-resolved per call
        unless cached at the same snapshot id — manifests are
        immutable, so caching by id is always sound). A pinned reader
        whose snapshot was vacuumed away raises
        :class:`SnapshotExpiredError` instead of failing later with a
        missing-file read."""
        sid = self._pinned if self._pinned is not None \
            else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(
                f"index at {self.index_dir} has no committed snapshot")
        if not os.path.exists(self._manifest_file(sid)):
            self._cache = None
            raise SnapshotExpiredError(
                f"snapshot {sid} of {self.index_dir} is not retained "
                f"(expired by vacuum, or never committed); re-pin on a "
                f"live snapshot")
        if self._cache and self._cache[0] == sid:
            return self._cache[1]
        m = self.read_manifest(sid)
        self._cache = (sid, m)
        return m

    def pin(self, snapshot_id: int | None = None) -> int:
        """Freeze reads on a snapshot (default: the already-pinned one
        if any, else the live one). Pinning an expired/unknown id
        raises :class:`SnapshotExpiredError` up front."""
        if snapshot_id is None:
            snapshot_id = (self._pinned if self._pinned is not None
                           else self.current_snapshot_id())
        if snapshot_id is None:
            raise FileNotFoundError(
                f"index at {self.index_dir} has no committed snapshot")
        if not os.path.exists(self._manifest_file(snapshot_id)):
            raise SnapshotExpiredError(
                f"cannot pin snapshot {snapshot_id} of {self.index_dir}: "
                f"not retained (expired by vacuum, or never committed)")
        self._pinned = snapshot_id
        return self._pinned

    def snapshots(self) -> list[dict]:
        """All retained manifests, oldest first (the time-travel list)."""
        if not os.path.isdir(self.snapshots_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.snapshots_dir)):
            if name.startswith("s") and name.endswith(".json"):
                with open(os.path.join(self.snapshots_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def snapshot_diff(self, from_id: int, to_id: int) -> dict:
        """Version dirs that changed between two retained snapshots —
        the unit of incremental replication: a follower holding
        ``from_id`` fetches exactly ``changed`` + ``added`` dirs (plus
        the manifest) to reach ``to_id``; at 10^12 docs a sync batch
        diff is a handful of bucket dirs, not the index."""
        a, b = self.read_manifest(from_id), self.read_manifest(to_id)

        def flat(m):
            out: dict[str, set[str]] = {}
            for k, v in m["tables"].items():
                if isinstance(v, dict):
                    for kk, vv in v.items():
                        out[f"{k}/{kk}"] = set(_entry_dirs(vv))
                else:
                    out[k] = {v}
            return out

        fa, fb = flat(a), flat(b)
        out = {"added": [], "removed": [], "changed": [], "unchanged": []}
        for k in sorted(fa.keys() | fb.keys()):
            va, vb = fa.get(k, set()), fb.get(k, set())
            if not va:
                out["added"] += sorted(vb)      # entry born in `to`
            elif not vb:
                out["removed"] += sorted(va)    # entry dropped
            elif va == vb:
                out["unchanged"] += sorted(vb)
            else:
                # pointer moved or chain grew: the follower fetches the
                # new dirs; dirs `to` no longer references are its GC set
                out["changed"] += sorted(vb - va)
                out["unchanged"] += sorted(vb & va)
                out["removed"] += sorted(va - vb)
        return out

    def begin(self) -> PendingSnapshot:
        sid = self.current_snapshot_id()
        return PendingSnapshot(self, self.read_manifest(sid)
                               if sid is not None else None)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Expire old snapshots: keep the live manifest plus the most
        recent ``keep_last - 1`` others, delete older manifests, then
        reclaim every version dir no retained manifest references.
        Version dirs NEWER than the live snapshot (a writer's pending
        output) are never touched. Returns the deleted dir paths.

        Retention contract (Iceberg ``expire_snapshots`` semantics):
        readers pinned to a snapshot inside the retention window keep
        working; a reader pinned to an EXPIRED snapshot gets
        :class:`SnapshotExpiredError` on its next catalog access, and
        ``pin()`` refuses expired ids up front — size ``keep_last`` to
        the longest-lived reader you allow."""
        live = self.current_snapshot_id()
        if live is None:
            return []
        # above-live manifests are crashed writers' orphan claims
        # (claimed, never flipped CURRENT) — remove them so their
        # snapshot ids become claimable again; vacuum is operator-run
        # with no writer active (single-writer contract), so a live
        # in-flight claim cannot be here
        for m in self.snapshots():
            if m["snapshot_id"] > live:
                os.remove(os.path.join(
                    self.snapshots_dir,
                    _snap_name(m["snapshot_id"]) + ".json"))
        manifests = self.snapshots()
        keep = {m["snapshot_id"] for m in manifests[-keep_last:]} | {live}
        referenced: set[str] = set()
        for m in manifests:
            if m["snapshot_id"] in keep:
                for v in m["tables"].values():
                    if isinstance(v, dict):
                        for vv in v.values():
                            referenced.update(_entry_dirs(vv))
                    else:
                        referenced.add(v)
            else:
                os.remove(os.path.join(
                    self.snapshots_dir, _snap_name(m["snapshot_id"]) + ".json"))
        deleted = []
        data = os.path.join(self.index_dir, "data")

        def reclaim(table_dir: str, rel_prefix: str) -> None:
            if not os.path.isdir(table_dir):
                return
            for v in os.listdir(table_dir):
                if not v.startswith("v"):
                    continue
                rel = os.path.join(rel_prefix, v)
                try:
                    vid = int(v.lstrip("v"))
                except ValueError:
                    continue
                if rel not in referenced and vid <= live:
                    full = os.path.join(table_dir, v)
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(full)

        def reclaim_partitioned(table: str) -> None:
            """data/<table>/: partition subdirs holding v* dirs, plus
            legacy flat v* dirs and crashed writers' .staging-v* dirs."""
            tdir = os.path.join(data, table)
            if not os.path.isdir(tdir):
                return
            reclaim(tdir, os.path.join("data", table))  # legacy flat v*
            for name in os.listdir(tdir):
                if name.startswith(".staging-v"):
                    # a crashed writer's staging dir: stale once a
                    # commit at or past its version exists
                    try:
                        vid = int(name.split("-v")[1])
                    except ValueError:
                        continue
                    if vid <= live:
                        full = os.path.join(tdir, name)
                        shutil.rmtree(full, ignore_errors=True)
                        deleted.append(full)
                    continue
                if name.startswith("v"):
                    continue  # legacy flat, handled above
                sub = os.path.join(tdir, name)
                if os.path.isdir(sub):
                    reclaim(sub, os.path.join("data", table, name))
                    if not os.listdir(sub):  # partition fully reclaimed
                        os.rmdir(sub)

        for t in ("index_meta", "tombstones"):
            reclaim(os.path.join(data, t), os.path.join("data", t))
        for t in PART_TABLES:
            reclaim_partitioned(t)
        return deleted

    # ---------------------------------------------------------- config

    def exists(self) -> bool:
        return os.path.exists(self.config_file)

    def save_config(self, config: IndexConfig, extra: dict[str, Any] | None = None) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        payload = {"config": asdict(config), "extra": extra or {}}
        with open(self.config_file, "w") as f:
            json.dump(payload, f, indent=2, default=list)

    def load_config(self) -> IndexConfig:
        with open(self.config_file) as f:
            payload = json.load(f)
        c = payload["config"]
        c["exclude_attributes"] = tuple(c.get("exclude_attributes") or ())
        return IndexConfig(**c)

    def load_extra(self) -> dict[str, Any]:
        with open(self.config_file) as f:
            return json.load(f).get("extra", {})

    # ------------------------------------------------------------ meta

    def load_meta(self) -> dict[str, Any]:
        """Corpus stats of the (pinned or live) snapshot."""
        return self.manifest()["meta"]

    # ----------------------------------------------------- table paths

    @property
    def index_meta_path(self) -> str:
        return os.path.join(self.index_dir,
                            self.manifest()["tables"]["index_meta"])

    def part_dirs(self, table: str, keys=None) -> list[str]:
        """Live version dir per partition (optionally restricted) — the
        unit of directory pruning AND of mutation copy-on-write. A
        legacy (v3) string entry resolves as one dir (keys ignored —
        callers fall back to column filters)."""
        pmap = self.manifest()["tables"][table]
        if isinstance(pmap, str):
            return [os.path.join(self.index_dir, pmap)]
        ks = (sorted(pmap, key=int) if keys is None
              else [str(k) for k in sorted({int(k) for k in keys})
                    if str(k) in pmap])
        return [os.path.join(self.index_dir, d)
                for k in ks for d in _entry_dirs(pmap[k])]

    def postings_dirs(self, buckets=None) -> list[str]:
        return self.part_dirs("postings", buckets)

    def docs_dirs(self, groups=None) -> list[str]:
        return self.part_dirs("docs", groups)

    def term_stats_dirs(self, buckets=None) -> list[str]:
        return self.part_dirs("term_stats", buckets)

    # ----------------------------------------------------------- reads

    def docs_schema(self) -> str | None:
        """DDL of the docs table, recorded in the manifest at build
        time — lets reads survive empty dirs (zero part files defeat
        inference) and empty corpora."""
        return self.load_meta().get("docs_schema")

    def docs(self, spark: SparkSession, include_build_cols: bool = False,
             groups=None) -> DataFrame:
        key = None
        if groups is None:
            sid = self._pinned if self._pinned is not None \
                else self.current_snapshot_id()
            key = (id(spark), sid, include_build_cols)
            cached = self._docs_frames.get(key)
            if cached is not None:
                return cached
        dirs = self.docs_dirs(groups)
        ddl = self.docs_schema()
        if not dirs:
            if ddl is None:
                raise FileNotFoundError(
                    f"index at {self.index_dir} has no docs dirs and no "
                    f"recorded docs schema")
            return spark.createDataFrame([], ddl)
        reader = spark.read.schema(ddl) if ddl else spark.read
        df = reader.parquet(*dirs)
        if not include_build_cols:
            df = df.drop(*_BUILD_COLS)
        if key is not None:
            self._docs_frames[key] = df
        return df

    def docs_for_ids(self, spark: SparkSession, ids: list[int]) -> DataFrame:
        """Doc fetch with directory pruning: only the groups containing
        the requested ids are listed/read (the hit-assembly path of
        every search — at 10^12 docs a top-10 fetch reads ≤10 group
        dirs, with doc_id row-group min/max pruning inside each)."""
        bits = self.load_meta().get("docs_range_bits")
        ids = [int(i) for i in ids]
        if bits is None:  # legacy layout: single dir, predicate only
            return self.docs(spark).filter(F.col("doc_id").isin(ids))
        groups = {i >> int(bits) for i in ids}
        return (self.docs(spark, groups=groups)
                .filter(F.col("doc_id").isin(ids)))

    def max_doc_id(self, spark: SparkSession) -> int | None:
        """Max assigned doc_id, reading ONLY the top doc-range group
        (groups are doc_id ranges, so the max lives in the max group) —
        the O(1-group) input to mutation id assignment."""
        pmap = self.manifest()["tables"]["docs"]
        if isinstance(pmap, dict):
            if not pmap:
                return None
            top = max(int(k) for k in pmap)
            df = self.docs(spark, groups=[top])
        else:
            df = self.docs(spark)
        row = df.agg(F.max("doc_id")).collect()[0][0]
        return None if row is None else int(row)

    def postings(self, spark: SparkSession, buckets=None) -> DataFrame:
        """Postings scan over the live (or pinned) version dirs of the
        requested buckets — unrequested buckets are never even listed."""
        dirs = self.postings_dirs(buckets)
        if not dirs:
            return spark.createDataFrame([], POSTINGS_SCHEMA)
        return spark.read.schema(POSTINGS_SCHEMA).parquet(*dirs)

    @staticmethod
    def _pair_filter(pairs: list[tuple[str, str]]):
        """(field, term) pairs -> a pushable predicate: one term
        IN-list per field (field count is tiny), OR-ed together."""
        by_field: dict[str, list[str]] = {}
        for f, t in pairs:
            by_field.setdefault(f, []).append(t)
        cond = None
        for f in sorted(by_field):
            c = (F.col("field") == f) & F.col("term").isin(sorted(set(by_field[f])))
            cond = c if cond is None else (cond | c)
        return cond

    def postings_for_terms(self, spark: SparkSession,
                           pairs: list[tuple[str, str]]) -> DataFrame:
        """Partition-pruned posting lookup for (field, term) pairs: the
        driver computes each term's bucket and reads ONLY those
        buckets' live dirs (directory pruning without listing anything
        else); the term IN-list prunes row groups via parquet min/max
        (rows are term-sorted within files; field is a secondary sort
        key). This is the FST term-dictionary-seek analog (SURVEY §4)."""
        cfg = self.load_config()
        buckets = {term_bucket(t, cfg.n_term_buckets) for _, t in pairs}
        df = self.postings(spark, buckets=buckets)
        return df.filter(self._pair_filter(pairs))

    def tombstones(self):
        """(sorted doc_ids, aligned versions) of the live tombstone
        table, or None. An entry (d, v) kills posting entries for d
        written before snapshot v (append-mode deletes/replacements);
        compaction clears the table. Driver-side pyarrow read, cached
        per pointer — the table is bounded by ids changed since the
        last compaction."""
        rel = self.manifest()["tables"].get("tombstones")
        if not rel:
            return None
        if getattr(self, "_tomb_cache", None) and self._tomb_cache[0] == rel:
            return self._tomb_cache[1]
        files = sorted(glob.glob(os.path.join(self.index_dir, rel,
                                              "*.parquet")))
        if not files:
            return None
        tab = pa.concat_tables([pq.read_table(f) for f in files])
        ids = tab["doc_id"].to_numpy().astype(np.int64)
        vers = tab["ver"].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        out = (ids[order], vers[order])
        self._tomb_cache = (rel, out)
        return out

    def delta_depth(self, table: str = "postings") -> int:
        """Longest partition pointer chain — the compaction trigger."""
        pmap = self.manifest()["tables"].get(table)
        if not pmap:
            return 0
        if isinstance(pmap, str):
            return 1
        return max((len(_entry_dirs(v)) for v in pmap.values()), default=0)

    def _stats_dirty(self, buckets=None) -> bool:
        pmap = self.manifest()["tables"].get("term_stats")
        if not isinstance(pmap, dict):
            return False
        items = (pmap.values() if buckets is None else
                 [pmap[str(b)] for b in buckets if str(b) in pmap])
        return any(isinstance(v, list) for v in items)

    def term_stats(self, spark: SparkSession, buckets=None) -> DataFrame:
        # explicit schema: an empty index (or an emptied bucket) has
        # zero part files and inference would fail on bare _SUCCESS
        dirs = self.term_stats_dirs(buckets)
        if not dirs:
            return spark.createDataFrame([], TERM_STATS_SCHEMA)
        raw = spark.read.schema(TERM_STATS_SCHEMA).parquet(*dirs)
        if not self._stats_dirty(buckets):
            return raw
        # append-mode delta chains: a term's stats are the SUM of its
        # base row and signed delta rows; net-zero terms (fully
        # deleted) vanish. Buckets without deltas skip this agg.
        return (raw.groupBy("bucket", "field", "term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .filter(F.col("df") > 0)
                .select("field", "term", "df", "cf", "bucket"))

    def term_stats_for_terms(self, spark: SparkSession,
                             pairs: list[tuple[str, str]]) -> DataFrame:
        """Bucket-pruned stats lookup: v4 prunes at the DIRECTORY level
        (non-matching buckets are never listed); the bucket predicate
        stays for legacy single-dir layouts."""
        cfg = self.load_config()
        buckets = sorted({term_bucket(t, cfg.n_term_buckets) for _, t in pairs})
        df = self.term_stats(spark, buckets=buckets)
        return df.filter(F.col("bucket").isin(buckets) & self._pair_filter(pairs))

    # ------------------------------------------------ driver-side reads

    def _files(self, dirs: list[str]) -> list[str]:
        out: list[str] = []
        for d in dirs:
            fs = self._dir_files.get(d)
            if fs is None:
                fs = sorted(glob.glob(os.path.join(d, "*.parquet")))
                self._dir_files[d] = fs
            out.extend(fs)
        return out

    def _row_group_stats(self, path: str, key: str) -> list:
        """Per row group of one file: (min, max) of ``key`` (None when
        the footer has no statistics) and uncompressed bytes per
        top-level column."""
        got = self._rg_stats.get((path, key))
        if got is not None:
            return got
        md = self._footers.get(path)
        if md is None:
            md = self._footers[path] = pq.read_metadata(path)
        got = []
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            bounds, sizes = None, {}
            for j in range(rg.num_columns):
                cc = rg.column(j)
                top = cc.path_in_schema.split(".", 1)[0]
                sizes[top] = sizes.get(top, 0) + cc.total_uncompressed_size
                st = cc.statistics
                if top == key and st is not None and st.has_min_max:
                    bounds = (st.min, st.max)
            got.append((bounds, sizes))
        self._rg_stats[(path, key)] = got
        return got

    def _footer_read(self, dirs: list[str], key: str,
                     covers: Callable[[Any, Any], bool] | None,
                     schema: pa.Schema,
                     where: Callable[[pa.Table], Any] | None = None
                     ) -> FooterRead:
        """Row groups of ``dirs`` whose ``key`` min/max ``covers`` (all
        when None, or when a footer lacks statistics)."""
        parts, nbytes = [], 0
        for path in self._files(dirs):
            rgs = []
            for i, (bounds, sizes) in enumerate(self._row_group_stats(path, key)):
                if covers is None or bounds is None or covers(*bounds):
                    rgs.append(i)
                    nbytes += sum(sizes.get(c, 0) for c in schema.names)
            if rgs:
                parts.append((path, self._footers[path], rgs))
        return FooterRead(parts, nbytes, schema, where)

    def postings_read(self, pairs: list[tuple[str, str]],
                      columns: list[str]) -> FooterRead:
        """:meth:`postings_for_terms` from the footers: the bucket dirs
        of every delta chain, the row groups whose term range covers a
        query term."""
        cfg = self.load_config()
        terms = sorted({t for _, t in pairs})
        dirs = self.postings_dirs({term_bucket(t, cfg.n_term_buckets)
                                   for t in terms})
        schema = pa.schema([POSTINGS_ARROW.field(c) for c in columns])
        return self._footer_read(dirs, "term", _covers_any(terms), schema,
                                 _pair_mask(pairs))

    @staticmethod
    def _net_stats(tab: pa.Table, dirty: bool) -> pa.Table:
        """:meth:`term_stats` semantics: with delta chains a term's df
        and cf are the sums of its base and signed delta rows (per value
        of every other column of ``tab``), and net-zero terms vanish."""
        if not dirty:
            return tab
        sums = [c for c in ("df", "cf") if c in tab.column_names]
        keys = [c for c in tab.column_names if c not in sums]
        agg = tab.group_by(keys).aggregate([(c, "sum") for c in sums])
        agg = agg.filter(pc.greater(agg["df_sum"], 0))
        return pa.table({c: agg[c + "_sum" if c in sums else c]
                         for c in tab.column_names})

    def term_dfs(self, spark: SparkSession,
                 pairs: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """df of each present (field, term) pair — on the driver when
        the bucket-pruned term_stats footers fit, else through
        :meth:`term_stats_for_terms`."""
        cfg = self.load_config()
        buckets = {term_bucket(t, cfg.n_term_buckets) for _, t in pairs}
        terms = sorted({t for _, t in pairs})
        rd = self._footer_read(
            self.term_stats_dirs(buckets), "term", _covers_any(terms),
            _TERM_DF_ARROW, _pair_mask(pairs))
        if rd.fits:
            tab = self._net_stats(rd.read(), self._stats_dirty(buckets))
            return {(f, t): int(d) for f, t, d in zip(
                tab["field"].to_pylist(), tab["term"].to_pylist(),
                tab["df"].to_pylist())}
        rows = self.term_stats_for_terms(spark, pairs).collect()
        return {(r["field"], r["term"]): int(r["df"]) for r in rows}

    def field_terms(self, field: str, prefix: str = "") -> pa.Array | None:
        """Every live term of one field starting with ``prefix``, read on
        the driver from the term_stats row groups whose range can hold
        one; None when those row groups do not fit (the caller then
        expands with Spark)."""
        def where(tab: pa.Table):
            m = pc.equal(tab["field"], field)
            return pc.and_(m, pc.starts_with(tab["term"], prefix)) \
                if prefix else m
        rd = self._footer_read(
            self.term_stats_dirs(), "term",
            _covers_prefix(prefix) if prefix else None, _TERM_DF_ARROW, where)
        if not rd.fits:
            return None
        tab = self._net_stats(rd.read(), self._stats_dirty())
        return tab["term"].combine_chunks()

    def docs_columns(self, spark: SparkSession) -> dict[str, str]:
        """docs table column -> Spark simple type name, from the
        manifest's docs DDL (no Spark plan) when it is recorded."""
        ddl = self.docs_schema()
        if ddl is None:
            return {f.name: f.dataType.simpleString()
                    for f in self.docs(spark).schema.fields}
        return {n: t for n, t in _ddl_fields(ddl) if n not in _BUILD_COLS}

    def docs_read(self, ids: list[int] | None = None,
                  columns: list[str] | None = None) -> FooterRead | None:
        """Driver-side docs read of ``doc_id`` plus ``columns`` (all when
        None), in docs-DDL column order, restricted to ``ids`` (group-
        dir and doc_id row-group pruned) when given. None when the DDL is
        not recorded or a column has a type :data:`_ARROW_OF_DDL` does
        not map."""
        ddl = self.docs_schema()
        if ddl is None:
            return None
        want = None if columns is None else {"doc_id", *columns}
        fields = [(n, t) for n, t in _ddl_fields(ddl)
                  if n not in _BUILD_COLS and (want is None or n in want)]
        if any(t not in _ARROW_OF_DDL for _, t in fields):
            return None
        schema = pa.schema([(n, _ARROW_OF_DDL[t]) for n, t in fields])
        if ids is None:
            return self._footer_read(self.docs_dirs(), "doc_id", None, schema)
        ids = sorted({int(i) for i in ids})
        bits = self.load_meta().get("docs_range_bits")
        dirs = (self.docs_dirs({i >> int(bits) for i in ids})
                if bits is not None else self.docs_dirs())
        id_set = pa.array(ids, pa.int64())
        return self._footer_read(
            dirs, "doc_id", _covers_any(ids), schema,
            lambda tab: pc.is_in(tab["doc_id"], value_set=id_set))

    def doc_records(self, spark: SparkSession, ids: list[int],
                    columns: list[str] | None = None) -> dict[int, dict]:
        """{doc_id: record} of the stored docs among ``ids``: each record
        equals Spark's ``Row.asDict()`` of :meth:`docs_for_ids`, projected
        to ``doc_id`` + ``columns`` (existing columns, in that order) when
        given. Read on the driver when the pruned docs footers fit."""
        order = (None if columns is None else
                 ["doc_id", *dict.fromkeys(c for c in columns
                                           if c != "doc_id")])
        rd = self.docs_read(ids, order)
        if rd is not None and rd.fits:
            tab = rd.read()
            rows = tab.select(order or tab.column_names).to_pylist()
        else:
            df = self.docs_for_ids(spark, ids)
            if order is not None:
                df = df.select(*order)
            rows = [r.asDict() for r in df.collect()]
        return {int(r["doc_id"]): r for r in rows}
