"""Multi-index store lifecycle — the `configs.json` registry that lets
one data directory hold many indexes and re-open them all at boot
(reference store/store.go:33-60 Initialize, 78-124 CreateIndex,
142-153 GetIndex, 156-183 DeleteIndex, 185-199 UpdateIndex,
201-224 ListIndexes, 226-273 loadConfigs).

Thread-safety contract (store.go guards everything with a store-level
sync.RWMutex and serializes batch writes per index; its entire test
suite — store_test.go's six tests — is lock-safety, and OUR wire
surface is a ThreadingHTTPServer, so the same guarantees are load-
bearing here):

- ``_reg_lock`` (RLock) guards the registry state: ``configs``,
  ``_engines``, ``_index_locks`` and every ``configs.json`` write.
  Registry ops are short; the lock is never held across Spark work.
- One ``Lock`` per index serializes WRITE batches (build/upsert/
  delete/patch) against each other and against index deletion —
  store.go:392-426 batch semantics. Searches take no index lock:
  snapshot isolation already gives readers a consistent pinned view
  (test_snapshots pins that a reader survives concurrent mutation).
- Lock order is always index lock (outer, long) -> ``_reg_lock``
  (inner, short); no path acquires an index lock while holding
  ``_reg_lock``, so the ordering is deadlock-free
  (TestNoDeadlockWithMultipleIndexes analog in
  tests/test_store_concurrency.py).

Differences from the reference forced by the engines' natures:
- Bleve creates an empty index at CreateIndex time; a Spark index
  materializes on the first document batch. ``create_index`` therefore
  only registers the config (and adopts an existing valid index dir,
  like store.go:96-101); ``add_documents`` builds on first use and
  upserts afterwards (documents.go:181-198 semantics).
- Searching a registered-but-never-written index returns zero hits
  (what an empty Bleve index does) instead of erroring.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import shutil
import threading
from contextlib import contextmanager
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

from bright_spark.index.catalog import IndexCatalog
from bright_spark.models import IndexConfig, SearchRequest, SearchResponse


# tombstone-rename suffix uniquifier: two deletes of the same index id
# by one thread must not collide on the rename target
_DELETE_SEQ = itertools.count()


class IndexStore:
    """One data dir holding ``<data_dir>/<index_id>`` index dirs plus a
    ``configs.json`` registry; the constructor is the boot-time
    loadConfigs analog (re-registers every persisted index)."""

    def __init__(self, spark: SparkSession, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.config_file = os.path.join(data_dir, "configs.json")
        os.makedirs(data_dir, exist_ok=True)
        self.configs: dict[str, IndexConfig] = {}
        self._engines: dict[str, object] = {}
        self._reg_lock = threading.RLock()
        self._index_locks: dict[str, threading.RLock] = {}
        self._load_configs()
        # sweep tombstones leaked by a crash between delete_index's
        # rename and its out-of-lock rmtree: '<id>.deleted.<pid>...'
        # dirs are unreachable by construction (boot reads only
        # configs.json), so they are safe to remove at any boot
        import glob as _glob
        for stale in _glob.glob(os.path.join(data_dir, "*.deleted.*")):
            shutil.rmtree(stale, ignore_errors=True)

    def _index_lock(self, idx_id: str) -> threading.RLock:
        # RLock: add_document_rows delegates to add_documents for the
        # first batch while already holding the index lock
        with self._reg_lock:
            lk = self._index_locks.get(idx_id)
            if lk is None:
                lk = self._index_locks[idx_id] = threading.RLock()
            return lk

    @contextmanager
    def _locked_index(self, idx_id: str):
        """Acquire the index's CURRENT lock object: a thread that
        blocked on a lock made stale by delete+recreate of the same id
        must not proceed alongside a holder of the fresh lock — after
        acquiring, re-check identity against the registry and retry on
        a stale object."""
        while True:
            lk = self._index_lock(idx_id)
            lk.acquire()
            with self._reg_lock:
                if self._index_locks.get(idx_id) is lk:
                    break
            lk.release()
        try:
            yield
        finally:
            lk.release()

    # ------------------------------------------------------- registry

    def _load_configs(self) -> None:
        if not os.path.exists(self.config_file):
            return
        try:
            with open(self.config_file) as f:
                raw = json.load(f)
        except (OSError, ValueError):
            return  # no configs to load (store.go:231-238)
        for idx_id, c in raw.items():
            c["exclude_attributes"] = tuple(c.get("exclude_attributes") or ())
            self.configs[idx_id] = IndexConfig(**c)

    def _save_configs(self) -> None:
        with open(self.config_file, "w") as f:
            json.dump({i: asdict(c) for i, c in self.configs.items()},
                      f, indent=2, default=list)

    def _index_dir(self, idx_id: str) -> str:
        return os.path.join(self.data_dir, idx_id)

    def is_built(self, idx_id: str) -> bool:
        return IndexCatalog(
            self._index_dir(idx_id)).current_snapshot_id() is not None

    # ------------------------------------------------------ lifecycle

    def create_index(self, config: IndexConfig) -> None:
        """Register a new index (store.go:78-124). An existing valid
        index dir under this id is ADOPTED — with its own on-disk
        config, which must agree with the requested one on every
        build-shaping field (tokenizer, primary key, exclusions, ...):
        registering a conflicting config would silently misdescribe how
        the adopted index was actually built, so it raises instead
        (mirroring store.go:96-106, where adopt reuses the persisted
        index as-is). An invalid dir (no config.json) is removed."""
        with self._reg_lock:
            if config.id in self.configs:
                raise ValueError(f"index {config.id} already exists")
            path = self._index_dir(config.id)
            if os.path.exists(path) and not os.path.exists(
                    os.path.join(path, "config.json")):
                shutil.rmtree(path, ignore_errors=True)
            if os.path.exists(os.path.join(path, "config.json")):
                on_disk = IndexCatalog(path).load_config()
                mismatches = {
                    f.name: (getattr(config, f.name),
                             getattr(on_disk, f.name))
                    for f in dataclasses.fields(IndexConfig)
                    if getattr(config, f.name) != getattr(on_disk, f.name)
                    # build-time auto-resolved knobs: a None request
                    # adopts whatever the build resolved
                    and not (getattr(config, f.name) is None
                             and f.name in ("range_bits", "n_term_buckets",
                                            "files_per_bucket",
                                            "docs_range_bits"))
                }
                if mismatches:
                    raise ValueError(
                        f"cannot adopt index dir {path}: registered config "
                        f"disagrees with how it was built: {mismatches}")
                config = on_disk  # register the authoritative built config
            self.configs[config.id] = config
            self._save_configs()

    def get_index(self, idx_id: str) -> tuple[IndexCatalog, IndexConfig]:
        with self._reg_lock:
            if idx_id not in self.configs:
                raise KeyError(f"index {idx_id} not found")
            return IndexCatalog(self._index_dir(idx_id)), self.configs[idx_id]

    def update_index(self, idx_id: str, config: IndexConfig) -> None:
        """Replace the registered config; the id cannot change
        (store.go:185-199)."""
        with self._reg_lock:
            if idx_id not in self.configs:
                raise KeyError(f"index {idx_id} not found")
            self.configs[idx_id] = dataclasses.replace(config, id=idx_id)
            self._save_configs()

    def delete_index(self, idx_id: str) -> None:
        # the index write lock first (outer): deletion waits for any
        # in-flight write batch to finish; a concurrent second delete
        # (or a write racing the delete) then fails the registered
        # check under the registry lock — the reference's 404
        with self._locked_index(idx_id):
            doomed = None
            with self._reg_lock:
                if idx_id not in self.configs:
                    self._index_locks.pop(idx_id, None)
                    raise KeyError(f"index {idx_id} not found")
                self.configs.pop(idx_id)
                self._engines.pop(idx_id, None)
                self._index_locks.pop(idx_id, None)
                self._save_configs()
                # rename to a private tombstone UNDER the registry lock:
                # a concurrent create_index+add_documents for the same id
                # (fresh lock, since we popped ours) must never observe —
                # or build into — the half-deleted path; the slow rmtree
                # then runs on the tombstone outside the lock
                path = self._index_dir(idx_id)
                if os.path.exists(path):
                    doomed = (f"{path}.deleted."
                              f"{os.getpid()}.{threading.get_ident()}."
                              f"{next(_DELETE_SEQ)}")
                    os.rename(path, doomed)
            if doomed is not None:
                shutil.rmtree(doomed, ignore_errors=True)

    def list_indexes(self, limit: int = 20, offset: int = 0) -> list[IndexConfig]:
        """Registry slice (store.go:201-224; deterministic id order
        where the reference has Go map order)."""
        with self._reg_lock:
            all_cfgs = [self.configs[i] for i in sorted(self.configs)]
        return all_cfgs[offset:offset + limit]

    # ------------------------------------------------------ documents

    def add_documents(self, idx_id: str, docs: DataFrame, **build_kwargs) -> None:
        """First batch builds the index; later batches upsert
        (documents.go:181-198 -> store.go:392-426). ``primary_key``
        from the config wins; otherwise U5 auto-detection."""
        with self._locked_index(idx_id):
            with self._reg_lock:
                if idx_id not in self.configs:
                    raise KeyError(f"index {idx_id} not found")
                cfg = self.configs[idx_id]
                # cached engines are pinned to the pre-mutation snapshot
                # — drop so the next search opens the new commit
                self._engines.pop(idx_id, None)
            if self.is_built(idx_id):
                from bright_spark.index.mutations import IndexMutator
                IndexMutator(self.spark, self._index_dir(idx_id)).upsert(docs)
                return
            from bright_spark.index.builder import (
                IndexBuilder,
                detect_primary_key,
            )
            if "id_col" not in build_kwargs and "key_cols" not in build_kwargs:
                pk = cfg.primary_key or detect_primary_key(docs)
                if dict(docs.dtypes).get(pk) in ("tinyint", "smallint", "int",
                                                 "bigint"):
                    build_kwargs["id_col"] = pk
                else:
                    build_kwargs["id_col"] = None
                    build_kwargs["key_cols"] = (pk,)
            build_kwargs.setdefault("lang_col", None)
            IndexBuilder(self.spark, cfg, self._index_dir(idx_id),
                         **build_kwargs).build(docs)
            with self._reg_lock:
                self._engines.pop(idx_id, None)

    def add_document_rows(self, idx_id: str, rows: list[dict],
                          **build_kwargs) -> None:
        """Driver-resident form of :meth:`add_documents` — the wire
        path. Against a built index the batch goes straight to the
        mutator's fast regime (zero Spark jobs for small batches); the
        first batch still builds through Spark."""
        with self._locked_index(idx_id):
            with self._reg_lock:
                if idx_id not in self.configs:
                    raise KeyError(f"index {idx_id} not found")
            if self.is_built(idx_id):
                with self._reg_lock:
                    self._engines.pop(idx_id, None)
                from bright_spark.index.mutations import IndexMutator
                IndexMutator(self.spark,
                             self._index_dir(idx_id)).upsert_rows(rows)
                return
            self.add_documents(idx_id, self.spark.createDataFrame(rows),
                               **build_kwargs)

    def delete_documents(self, idx_id: str, ids: list[int] | None = None,
                         filter_query: str | None = None) -> None:
        """DELETE /indexes/:id/documents (handlers/documents.go:214-258):
        delete by explicit id list OR by a query-string filter over the
        same evaluator as search; providing neither is a request error
        (the reference refuses a bare delete-all the same way)."""
        if not ids and not filter_query:
            raise ValueError(
                "must provide ids or filter_query to delete documents")
        with self._locked_index(idx_id):
            with self._reg_lock:
                if idx_id not in self.configs:
                    raise KeyError(f"index {idx_id} not found")
                self._engines.pop(idx_id, None)
            from bright_spark.index.mutations import IndexMutator
            mut = IndexMutator(self.spark, self._index_dir(idx_id))
            if ids:
                mut.delete_ids(list(ids))
            else:
                mut.delete_by_query(filter_query)
            with self._reg_lock:
                self._engines.pop(idx_id, None)

    def delete_document(self, idx_id: str, doc_id: int) -> None:
        """DELETE /indexes/:id/documents/:documentid
        (handlers/documents.go:260-277)."""
        self.delete_documents(idx_id, ids=[int(doc_id)])

    def update_document(self, idx_id: str, doc_id: int,
                        fields: dict) -> dict:
        """PATCH /indexes/:id/documents/:documentid
        (handlers/documents.go:279-320): fetch the stored doc, merge
        the given fields, re-index, return the merged record. Missing
        doc -> KeyError (the reference's 404)."""
        with self._locked_index(idx_id):
            with self._reg_lock:
                if idx_id not in self.configs:
                    raise KeyError(f"index {idx_id} not found")
                self._engines.pop(idx_id, None)
            from bright_spark.index.mutations import IndexMutator
            mut = IndexMutator(self.spark, self._index_dir(idx_id))
            mut.patch(int(doc_id), fields)  # raises KeyError when absent
            with self._reg_lock:
                self._engines.pop(idx_id, None)
            recs = IndexCatalog(self._index_dir(idx_id)).doc_records(
                self.spark, [int(doc_id)])
            return recs.get(int(doc_id), {})

    def engine(self, idx_id: str):
        """SearchEngine for a built index, cached per store BUT
        re-pinned whenever the live snapshot moved — an out-of-band
        writer (the ingress sync loop commits through its own mutator,
        not through this store) must become visible to the next
        search, exactly like the reference's store serving fresh
        results after a poll cycle. The staleness check is one tiny
        CURRENT read per call."""
        with self._reg_lock:
            if idx_id not in self.configs:
                raise KeyError(f"index {idx_id} not found")
            eng = self._engines.get(idx_id)
        if not self.is_built(idx_id):
            return None
        live = IndexCatalog(self._index_dir(idx_id)).current_snapshot_id()
        if eng is None or eng.snapshot_id != live:
            # engine construction runs Spark reads — outside _reg_lock.
            # Two threads may race here; both engines are valid (each
            # pins a committed snapshot) but only a NEWER pin may
            # replace the cache — last-cached-wins would let a reader's
            # view regress to an older snapshot (reads must be
            # monotonic; test_store_concurrency pins this per reader)
            from bright_spark.query.engine import SearchEngine
            eng = SearchEngine(self.spark, self._index_dir(idx_id))
            with self._reg_lock:
                if idx_id in self.configs:
                    cached = self._engines.get(idx_id)
                    if cached is None or cached.snapshot_id < eng.snapshot_id:
                        self._engines[idx_id] = eng
                    else:
                        eng = cached
        return eng

    def search(self, idx_id: str, request: SearchRequest | str) -> SearchResponse:
        """Search; a registered-but-empty index yields zero hits (what
        an empty Bleve index returns)."""
        eng = self.engine(idx_id)
        if eng is None:
            req = (SearchRequest(q=request) if isinstance(request, str)
                   else request)
            req.validate()
            return SearchResponse(hits=[], total_hits=0, limit=req.limit)
        return eng.search(request)
