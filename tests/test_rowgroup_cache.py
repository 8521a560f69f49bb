"""The pinned engine's row-group cache (catalog.RowGroupCache): a warm
search answers exactly as a cold engine does and reads no parquet; the
resident bytes never pass ``LOCAL_READ_MAX_BYTES``; concurrent searches
on one engine agree under eviction churn; a bare mutator's cache stays
bounded through a compaction, and catalogs sharing a cache decode the
tombstone table once. Also the term-dictionary cache's concurrent-
clear regression."""

import os
import threading

import pyarrow.parquet as pq
import pytest

from bright_spark.index import catalog
from bright_spark.index.builder import build_index
from bright_spark.index.mutations import IndexMutator
from bright_spark.models import IndexConfig, SearchRequest
from bright_spark.query.engine import SearchEngine
from tests.test_query_parity import PHRASE_QUERIES, QUERIES, SPARK_ONLY

K = 10
LOCAL_QUERIES = [q for q in QUERIES + PHRASE_QUERIES if q not in SPARK_ONLY]


def _answer(resp):
    return resp.hits, resp.total_hits, resp.path


def _search(eng, q):
    return _answer(eng.search(SearchRequest(q=q, limit=K)))


@pytest.fixture(scope="module")
def warm(spark, built_index):
    """One engine that has answered every query once."""
    eng = SearchEngine(spark, built_index.index_dir)
    for q in QUERIES + PHRASE_QUERIES:
        _search(eng, q)
    return eng


@pytest.fixture(scope="module")
def cold_answers(spark, built_index):
    return {q: _search(SearchEngine(spark, built_index.index_dir), q)
            for q in QUERIES + PHRASE_QUERIES}


@pytest.mark.parametrize("q", QUERIES + PHRASE_QUERIES)
def test_warm_repeat_equals_cold_engine(warm, cold_answers, q):
    """Hits (records and scores, bit for bit), totals and path of a
    repeat on a warm engine equal a cold engine's."""
    assert _search(warm, q) == cold_answers[q]


def test_warm_search_reads_no_parquet(warm, cold_answers, monkeypatch):
    """Once warm, driver-side searches are answered from memory: with
    every pyarrow parquet reader raising they still answer the same."""
    def boom(*args, **kwargs):
        raise AssertionError("parquet read on a warm engine")
    for name in ("ParquetFile", "read_table", "read_metadata"):
        monkeypatch.setattr(pq, name, boom)
    for q in LOCAL_QUERIES:
        assert _search(warm, q) == cold_answers[q], q
    assert 0 < warm.catalog._rg_cache.nbytes <= catalog.LOCAL_READ_MAX_BYTES


def test_resident_bytes_stay_under_bound(spark, built_index, warm,
                                         cold_answers, monkeypatch):
    """With the bound at half of what the queries load, the cache
    evicts: its resident bytes stay at or under the bound after every
    search, and the answers (and paths) do not change."""
    full = warm.catalog._rg_cache.nbytes
    bound = full // 2
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", bound)
    eng = SearchEngine(spark, built_index.index_dir)
    for q in (QUERIES + PHRASE_QUERIES) * 2:
        assert _search(eng, q) == cold_answers[q], q
        assert eng.catalog._rg_cache.nbytes <= bound, q
    assert 0 < eng.catalog._rg_cache.nbytes < full


def test_concurrent_searches_under_eviction(spark, built_index, warm,
                                            cold_answers, monkeypatch):
    """8 threads searching one engine, with a cache bound that forces
    eviction churn and a term-dictionary cache cleared every few
    lookups: every answer equals the cold engine's and nothing
    raises."""
    from bright_spark.query import engine as engine_mod
    bound = warm.catalog._rg_cache.nbytes // 2
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", bound)
    monkeypatch.setattr(engine_mod, "_DF_CACHE_MAX", 4)
    eng = SearchEngine(spark, built_index.index_dir)
    errors, mismatches = [], []

    def worker(i):
        try:
            for j in range(3 * len(LOCAL_QUERIES)):
                q = LOCAL_QUERIES[(i + j) % len(LOCAL_QUERIES)]
                if _search(eng, q) != cold_answers[q]:
                    mismatches.append(q)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(repr(e))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    assert not mismatches, mismatches[:5]
    assert eng.catalog._rg_cache.nbytes <= bound


def test_bare_mutator_cache_stays_bounded(spark, tmp_path):
    """A bare mutator's catalog reads through its own cache: through an
    upsert, a delete and a driver compaction it never holds more than
    ``LOCAL_READ_MAX_BYTES``, and a fresh engine on the compacted
    snapshot answers as one did before the compaction."""
    idx = str(tmp_path / "idx")
    rows = [{"rid": i, "text": f"alpha common tok{i % 7}"} for i in range(40)]
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(id="bare", tokenizer="simple",
                            n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    mut = IndexMutator(spark, idx)
    cache = mut.catalog._rg_cache
    mut.upsert_rows([{"rid": 100, "text": "beta common"}])
    assert 0 < cache.nbytes <= catalog.LOCAL_READ_MAX_BYTES
    mut.delete_ids([3])
    assert cache.nbytes <= catalog.LOCAL_READ_MAX_BYTES
    queries = ["beta", "common", "tok3", "alpha tok3"]
    want = [_search(SearchEngine(spark, idx), q) for q in queries]
    mut.compact()
    assert mut.catalog._rg_cache is cache
    assert cache.nbytes <= catalog.LOCAL_READ_MAX_BYTES
    m = catalog.IndexCatalog(idx).manifest()
    assert m["operation"] == "compact" and m["metrics"]["mode"] == "driver"
    assert "tombstones" not in m["tables"]
    assert [_search(SearchEngine(spark, idx), q) for q in queries] == want
    assert want[0][1] == 1


def test_tombstones_decoded_once_per_cache(spark, tmp_path, monkeypatch):
    """Two catalogs sharing one cache read and sort the tombstone table
    once; after a commit that rewrites it, every catalog reading the
    live snapshot (sharing the committer's cache or not) gets the new
    arrays, and the superseded table's entry leaves the cache."""
    idx = str(tmp_path / "idx")
    rows = [{"rid": i, "text": f"alpha tok{i % 5}"} for i in range(30)]
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(id="tomb", tokenizer="simple",
                            n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    IndexMutator(spark, idx).delete_ids([3])
    reads = []
    read_file = catalog.IndexCatalog.read_file

    def counted(self, path):
        reads.append(path)
        return read_file(self, path)
    monkeypatch.setattr(catalog.IndexCatalog, "read_file", counted)
    cache = catalog.RowGroupCache()
    a = catalog.IndexCatalog(idx, cache=cache)
    b = catalog.IndexCatalog(idx, cache=cache)
    ta = a.tombstones()
    assert b.tombstones() is ta and len(reads) == 1
    assert ta[0].tolist() == [3]
    old_dir = os.path.join(idx, a.manifest()["tables"]["tombstones"])
    other = catalog.IndexCatalog(idx)  # a cache of its own
    assert other.tombstones()[0].tolist() == [3]

    IndexMutator(spark, idx, cache=cache).delete_ids([5])
    assert cache.get((old_dir, "tombstones")) is None
    for cat in (a, b, other):
        assert cat.tombstones()[0].tolist() == [3, 5]
    # the older snapshot's readers still see its table
    assert catalog.IndexCatalog(idx, snapshot_id=2).tombstones()[0] \
        .tolist() == [3]


def test_term_dfs_survives_concurrent_clear(spark, built_index):
    """Another search may clear the shared term-dictionary cache between
    this lookup's store and its read: the lookup must still answer from
    what it fetched (deterministic form: the cache clears itself on its
    first read after a store)."""

    class ClearingDict(dict):
        stored = False

        def __setitem__(self, key, value):
            super().__setitem__(key, value)
            self.stored = True

        def _read(self):
            if self.stored:
                self.stored = False
                self.clear()

        def __getitem__(self, key):
            self._read()
            return super().__getitem__(key)

        def __contains__(self, key):
            self._read()
            return super().__contains__(key)

        def get(self, key, default=None):
            self._read()
            return super().get(key, default)

    eng = SearchEngine(spark, built_index.index_dir)
    want = eng._term_dfs([("content", "user"), ("content", "config"),
                          ("content", "zzz_absent")])
    eng = SearchEngine(spark, built_index.index_dir)
    eng._df_cache = ClearingDict()
    got = eng._term_dfs([("content", "user"), ("content", "config"),
                         ("content", "zzz_absent")])
    assert got == want and want[("content", "user")] > 0
