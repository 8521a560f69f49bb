import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

CORPUS_N = 150
SEED = 42


@pytest.fixture(scope="session")
def spark():
    from bright_spark.session import get_spark
    s = get_spark("bright_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def repos_pdf():
    from bright_spark.fixtures import make_repos
    return make_repos(CORPUS_N, SEED)


@pytest.fixture(scope="session")
def repos_parquet(spark, repos_pdf, tmp_path_factory):
    """Fixture corpus materialized as parquet (local-relation plans
    re-serialize per job; storage-backed sources are the real path)."""
    path = str(tmp_path_factory.mktemp("fixtures") / "repos.parquet")
    spark.createDataFrame(repos_pdf).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="session")
def built_index(spark, repos_parquet, tmp_path_factory):
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    idx_dir = str(tmp_path_factory.mktemp("index") / "repos_idx")
    src = spark.read.parquet(repos_parquet)
    cat = build_index(spark, src, idx_dir, IndexConfig(id="repos"),
                      n_build_partitions=8)
    return cat


@pytest.fixture(scope="session")
def oracle(repos_pdf):
    from tests.oracle import OracleIndex
    return OracleIndex(repos_pdf.to_dict("records"))


@pytest.fixture(scope="session")
def engine(spark, built_index):
    from bright_spark.query.engine import SearchEngine
    return SearchEngine(spark, built_index.index_dir)


# Mutation paths are chosen by change-set size alone (the module
# constants of bright_spark.index.mutations, read at call time); these
# fixtures force one for a whole test. A test that switches path midway
# sets the same constants inside ``monkeypatch.context()``.

@pytest.fixture()
def distributed_mutations(monkeypatch):
    """Every mutation runs the Spark stages (append), none the driver
    fast path."""
    from bright_spark.index import mutations
    monkeypatch.setattr(mutations, "FAST_THRESHOLD", 0)


@pytest.fixture()
def rewrite_mutations(distributed_mutations, monkeypatch):
    """Every DataFrame mutation takes the rewrite path (entry-level
    anti-join); a ``delete_ids`` list still appends on Spark."""
    from bright_spark.index import mutations
    monkeypatch.setattr(mutations, "BROADCAST_THRESHOLD", 0)


@pytest.fixture()
def no_autocompact(monkeypatch):
    """No mutation triggers a compaction, however long its chains."""
    from bright_spark.index import mutations
    monkeypatch.setattr(mutations, "COMPACT_THRESHOLD", 0)
