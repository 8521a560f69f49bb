"""The index-build invariants of test_index_build.py, checked on an index
built by the Spark stages. The shared ``built_index`` fixture corpus is
small enough to build on the driver; here a zero read budget keeps the
build on Spark, so both executions keep their oracle checks."""

import pytest

from bright_spark.index import catalog
from bright_spark.index.builder import build_index
from bright_spark.models import IndexConfig
from tests.test_index_build import (  # noqa: F401  (collected here too)
    test_doc_count_and_sha_identity,
    test_doc_ids_dense_and_deterministic,
    test_doc_len_matches_oracle,
    test_meta_matches_oracle,
    test_needles_present,
    test_postings_invariants,
    test_postings_partition_pruning,
    test_term_stats_match_oracle,
)


@pytest.fixture(scope="module")
def built_index(spark, repos_parquet, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("index_spark") / "repos_idx")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(catalog, "LOCAL_READ_MAX_BYTES", 0)
        cat = build_index(spark, spark.read.parquet(repos_parquet), idx_dir,
                          IndexConfig(id="repos"), n_build_partitions=8)
    assert cat.manifest()["metrics"]["mode"] == "spark"
    return cat

