"""F6: checkpoint/resume — interrupted build resumes, skips completed
shards, and produces an index identical to an uninterrupted build."""

import pytest
from pyspark.sql import functions as F


def _postings_map(spark, cat):
    rows = cat.postings(spark).collect()
    return {(r["term"], r["range_id"]):
            (r["df_chunk"], r["cf_chunk"], [bytes(b) for b in r["docs"]],
             [bytes(b) for b in r["tfs"]], [bytes(b) for b in r["dls"]],
             list(r["first_doc"]), list(r["max_tf"]), list(r["min_dl"]))
            for r in rows}


@pytest.fixture(scope="module")
def small_src(spark, tmp_path_factory):
    from bright_spark.fixtures import make_repos
    path = str(tmp_path_factory.mktemp("resume") / "src.parquet")
    spark.createDataFrame(make_repos(60, 7)).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_resume_identical_to_uninterrupted(spark, small_src, tmp_path_factory):
    from bright_spark.index.builder import build_index
    from bright_spark.index.checkpoints import ResumableIndexBuilder
    from bright_spark.models import IndexConfig

    base = tmp_path_factory.mktemp("resume_idx")
    direct = build_index(spark, small_src, str(base / "direct"),
                         IndexConfig(id="direct"), n_build_partitions=4)

    cfg = IndexConfig(id="resumable")
    rb = ResumableIndexBuilder(spark, cfg, str(base / "resumable"),
                               n_shards=4, fail_after_shard=1,
                               n_build_partitions=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        rb.build(small_src)

    # shards 0..1 committed, 2..3 not; merge not committed
    done = {c["key"] for c in rb.store.all() if c.get("status") == "done"}
    assert "docs" in done and "segment_00000" in done and "segment_00001" in done
    assert "merge" not in done and "segment_00003" not in done

    rb2 = ResumableIndexBuilder(spark, cfg, str(base / "resumable"),
                                n_shards=4, n_build_partitions=4)
    cat = rb2.build(small_src)

    # completed shards were skipped (attempt stays 1)
    by_key = {c["key"]: c for c in rb2.store.all()}
    assert by_key["segment_00000"]["attempt"] == 1
    assert by_key["segment_00001"]["attempt"] == 1
    assert by_key["segment_00002"]["attempt"] == 1  # first success on resume
    assert by_key["merge"]["status"] == "done"

    # byte-identical postings vs the uninterrupted build
    assert _postings_map(spark, cat) == _postings_map(spark, direct)
    # the same corpus stats and build record, but for the config's id
    want = direct.load_meta()
    rec = want["build"]
    assert cat.load_meta() == {**want, "build": {
        **rec, "config": {**rec["config"], "id": "resumable"}}}


def test_checkpoint_lineage_metrics(spark, small_src, tmp_path_factory):
    from bright_spark.index.checkpoints import ResumableIndexBuilder
    from bright_spark.models import IndexConfig
    idx = str(tmp_path_factory.mktemp("lineage") / "idx")
    rb = ResumableIndexBuilder(spark, IndexConfig(id="l"), idx, n_shards=3,
                               n_build_partitions=4)
    rb.build(small_src)
    df = rb.store.as_df(spark)
    rows = {r["key"]: r.asDict() for r in df.collect()}
    assert rows["docs"]["rows_in"] == 60
    for s in range(3):
        r = rows[f"segment_{s:05d}"]
        assert r["status"] == "done"
        assert r["rows_in"] > 0 and r["terms_out"] > 0 and r["wall_ms"] >= 0
    # shard doc counts partition the corpus
    total = sum(rows[f"segment_{s:05d}"]["rows_in"] for s in range(3))
    from pyspark.sql import functions as F2
    expect = (rb.catalog.term_stats(spark)
              .agg(F2.sum("df")).collect()[0][0])
    # rows_in counts partial-run entries, i.e. distinct (term, doc)
    assert total == expect


def test_rerun_completed_build_is_noop(spark, small_src, tmp_path_factory):
    import os
    from bright_spark.index.checkpoints import ResumableIndexBuilder
    from bright_spark.models import IndexConfig
    idx = str(tmp_path_factory.mktemp("noop") / "idx")
    rb = ResumableIndexBuilder(spark, IndexConfig(id="n"), idx, n_shards=2,
                               n_build_partitions=4)
    rb.build(small_src)
    sid = rb.catalog.current_snapshot_id()
    attempts = {c["key"]: c["attempt"] for c in rb.store.all()}
    rb2 = ResumableIndexBuilder(spark, IndexConfig(id="n"), idx, n_shards=2,
                                n_build_partitions=4)
    rb2.build(small_src)
    assert {c["key"]: c["attempt"] for c in rb2.store.all()} == attempts
    # no new snapshot was committed — the re-run did no work
    assert rb2.catalog.current_snapshot_id() == sid
