"""Physical-plan regression tests: the scale properties SURVEY.md §4
claims must be visible in `.explain()` output, not just intended —
a silent regression to full scans or global sorts would still pass the
correctness suite on 150 docs but die at 10^12.
"""

import pytest
from pyspark.sql import functions as F

from bright_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, built_index):
    return SearchEngine(spark, built_index.index_dir)


def _plan(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def test_postings_lookup_pushes_filters(spark, engine):
    """Term lookup must reach the parquet scan as directory +
    row-group pruning (the FST-seek analog): the catalog resolves ONLY
    the query terms' bucket version-dirs from the snapshot manifest
    (other buckets are never listed), and term filters prune row
    groups via min/max."""
    from bright_spark.index.catalog import term_bucket
    pairs = [("content", "user"), ("content", "config")]
    df = engine.catalog.postings_for_terms(spark, pairs)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1][:400]
    # directory pruning: every file the scan touches lives under one of
    # the two query terms' bucket dirs
    n_buckets = engine.catalog.load_config().n_term_buckets
    want = {f"b{term_bucket(t, n_buckets):05d}" for _, t in pairs}
    files = df.inputFiles()
    assert files, "scan resolved no files"
    assert all(any(f"/{b}/" in f for b in want) for f in files), files
    # and the scan lists strictly fewer dirs than a full postings scan
    assert len({f.rsplit("/", 2)[0] for f in files}) <= len(want)


def test_docs_attr_predicate_pushdown(spark, engine):
    """Q11-style attribute ranges must push to the docs scan."""
    docs = engine.catalog.docs(spark).filter(F.col("doc_len") > 200)
    plan = _plan(docs)
    pushed = plan.split("PushedFilters")[1][:200]
    assert "GreaterThan(doc_len" in pushed


def test_docs_scan_prunes_columns(spark, engine):
    """A 2-column projection must not read the whole docs schema."""
    docs = engine.catalog.docs(spark).select("doc_id", "doc_len")
    plan = _plan(docs)
    schema_part = plan.split("ReadSchema")[1][:300]
    assert "doc_id" in schema_part and "doc_len" in schema_part
    assert "content" not in schema_part


def test_topk_is_take_ordered_not_global_sort(spark, engine):
    """search_df's final stage must be TakeOrderedAndProject (per-
    partition partial top-k), never a full Sort + Limit."""
    df = engine.search_df("user config", k=10)
    plan = _plan(df, "simple")
    assert "TakeOrderedAndProject" in plan


def test_wand_fetch_drops_positions(spark, engine):
    """The scoring path must not ship position payloads (only the
    phrase verifier reads them)."""
    aq = engine.planner.analyze(__import__(
        "bright_spark.query.parser", fromlist=["parse_query"]
    ).parse_query("user config"))
    hits = engine._wand_hits(aq, k=10, need_total=False)
    plan = _plan(hits)
    read_schema = plan.split("ReadSchema")[1][:500]
    assert "docs" in read_schema  # posting payloads travel
    assert "pos" not in read_schema.replace("positions", "")


def test_full_match_kernel_stage_drops_positions(spark, engine):
    """The full-match kernel stage of a filtered term query (match_df:
    the kernels with k=None, then a docs semi-join) ships the posting
    payloads but no position column."""
    plan = _plan(engine.match_df("lang:go user"))
    schemas = [s.split("\n")[0] for s in plan.split("ReadSchema")[1:]]
    postings = [s for s in schemas if "first_doc" in s]
    assert postings and all("docs" in s for s in postings)
    assert not any("pos:" in s for s in postings), postings


def test_nonpositional_phrase_runs_kernel_stage_once(spark, repos_parquet,
                                                    tmp_path_factory):
    """A phrase on a non-positional index verifies adjacency on the
    kernel stage's candidates and carries their scores through, so the
    executed plan holds ONE kernel stage (a final semi-join back onto
    the candidates used to run it twice)."""
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    idx = str(tmp_path_factory.mktemp("nopos_plan") / "idx")
    build_index(spark, spark.read.parquet(repos_parquet), idx,
                IndexConfig(id="nopos", store_positions=False),
                n_build_partitions=4)
    df = SearchEngine(spark, idx).match_df('"user session"')
    assert df.collect()
    # the adaptive plan after execution: its final section only
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    final = final.split("Initial Plan")[0]
    assert final.count("FlatMapGroupsInArrow") == 1, final


def test_probe_containment_broadcasts_probe_side(spark):
    """Fuzzy decontamination must broadcast the (tiny) probe grams and
    totals and never shuffle corpus text: a regression to a sort-merge
    join on the shingle column would shuffle the exploded corpus —
    fine at 500 docs, fatal at 10^12."""
    import pandas as pd

    from bright_spark.text.decontaminate import probe_containment
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20),
        "text": [f"alpha beta gamma delta token{i}" for i in range(20)]}))
    probes = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100], "text": ["alpha beta gamma delta"]}))
    df = probe_containment(corpus, probes, n=3, min_ratio=0.1)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    # both probe joins (grams, per-probe totals) broadcast; the plan
    # has exactly those two joins, so no join may shuffle corpus rows
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_lm_perplexity_partial_aggregation(spark):
    """The LM vocab build must be a partial (map-side combinable)
    aggregate and the scoring join must be a hash join on term — a
    regression to a global sort or cartesian would still pass on tiny
    corpora but die at 10^12 docs."""
    import pandas as pd

    from bright_spark.text.quality import lm_perplexity
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40),
        "text": [f"alpha beta tok{i % 7} gamma" for i in range(40)]}))
    df = lm_perplexity(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Join" in plan  # the tf x vocab scoring join survives


def test_dedup_paragraphs_text_never_shuffles(spark):
    """The paragraph-dedup winner shuffle must carry ONLY
    (phash, doc_id, idx) — the paragraph/document text columns must
    not appear in any Exchange input, and there must be no cartesian/
    nested-loop join. At 10^12 docs the hash triples are ~1% of the
    corpus bytes; shuffling text would be the scale killer."""
    import pandas as pd

    from bright_spark.text.dedup import dedup_paragraphs
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(30),
        "text": [f"header\n\nbody {i}\n\nfooter" for i in range(30)]}))
    df = dedup_paragraphs(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # every Exchange block's column list must be text-free: the only
    # shuffled attributes are hashes, ids, ordinals, and counts
    for block in plan.split("Exchange")[1:]:
        args = block.split("\n", 1)[0]
        assert "text" not in args and "para" not in args, args
    # correctness of the pinned plan on this fixture: header/footer
    # survive once each (doc 0), bodies are unique
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[0]["text"] == "header\n\nbody 0\n\nfooter"
    assert rows[5]["text"] == "body 5"
    assert rows[5]["n_removed"] == 2


def test_vocabulary_rank_no_single_partition_exchange(spark):
    """The vocabulary rank must not funnel the whole vocabulary through
    a single-partition exchange (the global-window row_number shape):
    a code corpus's distinct-term count reaches 10^9+, so the rank must
    come from range partitioning + per-partition numbering + offsets.
    Output parity with the global row_number is asserted exactly."""
    import pandas as pd

    from bright_spark.text.quality import vocabulary
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40),
        "text": [f"alpha beta tok{i % 7} gamma" for i in range(40)]}))
    df = vocabulary(docs, _materialize=False)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower()
    # exact parity with the definitional global ranking
    rows = df.collect()
    expect = sorted(((r["term"], int(r["cf"]), int(r["df"])) for r in rows),
                    key=lambda t: (-t[1], t[0]))
    got = {r["term"]: int(r["rank"]) for r in rows}
    assert got == {t[0]: i + 1 for i, t in enumerate(expect)}
    assert sorted(got.values()) == list(range(1, len(rows) + 1))


def test_dump_plans_keeps_hand_written_sections():
    """``scripts/dump_plans.py`` rewrites only the sections it generates,
    each in place, adds a new one after the last generated section, and
    keeps every hand-written section and its position."""
    import importlib.util
    import os
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(os.path.dirname(__file__), os.pardir,
                                   "scripts", "dump_plans.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    text = ("# head\n\nintro\n\n## gen A\n\nold a\n\n## notes\n\nkept\n\n"
            "## gen B\n\nold b\n\n## tail notes\n\nkept too\n")
    got = mod.splice(text, [("gen A", "## gen A\n\nnew a\n\n"),
                            ("gen C", "## gen C\n\nnew c\n\n"),
                            ("gen B", "## gen B\n\nnew b\n\n")])
    assert got == ("# head\n\nintro\n\n## gen A\n\nnew a\n\n## notes\n\n"
                   "kept\n\n## gen B\n\nnew b\n\n## gen C\n\nnew c\n\n"
                   "## tail notes\n\nkept too\n")
    assert mod.splice(text, []) == text
