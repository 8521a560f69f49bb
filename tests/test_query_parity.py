"""Engine vs pure-Python oracle: rank-identical top-k, scores equal,
exact totals; WAND pruned == exhaustive (SURVEY.md §7 step-3 exit);
driver-side (local) search == Spark search == oracle."""

import pytest

from bright_spark.index import catalog
from bright_spark.models import SearchRequest

K = 10

# FIXTURES.md F2 query classes, over the code corpus
QUERIES = [
    "parser",
    "config",
    "user",                      # hot term (Zipfian head)
    "getuserid",
    "getUserId",                 # analyzed to whole identifier
    "parse config",              # multi-term OR
    "user session token",
    "parser AND config",
    "error OR exception",
    "config NOT test",
    "+parse -legacy",
    "quasar_flux_capacitor",     # planted needle
    "omegaZetaHandler",
    "lang:python",               # attr filter only
    "lang:go user",              # attr + scored
    "repo:org1/proj2 config",
    "doc_len:>2000",             # numeric range (Q11 analog)
    "doc_len:>2000 user",
    "pars*",                     # wildcard
    "confg~1",                   # fuzzy
    "parser^2 config",           # boost
    "zzz_nonexistent_term",      # zero hits
    "user AND zzz_nonexistent_term",
    "-user",                     # pure negation
    "read AND write AND buffer",
]

PHRASE_QUERIES = [
    '"user session"',
    '"parse config"',
]

# shapes search() never runs on the driver: range / match-all filters
# and pure negation (no positive clause)
SPARK_ONLY = {"lang:python", "doc_len:>2000", "doc_len:>2000 user", "-user"}


def _assert_parity(engine, oracle, q, k=K):
    expected, etotal = oracle.search(q, k)
    rows = engine.search_df(q, k=k).collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"rank mismatch for {q!r}: {got} vs {expected}")
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"score mismatch {q!r} doc {gd}"


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identical_wand(engine, oracle, q):
    _assert_parity(engine, oracle, q)


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identical_relational(engine, oracle, q):
    """The full match set (match_df) ranked by (-score, doc_id) has the
    oracle's top-k, scores and total."""
    expected, etotal = oracle.search(q, K)
    rows = engine.match_df(q).collect()
    got = sorted(((r["doc_id"], r["score"]) for r in rows),
                 key=lambda h: (-h[1], h[0]))
    assert len(got) == etotal, q
    assert [d for d, _ in got[:K]] == [d for d, _ in expected], (
        f"{q!r}: {got[:K]} vs {expected}")
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"score {q!r} doc {gd}"


@pytest.mark.parametrize("q", PHRASE_QUERIES)
def test_phrases(engine, oracle, q):
    expected, _ = oracle.search(q, K)
    rows = engine.search_df(q, k=K).collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    assert [d for d, _ in got] == [d for d, _ in expected], f"{q!r}"


@pytest.mark.parametrize("q", ["user", "parse config", "user session token",
                               "error OR exception", "parser^2 config"])
def test_wand_pruning_exact(engine, oracle, q):
    """Block-max pruned result must equal the unpruned kernel result."""
    pruned = engine.search_df(q, k=K, prune=True).collect()
    full = engine.search_df(q, k=K, prune=False).collect()
    assert [(r["doc_id"], r["score"]) for r in pruned] == \
           [(r["doc_id"], r["score"]) for r in full]


def test_total_hits_exact(engine, oracle):
    for q in ["user", "parser AND config", "config NOT test", "lang:python",
              "quasar_flux_capacitor", "zzz_nonexistent_term"]:
        _, etotal = oracle.search(q, K)
        resp = engine.search(SearchRequest(q=q, limit=K))
        assert resp.total_hits == etotal, q


def test_match_all(engine, oracle):
    resp = engine.search(SearchRequest(q="", limit=5))
    assert resp.total_hits == oracle.n
    assert len(resp.hits) == 5
    # Q1: every doc, score 1
    assert all(h["_score"] == 1.0 for h in resp.hits)
    assert [h["doc_id"] for h in resp.hits] == [0, 1, 2, 3, 4]


def test_unknown_field_matches_nothing(spark, built_index):
    """Q5: Bleve semantics — a term scoped to a nonexistent field has
    no postings; as a should-clause it contributes nothing."""
    from bright_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, built_index.index_dir)
    assert eng.search_df("nosuchfield:user", k=5).collect() == []
    assert eng.search_df("user AND nosuchfield:user", k=5).collect() == []
    with_unknown = [(r["doc_id"], round(r["score"], 9))
                    for r in eng.search_df("user nosuchfield:zzz", k=5).collect()]
    plain = [(r["doc_id"], round(r["score"], 9))
             for r in eng.search_df("user", k=5).collect()]
    assert with_unknown == plain
    # NOT on an unknown field excludes nothing
    neg = [(r["doc_id"], round(r["score"], 9))
           for r in eng.search_df("user NOT nosuchfield:zzz", k=5).collect()]
    assert neg == plain


def test_escaped_colon_round_trip(spark, built_index):
    r"""parse\:config is a literal colon-bearing token, not a field
    prefix; the analyzer then splits the literal, so it must score
    exactly like the two-term query (and NOT like a field lookup)."""
    from bright_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, built_index.index_dir)
    a = [(r["doc_id"], round(r["score"], 9))
         for r in eng.search_df(r"parse\:config", k=K).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in eng.search_df("parse config", k=K).collect()]
    assert a == b and a


def test_wildcard_expansion_cap_errors(spark, tmp_path):
    """Bleve parity: a pattern matching more than MAX_EXPANSIONS index
    terms raises TooManyClauses instead of silently answering over a
    truncated expansion."""
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    from bright_spark.query.engine import SearchEngine
    from bright_spark.query.planner import MAX_EXPANSIONS, TooManyClausesError
    text = " ".join(f"zzq{i:05d}" for i in range(MAX_EXPANSIONS + 10))
    df = spark.createDataFrame(
        [("r", "p", "c" * 40, "python", text)],
        "repo STRING, path STRING, commit STRING, lang STRING, content STRING")
    idx = str(tmp_path / "capidx")
    build_index(spark, df, idx, IndexConfig(id="cap"), n_build_partitions=2)
    eng = SearchEngine(spark, idx)
    with pytest.raises(TooManyClausesError):
        eng.search_df("zzq*", k=5)
    with pytest.raises(TooManyClausesError):
        eng.search_df("zzq00000~5", k=5)  # ~5 covers every zzqNNNNN term
    # under the cap the expansion still answers
    assert eng.search_df("zzq0000*", k=5).count() == 1
    # the same through search(), expanding on the driver and (zero read
    # budget) with Spark; truncate mode (bench comparability) answers
    # over the first cap terms and flags the pattern in the envelope
    truncated = {}
    for budget, path in ((catalog.LOCAL_READ_MAX_BYTES, "local"),
                         (0, "spark")):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(catalog, "LOCAL_READ_MAX_BYTES", budget)
            eng = SearchEngine(spark, idx)
            with pytest.raises(TooManyClausesError):
                eng.search("zzq*")
            with pytest.raises(TooManyClausesError):
                eng.search("zzq00000~5")
            trunc = SearchEngine(spark, idx, on_overflow="truncate")
            resp = trunc.search("zzq*")
            assert resp.path == path
            assert resp.hits and resp.truncated_expansions == ["wildcard 'zzq*'"]
            assert "truncatedExpansions" in resp.to_dict()
            truncated[path] = resp.to_dict()
            fuzzy = trunc.search("zzq00000~5")
            assert fuzzy.truncated_expansions == ["fuzzy 'zzq00000'~5"]
            clean = trunc.search("zzq0000*")
            assert not clean.truncated_expansions
            assert "truncatedExpansions" not in clean.to_dict()
    assert truncated["local"] == truncated["spark"]


def _hits(resp):
    return [(h["doc_id"], h["_score"]) for h in resp.hits]


def _assert_oracle(resp, oracle, q, k=K):
    expected, etotal = oracle.search(q, k)
    got = _hits(resp)
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"rank mismatch for {q!r} ({resp.path}): {got} vs {expected}")
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9), f"score {q!r} doc {gd}"
    assert resp.total_hits == etotal, q


@pytest.mark.parametrize("q", QUERIES + PHRASE_QUERIES)
def test_search_local_path_matches_oracle(engine, oracle, q):
    resp = engine.search(SearchRequest(q=q, limit=K))
    _assert_oracle(resp, oracle, q)
    assert resp.path == ("spark" if q in SPARK_ONLY else "local")


@pytest.mark.parametrize("q", QUERIES + PHRASE_QUERIES)
def test_search_spark_path_when_reads_exceed_budget(
        spark, built_index, engine, oracle, monkeypatch, q):
    """With a zero read budget every read goes through Spark (the kernel
    stage's per-range top-k for term/bool shapes, its full match set for
    phrases and filters): the same hits, scores and totals as the driver
    path, bit for bit, and the same assembled records (the Spark
    ``Row.asDict()`` values under the docs schema)."""
    from bright_spark.query.engine import SearchEngine
    local = engine.search(SearchRequest(q=q, limit=K))
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", 0)
    resp = SearchEngine(spark, built_index.index_dir).search(
        SearchRequest(q=q, limit=K))
    assert resp.path == "spark"
    assert _hits(resp) == _hits(local)
    _assert_oracle(resp, oracle, q)
    assert resp.total_hits == local.total_hits
    strip = [{c: v for c, v in h.items() if c != "_score"} for h in resp.hits]
    assert strip == [{c: v for c, v in h.items() if c != "_score"}
                     for h in local.hits]


def _read_bytes(eng, q: str, ids: list[int]) -> tuple[int, int]:
    """Footer bytes of the posting row groups ``q`` reads, and of the
    docs row groups its hits ``ids`` are assembled from."""
    from bright_spark.query.engine import _KERNEL_COLUMNS
    from bright_spark.query.parser import parse_query
    a = eng._kernel_args(eng.planner.analyze(parse_query(q)))
    return (eng.catalog.postings_read(a.needed, _KERNEL_COLUMNS).nbytes,
            eng.catalog.docs_read(ids).nbytes)


def _spy_local_topk(eng, monkeypatch) -> list:
    """Record each call of ``eng._local_topk`` (the driver scoring) in
    the returned list."""
    calls, real = [], eng._local_topk
    monkeypatch.setattr(eng, "_local_topk",
                        lambda *a: calls.append(a) or real(*a))
    return calls


def test_search_path_follows_footer_bytes(spark, built_index, monkeypatch):
    """The gate compares the footer bytes of the posting row groups a
    query reads with the budget: just above them the query scores on the
    driver, at them it scores on Spark."""
    from bright_spark.query.engine import SearchEngine
    from bright_spark.query.parser import parse_query
    eng = SearchEngine(spark, built_index.index_dir)
    aq = eng.planner.analyze(parse_query("parse config"))
    nbytes, _ = _read_bytes(eng, "parse config", [])
    assert nbytes > 0
    calls = _spy_local_topk(eng, monkeypatch)
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", nbytes + 1)
    assert eng._choose_path(aq, [])[0] == "local"
    eng.search("parse config")
    assert len(calls) == 1
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", nbytes)
    assert eng._choose_path(aq, [])[0] == "spark"
    assert eng.search("parse config").path == "spark"
    assert len(calls) == 1


def test_assembly_over_the_budget_reports_spark(spark, built_index,
                                                monkeypatch):
    """A search whose postings fit the read budget but whose hits' docs
    read does not scores on the driver and assembles its hits with a
    Spark job: it reports ``spark``, with the hits and records of the
    all-driver search."""
    from bright_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, built_index.index_dir)
    req = SearchRequest(q="parse config", limit=K)
    local = eng.search(req)
    assert local.path == "local" and local.hits
    nbytes, docs = _read_bytes(eng, req.q,
                               [h["doc_id"] for h in local.hits])
    assert nbytes < docs
    calls = _spy_local_topk(eng, monkeypatch)
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", nbytes + 1)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    resp = eng.search(req)
    # scored on the driver; the docs read was the Spark job
    assert len(calls) == 1
    assert max(tracker.getJobIdsForGroup(None), default=-1) > before
    assert resp.path == "spark"
    assert resp.hits == local.hits and resp.total_hits == local.total_hits
    # the next search that stays on the driver says so again
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", docs + 1)
    assert eng.search(req).path == "local"
    assert len(calls) == 2


@pytest.mark.parametrize("q", ["user", "read AND write", "confg~1",
                               "pars*", "lang:go user", '"user session"'])
def test_local_search_starts_no_spark_job(spark, built_index, q):
    """Engine open + a local-path search (term dictionary, expansion,
    postings, filter allowlist, assembly) run no Spark job."""
    from bright_spark.query.engine import SearchEngine
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    eng = SearchEngine(spark, built_index.index_dir)
    resp = eng.search(SearchRequest(q=q, limit=K))
    assert resp.path == "local" and resp.hits
    assert max(tracker.getJobIdsForGroup(None), default=-1) == before


@pytest.mark.parametrize("kind,args", [
    ("wildcard", ("pars*",)), ("wildcard", ("*config*",)),
    ("wildcard", ("us?r*",)), ("wildcard", ("get*id",)),
    ("wildcard", ("a%b*",)), ("wildcard", ("get_*",)),
    ("fuzzy", ("confg", 1)), ("fuzzy", ("usr", 2)), ("fuzzy", ("x", 1)),
])
def test_expansion_driver_equals_spark(spark, built_index, monkeypatch,
                                       kind, args):
    """Driver-side expansion (pyarrow LIKE / vectorized Levenshtein over
    the term_stats footers' row groups) == Spark's like / levenshtein,
    in the same term order and with the same truncation at the cap."""
    from bright_spark.query.engine import SearchEngine

    def expand():
        planner = SearchEngine(spark, built_index.index_dir,
                               on_overflow="truncate").planner
        fn = (planner.expand_wildcard if kind == "wildcard"
              else planner.expand_fuzzy)
        return fn(*args, text_field="content")

    local = expand()
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_BYTES", 0)
    assert local == expand()


def test_within_edits_matches_loop_levenshtein():
    import random

    from bright_spark.query.planner import _within_edits
    from tests.oracle import _levenshtein
    rng = random.Random(7)
    alphabet = "abcé漢"
    for _ in range(200):
        q = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 6)))
        terms = sorted({"".join(rng.choice(alphabet)
                                for _ in range(rng.randint(0, 8)))
                        for _ in range(40)})
        k = rng.randint(0, 3)
        assert sorted(_within_edits(terms, q, k)) == [
            t for t in terms if _levenshtein(t, q) <= k], (q, k)


@pytest.mark.parametrize("q", ["lang:go user", "repo:org1/proj2 config",
                               "-lang:python user"])
def test_filtered_search_without_recorded_docs_schema(
        spark, built_index, oracle, tmp_path, q):
    """An index whose manifest records no docs DDL (older layouts) has
    no driver-side docs read: ``=``-filtered queries run on Spark and
    still match the oracle."""
    import json
    import shutil

    from bright_spark.index.catalog import IndexCatalog
    from bright_spark.query.engine import SearchEngine
    idx = str(tmp_path / "idx")
    shutil.copytree(built_index.index_dir, idx)
    cat = IndexCatalog(idx)
    path = cat._manifest_file(cat.current_snapshot_id())
    with open(path) as f:
        manifest = json.load(f)
    del manifest["meta"]["docs_schema"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    resp = SearchEngine(spark, idx).search(SearchRequest(q=q, limit=K))
    assert resp.path == "spark"
    _assert_oracle(resp, oracle, q)


def test_df_cache_stays_bounded(spark, built_index, engine, monkeypatch):
    """The engine's term-dictionary cache is cleared once it passes
    ``_DF_CACHE_MAX``: many distinct query strings keep it bounded (by
    the constant plus one query's terms) and the hits do not change."""
    from bright_spark.query import engine as engine_mod
    qs = ["user", "parse config", "user session token", "error OR exception",
          "config NOT test", "zzz_one zzz_two zzz_three", "parser AND config"]
    expected = [_hits(engine.search(SearchRequest(q=q, limit=K))) for q in qs]
    monkeypatch.setattr(engine_mod, "_DF_CACHE_MAX", 4)
    eng = engine_mod.SearchEngine(spark, built_index.index_dir)
    for q, want in zip(qs * 2, expected * 2):
        assert _hits(eng.search(SearchRequest(q=q, limit=K))) == want, q
        assert len(eng._df_cache) <= 4 + 3, q
