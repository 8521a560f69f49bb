"""F5 mutation fixtures: upsert / delete-by-id / delete-by-filter /
patch; post-state must equal a full rebuild from the mutated source."""

import shutil

import pytest
from pyspark.sql import functions as F

from bright_spark.fixtures import make_repos
from bright_spark.index import mutations
from bright_spark.index.builder import build_index
from bright_spark.index.mutations import IndexMutator
from bright_spark.models import IndexConfig
from bright_spark.query.engine import SearchEngine


def _postings_map(spark, cat):
    rows = cat.postings(spark).collect()
    return {(r["term"], r["range_id"]):
            (r["df_chunk"], r["cf_chunk"], [bytes(b) for b in r["docs"]])
            for r in rows}


def _docs_map(spark, cat):
    rows = cat.docs(spark).select("repo", "path", "commit",
                                  "content_sha256", "doc_len").collect()
    return {(r["repo"], r["path"], r["commit"]): (r["content_sha256"], r["doc_len"])
            for r in rows}


@pytest.fixture()
def mut_env(spark, tmp_path_factory):
    pdf = make_repos(50, 11)
    base = tmp_path_factory.mktemp("mut")
    src_path = str(base / "src.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src_path)
    idx = str(base / "idx")
    build_index(spark, spark.read.parquet(src_path), idx,
                IndexConfig(id="mut"), n_build_partitions=4)
    return pdf, src_path, str(base), idx


def _rebuild(spark, pdf, base) -> str:
    path = f"{base}/rebuild_src.parquet"
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    idx = f"{base}/rebuild_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, spark.read.parquet(path), idx,
                IndexConfig(id="rebuild"), n_build_partitions=4)
    return idx


def _assert_equiv(spark, idx_a: str, idx_b: str, queries):
    """Same docs, equivalent postings content, identical query results."""
    from bright_spark.index.catalog import IndexCatalog
    ca, cb = IndexCatalog(idx_a), IndexCatalog(idx_b)
    assert _docs_map(spark, ca) == _docs_map(spark, cb)
    ea, eb = SearchEngine(spark, idx_a), SearchEngine(spark, idx_b)
    assert ea.meta["n_docs"] == eb.meta["n_docs"]
    assert ea.meta["avgdl"] == eb.meta["avgdl"]
    for q in queries:
        ra = [(r["doc_id"], round(r["score"], 9))
              for r in ea.search_df(q, k=20).collect()]
        rb = [(r["doc_id"], round(r["score"], 9))
              for r in eb.search_df(q, k=20).collect()]
        # doc ids may be assigned differently after rebuild; compare by
        # natural key + score
        da = {r["doc_id"]: (r["repo"], r["path"], r["commit"])
              for r in ca.docs(spark).collect()}
        db = {r["doc_id"]: (r["repo"], r["path"], r["commit"])
              for r in cb.docs(spark).collect()}
        assert [(da[d], s) for d, s in ra] == [(db[d], s) for d, s in rb], q


QUERIES = ["user", "parse config", "parser AND config", "lang:python user"]


def test_upsert_new_revision(spark, mut_env):
    pdf, src_path, base, idx = mut_env
    # new commit (revision) of an existing (repo, path): a brand-new doc
    row = pdf.iloc[3].to_dict()
    row["commit"] = "f" * 40
    row["content"] = "def patched_parse_config(user): return user.config"
    updates = spark.createDataFrame([row])
    IndexMutator(spark, idx).upsert(updates)

    new_pdf = pdf.copy()
    import pandas as pd
    new_pdf = pd.concat([new_pdf, pd.DataFrame([row])], ignore_index=True)
    rebuild = _rebuild(spark, new_pdf, base)
    _assert_equiv(spark, idx, rebuild, QUERIES + ["patched_parse_config"])


def test_upsert_replace_existing(spark, mut_env):
    pdf, src_path, base, idx = mut_env
    row = pdf.iloc[5].to_dict()
    row["content"] = "func replacedEverything() { return nothing }"
    IndexMutator(spark, idx).upsert(spark.createDataFrame([row]))

    new_pdf = pdf.copy()
    new_pdf.loc[5, "content"] = row["content"]
    rebuild = _rebuild(spark, new_pdf, base)
    _assert_equiv(spark, idx, rebuild, QUERIES + ["replacedeverything"])


def test_delete_by_ids(spark, mut_env):
    pdf, src_path, base, idx = mut_env
    from bright_spark.index.catalog import IndexCatalog
    cat = IndexCatalog(idx)
    victims = [r["doc_id"] for r in
               cat.docs(spark).orderBy("doc_id").limit(3).collect()]
    keys = {(r["repo"], r["path"], r["commit"]) for r in
            cat.docs(spark).filter(F.col("doc_id").isin(victims)).collect()}
    IndexMutator(spark, idx).delete_ids(victims)

    mask = ~pdf.apply(lambda r: (r["repo"], r["path"], r["commit"]) in keys, axis=1)
    rebuild = _rebuild(spark, pdf[mask], base)
    _assert_equiv(spark, idx, rebuild, QUERIES)


def test_delete_by_filter(spark, mut_env):
    pdf, src_path, base, idx = mut_env
    IndexMutator(spark, idx).delete_by_query("lang:go")
    rebuild = _rebuild(spark, pdf[pdf.lang != "go"], base)
    _assert_equiv(spark, idx, rebuild, QUERIES)


def test_patch_single_doc(spark, mut_env):
    pdf, src_path, base, idx = mut_env
    from bright_spark.index.catalog import IndexCatalog
    cat = IndexCatalog(idx)
    target = cat.docs(spark).orderBy("doc_id").limit(1).collect()[0]
    IndexMutator(spark, idx).patch(
        target["doc_id"], {"content": "class PatchedOnlyDoc: pass"})

    new_pdf = pdf.copy()
    sel = ((new_pdf.repo == target["repo"]) & (new_pdf.path == target["path"])
           & (new_pdf.commit == target["commit"]))
    new_pdf.loc[sel, "content"] = "class PatchedOnlyDoc: pass"
    rebuild = _rebuild(spark, new_pdf, base)
    _assert_equiv(spark, idx, rebuild, QUERIES + ["patchedonlydoc"])


def test_every_write_keeps_bounded_files_per_bucket(spark, repos_parquet,
                                                    tmp_path_factory,
                                                    monkeypatch):
    """The reference needs a background segment merger (Bleve scorch);
    here every build/mutation write repartitions on (bucket, range
    slice) before the partitionBy write, so bucket dirs never fragment:
    at most files_per_bucket term-sorted files each, FOREVER — file
    count does not grow with mutation count, so no compaction operator
    is required. files_per_bucket > 1 is the 10^12-doc write path (the
    final write parallelizes at ~build width instead of capping at the
    bucket count, and no single parquet file holds a whole bucket).
    A zero read budget keeps every write on Spark: the driver build of
    this small corpus writes one file per bucket."""
    import os
    from bright_spark.index import catalog as catalog_mod
    from bright_spark.index.builder import build_index
    from bright_spark.index.catalog import IndexCatalog
    from bright_spark.index.mutations import IndexMutator
    from bright_spark.models import IndexConfig

    monkeypatch.setattr(catalog_mod, "LOCAL_READ_MAX_BYTES", 0)
    idx = str(tmp_path_factory.mktemp("nofrag") / "idx")
    src = spark.read.parquet(repos_parquet)
    # 8 partitions / 4 buckets -> auto files_per_bucket = 2
    build_index(spark, src, idx, IndexConfig(id="c", n_term_buckets=4),
                n_build_partitions=8)
    assert IndexCatalog(idx).manifest()["metrics"]["mode"] == "spark"
    s = IndexCatalog(idx).load_config().files_per_bucket
    assert s == 2

    def bucket_file_counts():
        return {d: len([f for f in os.listdir(d) if f.endswith(".parquet")])
                for d in IndexCatalog(idx).postings_dirs()}

    before = bucket_file_counts()
    assert all(1 <= n <= s for n in before.values()), before
    for i in range(2):
        IndexMutator(spark, idx).upsert(spark.createDataFrame([{
            "repo": "zz/c", "path": f"src/c{i}.py", "commit": str(i) * 40,
            "lang": "python", "content": f"marker_{i} user config"}]))
    after = bucket_file_counts()
    assert all(1 <= n <= s for n in after.values()), after


def _tiny_rows(n, start=0):
    return [{"repo": f"r{i % 7}", "path": f"p/{i}", "commit": f"c{i}",
             "lang": "python",
             "content": f"alpha tok{i % 97} beta common_{i % 13}"}
            for i in range(start, start + n)]


def test_bulk_upsert_matches_rebuild(spark, tmp_path_factory):
    """A large first-sync-sized upsert (20k new keys) must equal a
    rebuild, with id assignment running per-partition (dense ids above
    the previous max; no global single-task window)."""
    import pandas as pd
    from bright_spark.index.catalog import IndexCatalog

    base = tmp_path_factory.mktemp("bulk")
    seed = pd.DataFrame(_tiny_rows(500))
    idx = str(base / "idx")
    build_index(spark, spark.createDataFrame(seed), idx,
                IndexConfig(id="bulk"), n_build_partitions=4)
    prev_max = IndexCatalog(idx).docs(spark).agg(
        F.max("doc_id")).collect()[0][0]

    news = pd.DataFrame(_tiny_rows(20_000, start=500))
    IndexMutator(spark, idx).upsert(spark.createDataFrame(news))

    # dense contiguous ids above the previous max (U6 offsets scheme)
    got_ids = sorted(r["doc_id"] for r in IndexCatalog(idx).docs(spark)
                     .filter(F.col("doc_id") > prev_max)
                     .select("doc_id").collect())
    assert got_ids == list(range(prev_max + 1, prev_max + 1 + 20_000))

    # docs tables agree by natural key; FULL match sets agree by
    # (natural key -> score) — ids differ between mutate and rebuild,
    # and the synthetic corpus ties most scores, so top-k id order is
    # not comparable here
    rebuild = _rebuild(spark, pd.concat([seed, news], ignore_index=True), str(base))
    ca, cb = IndexCatalog(idx), IndexCatalog(rebuild)
    assert _docs_map(spark, ca) == _docs_map(spark, cb)
    ea, eb = SearchEngine(spark, idx), SearchEngine(spark, rebuild)
    assert ea.meta["n_docs"] == eb.meta["n_docs"]
    assert ea.meta["avgdl"] == eb.meta["avgdl"]
    ka = {r["doc_id"]: (r["repo"], r["path"], r["commit"])
          for r in ca.docs(spark).collect()}
    kb = {r["doc_id"]: (r["repo"], r["path"], r["commit"])
          for r in cb.docs(spark).collect()}
    for q in ["alpha", "tok13 AND beta", "common_5"]:
        ma = {ka[r["doc_id"]]: round(r["score"], 9)
              for r in ea.match_df(q).collect()}
        mb = {kb[r["doc_id"]]: round(r["score"], 9)
              for r in eb.match_df(q).collect()}
        assert ma == mb, q


def test_upsert_id_assignment_no_global_window(spark, tmp_path_factory):
    """The new-key id path must not plan a single-partition window
    (mutations used to rank all new keys in one task)."""
    import pandas as pd

    base = tmp_path_factory.mktemp("plan")
    seed = pd.DataFrame(_tiny_rows(40))
    idx = str(base / "idx")
    build_index(spark, spark.createDataFrame(seed), idx,
                IndexConfig(id="plan"), n_build_partitions=4)
    mut = IndexMutator(spark, idx)
    tok = mut._tokenize_updates(
        spark.createDataFrame(pd.DataFrame(_tiny_rows(40, start=40))))
    plan = tok._sc._jvm.PythonSQLUtils.explainString(
        tok._jdf.queryExecution(), "formatted")
    assert "Window" not in plan
    # deterministic: a second evaluation assigns identical ids
    a = sorted((r["path"], r["doc_id"]) for r in tok.collect())
    b = sorted((r["path"], r["doc_id"]) for r in
               mut._tokenize_updates(spark.createDataFrame(
                   pd.DataFrame(_tiny_rows(40, start=40)))).collect())
    assert a == b


@pytest.mark.parametrize("store_positions", [False, True])
def test_anti_join_fallback_matches_broadcast(spark, tmp_path_factory,
                                              monkeypatch, store_positions):
    """BROADCAST_THRESHOLD = 0 sends DataFrame change sets to the
    entry-level anti-join rewrite; it must produce an index identical
    to the default path's (upsert + delete)."""
    pdf = make_repos(40, 13)
    results = {}
    for label, thresh in (("bc", None), ("aj", 0)):
        base = tmp_path_factory.mktemp(f"fb_{label}_{store_positions}")
        idx = str(base / "idx")
        build_index(spark, spark.createDataFrame(pdf), idx,
                    IndexConfig(id="fb", store_positions=store_positions),
                    n_build_partitions=4)
        with monkeypatch.context() as mp:
            if thresh is not None:
                mp.setattr(mutations, "BROADCAST_THRESHOLD", thresh)
            mut = IndexMutator(spark, idx)
            row = pdf.iloc[7].to_dict()
            row["content"] = "def fallback_marker(): return 1"
            mut.upsert(spark.createDataFrame([row]))
            mut.delete_by_query("lang:go")
        modes = [m["metrics"]["mode"] for m in mut.catalog.snapshots()[1:]]
        assert modes == (["rewrite", "rewrite"] if label == "aj"
                         else ["append", "append-fast"]), modes
        results[label] = idx
    _assert_equiv(spark, results["bc"], results["aj"],
                  QUERIES + ["fallback_marker", '"def fallback_marker"'
                             if store_positions else "fallback_marker"])


def test_random_mutation_sequence_equals_rebuild(spark, mut_env):
    """Seeded randomized interleaving of upserts / deletes / patches:
    after the whole sequence (each step one snapshot commit), the index
    must equal a fresh rebuild from the equivalently-mutated source —
    the strongest form of the mutate==rebuild invariant, covering
    commit-over-commit lineage across many snapshots."""
    import random

    import pandas as pd

    pdf, src_path, base, idx = mut_env
    rng = random.Random(1234)
    state = {(
        r.repo, r.path, r.commit): dict(r._asdict())
        for r in pdf.itertuples(index=False)}
    mut = IndexMutator(spark, idx)

    for step in range(6):
        op = rng.choice(["upsert_new", "upsert_replace", "delete", "patch"])
        keys = sorted(state)
        if op == "upsert_new":
            rows = [{"repo": f"gen/r{step}", "path": f"src/n{step}_{j}.py",
                     "commit": f"{step}{j}" * 20, "lang": "python",
                     "content": f"def seq_marker_{step}_{j}(): parse config"}
                    for j in range(rng.randint(1, 3))]
        elif op == "upsert_replace":
            picks = rng.sample(keys, min(2, len(keys)))
            rows = []
            for kk in picks:
                r = dict(state[kk])
                r["content"] = f"replaced_{step} user config " + r["content"][:40]
                rows.append(r)
        elif op == "delete":
            picks = rng.sample(keys, min(2, len(keys)))
            for kk in picks:
                del state[kk]
            mut.delete_where(
                IndexMutator(spark, idx).catalog.docs(spark)
                .filter(F.concat_ws("|", "repo", "path", "commit")
                        .isin(["|".join(kk) for kk in picks]))
                .select("doc_id"))
            continue
        else:  # patch one doc through the stored-merge path
            kk = rng.choice(keys)
            docs = IndexMutator(spark, idx).catalog.docs(spark)
            row = docs.filter((F.col("repo") == kk[0])
                              & (F.col("path") == kk[1])
                              & (F.col("commit") == kk[2])).collect()[0]
            new_content = f"patched_{step} session token"
            mut.patch(int(row["doc_id"]), {"content": new_content})
            state[kk] = {**state[kk], "content": new_content}
            continue
        for r in rows:
            state[(r["repo"], r["path"], r["commit"])] = r
        mut.upsert(spark.createDataFrame(pd.DataFrame(rows)))

    rebuild = _rebuild(spark, pd.DataFrame(list(state.values())), base)
    _assert_equiv(spark, idx, rebuild,
                  QUERIES + ["seq_marker_0_0 OR replaced_1 OR patched_2"])
    # the snapshot log recorded one commit per applied mutation
    from bright_spark.index.catalog import IndexCatalog
    ops = [m["operation"] for m in IndexCatalog(idx).snapshots()]
    assert ops[0] == "build" and len(ops) == 7


def test_delete_everything_commits_empty_index(spark, tmp_path):
    """A filter-delete matching EVERY doc must commit an empty index
    (zero posting part files — the stats re-read needs its explicit
    schema here), and searches over it return zero hits."""
    from bright_spark.index.builder import build_index
    from bright_spark.index.mutations import IndexMutator
    from bright_spark.models import IndexConfig
    from bright_spark.query.engine import SearchEngine
    idx = str(tmp_path / "empty_idx")
    rows = [{"rid": i, "text": f"alpha doc {i}"} for i in range(8)]
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(id="e", tokenizer="simple", n_term_buckets=4),
                content_col="text", id_col="rid", lang_col=None,
                n_build_partitions=2)
    IndexMutator(spark, idx).delete_by_query("alpha")
    eng = SearchEngine(spark, idx)
    assert eng.meta["n_docs"] == 0 and eng.meta["avgdl"] == 0.0
    assert eng.search("").total_hits == 0
    assert eng.search_df("alpha", k=5).count() == 0


def test_mutated_index_driver_spark_oracle_parity(spark, tmp_path,
                                                  monkeypatch,
                                                  no_autocompact):
    """Upserts and deletes without compaction leave delta chains (Spark-
    and driver-written) and tombstones; on that index the driver path,
    the Spark path (zero read budget) and an oracle over the surviving
    rows agree on hits, scores and totals."""
    import pandas as pd

    from bright_spark.index import catalog as catalog_mod
    from bright_spark.index.catalog import IndexCatalog
    from bright_spark.models import SearchRequest
    from tests.oracle import OracleIndex

    pdf = make_repos(60, 23)
    pdf["rid"] = range(len(pdf))
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx,
                IndexConfig(id="mp"), id_col="rid", n_build_partitions=4)
    rows = {int(r["rid"]): r for r in pdf.to_dict("records")}

    def upsert(batch, fast):
        with monkeypatch.context() as mp:
            if fast == "never":  # distributed_mutations
                mp.setattr(mutations, "FAST_THRESHOLD", 0)
            IndexMutator(spark, idx).upsert(
                spark.createDataFrame(pd.DataFrame(batch)))
        rows.update({r["rid"]: r for r in batch})

    replaced = []
    for rid in (3, 17, 40):
        r = dict(rows[rid])
        r["content"] = "def parse_user_session(config): return user session"
        replaced.append(r)
    upsert(replaced, "never")
    upsert([{**rows[0], "rid": 1000 + i, "path": f"src/new{i}.py",
             "content": f"user session parser config token{i}"}
            for i in range(4)], "auto")
    for ids in ([5, 1001], [17, 33]):
        IndexMutator(spark, idx).delete_ids(ids)
        for i in ids:
            rows.pop(i)

    cat = IndexCatalog(idx)
    assert cat.delta_depth("postings") > 1
    assert cat.tombstones() is not None
    oracle = OracleIndex(list(rows.values()), id_col="rid")
    default_budget = catalog_mod.LOCAL_READ_MAX_BYTES
    for q in ["user", "parser AND config", "config NOT test", "pars*",
              '"user session"']:
        exp, etotal = oracle.search(q, 10)
        got = {}
        for budget in (default_budget, 0):
            monkeypatch.setattr(catalog_mod, "LOCAL_READ_MAX_BYTES", budget)
            resp = SearchEngine(spark, idx).search(SearchRequest(q=q, limit=10))
            hits = [(h["doc_id"], h["_score"]) for h in resp.hits]
            assert [d for d, _ in hits] == [d for d, _ in exp], (q, resp.path)
            for (_, gs), (_, es) in zip(hits, exp):
                assert gs == pytest.approx(es, abs=1e-9), (q, resp.path)
            assert resp.total_hits == etotal, (q, resp.path)
            got[resp.path] = hits
        assert "local" in got and len(got) == 2, q
