"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises the real engine (index build -> bucket-pruned
posting lookup -> per-range block-max BM25 kernels) over the
driver's ``documents``/``embeddings`` parquet tables; ``oracle_sql()``
re-derives every result from first principles in DuckDB SQL.

Float policy: BM25/cosine scores are rounded (6/4 decimals) on BOTH
sides and ranking uses the rounded value with a doc_id tiebreak, so
last-ulp differences between numpy and DuckDB arithmetic cannot flip
the comparison. The Spark side over-fetches (k+100) before re-ranking
by the rounded score.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K1, B = 1.2, 0.75
_GATE_DIR = "/tmp/bright_spark_gate"
_ENGINES: dict[str, object] = {}
_TUNED: set[int] = set()


def _tune(spark: SparkSession) -> SparkSession:
    """Once-per-session runtime perf conf for the DRIVER's session.

    The gate corpus is tiny (sf<=0.01), so a stock 200-partition
    shuffle spends the whole per-round budget scheduling empty tasks —
    the r4 gate truncated at 50/54 entries for exactly this reason.
    Every key here is a documented runtime-mutable SQL conf; none
    affects results, only task counts. check_gate's own session
    (bright_spark.session.get_spark) already runs with these."""
    key = id(spark)
    if key not in _TUNED:
        for k, v in (("spark.sql.shuffle.partitions", "16"),
                     ("spark.sql.adaptive.enabled", "true"),
                     ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
                     ("spark.sql.execution.arrow.pyspark.enabled", "true"),
                     ("spark.sql.session.timeZone", "UTC"),
                     # stop InferFiltersFromGenerate from inlining the
                     # full shingle/token array expression into scan-
                     # side filters (pure optimizer rewrite, results
                     # unchanged; see session.py for the measurement)
                     ("spark.sql.optimizer.excludedRules",
                      "org.apache.spark.sql.catalyst.optimizer."
                      "InferFiltersFromGenerate")):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # a locked conf is never worth failing the gate
        _TUNED.add(key)
    return spark


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs at threshold 0.5, computed ONCE per sf
    dir and lazily checkpointed: dedup_minhash_lsh returns them and
    dedup_clusters consumes them — two gate entries, one dataflow."""
    key = ("mh_pairs", os.path.abspath(sf_dir))
    df = _ENGINES.get(key)
    if df is None:
        from bright_spark.text.dedup import near_duplicates_minhash
        df = near_duplicates_minhash(
            _docs(spark, sf_dir), threshold=0.5).localCheckpoint(eager=False)
        _ENGINES[key] = df
    return df


def _cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (LSH candidates + exact cosine verify),
    computed ONCE per sf dir: shared by ann_near_dup_cosine and
    ann_dup_clusters the same way _minhash_pairs is shared."""
    key = ("cos_pairs", os.path.abspath(sf_dir))
    df = _ENGINES.get(key)
    if df is None:
        from bright_spark.vectors.similarity import near_duplicates_cosine
        df = near_duplicates_cosine(
            _emb(spark, sf_dir), threshold=0.3, n_planes=6,
            dim=64).localCheckpoint(eager=False)
        _ENGINES[key] = df
    return df


def _engine(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir and process) the inverted index over the
    documents table and return a SearchEngine."""
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    from bright_spark.query.engine import SearchEngine

    key = os.path.abspath(sf_dir)
    eng = _ENGINES.get(key)
    if eng is not None:
        return eng
    idx_dir = os.path.join(_GATE_DIR, key.strip("/").replace("/", "_") + "_docs_idx")
    shutil.rmtree(idx_dir, ignore_errors=True)
    # Q12 date attribute: deterministic per-doc date derived from
    # doc_id (the driver tables carry no date column); the oracle
    # re-derives the identical expression in DuckDB
    src = _docs(spark, sf_dir).withColumn(
        "created_at",
        F.date_add(F.lit("2020-01-01").cast("date"),
                   F.pmod(F.col("doc_id"), F.lit(365)).cast("int")))
    build_index(
        spark, src, idx_dir,
        IndexConfig(id="documents", tokenizer="simple", n_term_buckets=8,
                    store_positions=True),
        content_col="text", id_col="doc_id", lang_col="lang",
        attr_cols=("source", "n_chars", "created_at"),
        text_cols=("source",), n_build_partitions=8)
    eng = SearchEngine(spark, idx_dir)
    _ENGINES[key] = eng
    return eng


def _mut_engine(spark: SparkSession, sf_dir: str):
    """The WRITE-path gate (U1/U3/U4 + stats recompute + snapshot
    chain): build a second index over ``documents``, then apply a
    deterministic mutation sequence —

      1. upsert batch: every ``doc_id % 37 == 0`` doc's text replaced,
         plus five brand-new docs at ids 1000000..1000004 (U1);
      2. patch doc 11's text (U4: fetch-merge-reindex);
      3. delete_by_query("lang:de") (U3: filter-match delete through
         the query engine).

    Each step is one snapshot commit (mutations.py:260-301). The
    DuckDB oracles re-derive the final corpus with the same transforms
    in SQL, so BM25 scores, corpus stats, and doc lookups over the
    mutated index are fully hash-checked."""
    from bright_spark.index.builder import build_index
    from bright_spark.index.mutations import IndexMutator
    from bright_spark.models import IndexConfig
    from bright_spark.query.engine import SearchEngine

    key = os.path.abspath(sf_dir)
    cache_key = key + "|mut"
    eng = _ENGINES.get(cache_key)
    if eng is not None:
        return eng
    idx_dir = os.path.join(_GATE_DIR,
                           key.strip("/").replace("/", "_") + "_mutdocs_idx")
    shutil.rmtree(idx_dir, ignore_errors=True)
    src = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars")
    build_index(
        spark, src, idx_dir,
        IndexConfig(id="mutdocs", tokenizer="simple", n_term_buckets=8),
        content_col="text", id_col="doc_id", lang_col="lang",
        attr_cols=("source", "n_chars"), n_build_partitions=8)
    mut = IndexMutator(spark, idx_dir)
    n_chars_t = dict(src.dtypes)["n_chars"]
    repl = src.filter(F.col("doc_id") % 37 == 0).withColumn(
        "text", F.lit("upserted spark document alpha beta"))
    appended = spark.range(0, 5).select(
        (F.col("id") + 1000000).alias("doc_id"),
        F.lit("fresh spark upsert row").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("src_new").alias("source"),
        F.lit(22).cast(n_chars_t).alias("n_chars"))
    mut.upsert(repl.unionByName(appended))
    mut.patch(11, {"text": "patched gamma spark"})
    mut.delete_by_query("lang:de")
    eng = SearchEngine(spark, idx_dir)
    _ENGINES[cache_key] = eng
    return eng


def _ranked(eng, q: str, k: int = 10) -> DataFrame:
    df = eng.search_df(q, k=k + 100)
    return (df.select("doc_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 disjunction over the sf0.001 corpus."""
    eng = _engine(spark, "/root/testdata/sf0.001")
    return _ranked(eng, "spark join", 10)


# -------------------------------------------------------------- queries

def _q_bm25(q: str, k: int = 10):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _ranked(_engine(spark, sf_dir), q, k)
    return fn


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    ts = eng.catalog.term_stats(spark)
    return (ts.filter((F.col("field") == "text") & F.col("term").like("b%"))
            .select("term", F.col("df").cast("bigint").alias("df"),
                    F.col("cf").cast("bigint").alias("cf")))


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    meta = spark.read.parquet(eng.catalog.index_meta_path)
    return meta.select(F.col("n_docs").cast("bigint").alias("n_docs"),
                       F.col("total_tokens").cast("bigint").alias("total_tokens"),
                       F.round("avgdl", 6).alias("avgdl"))


def _q_posting_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.index.mutations import (ENTRIES_SCHEMA,
                                              _decode_to_entries)
    eng = _engine(spark, sf_dir)
    return (eng.catalog.postings_for_terms(spark, [("text", "spark")])
            .mapInArrow(_decode_to_entries(tomb_bc=eng._tomb_bc),
                        ENTRIES_SCHEMA)
            .select("doc_id", "tf", "dl"))


def _q_doc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    return (eng.catalog.docs(spark)
            .filter(F.col("doc_id").isin([1, 5, 10, 11]))
            .select("doc_id", "lang", "source",
                    F.col("n_chars").cast("bigint").alias("n_chars"), "text"))


def _q_match_all_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    return (eng.catalog.docs(spark).orderBy("doc_id")
            .select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"))
            .offset(20).limit(10))


def _q_sort_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    hits = eng.match_df("spark").select("doc_id")
    docs = eng.catalog.docs(spark).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    return (docs.join(F.broadcast(hits), "doc_id")
            .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(10))



def _store(spark: SparkSession, sf_dir: str):
    """IndexStore-routed surface: the same documents corpus registered
    through the store lifecycle (create_index with an EXCLUDED
    attribute -> add_documents -> store.search), so config resolution
    and server-side exclusion enforcement sit under the oracle too —
    not just the bare engine (store.go:78-124 adopt/create semantics,
    exclusion as a disabled field mapping, store.go:127-133)."""
    from bright_spark.index.store import IndexStore
    from bright_spark.models import IndexConfig

    key = os.path.abspath(sf_dir)
    ck = key + "|store"
    st = _ENGINES.get(ck)
    if st is not None:
        return st
    data_dir = os.path.join(_GATE_DIR,
                            key.strip("/").replace("/", "_") + "_store")
    shutil.rmtree(data_dir, ignore_errors=True)
    store = IndexStore(spark, data_dir)
    store.create_index(IndexConfig(
        id="documents", primary_key="doc_id",
        exclude_attributes=("source",),
        tokenizer="simple", n_term_buckets=8))
    store.add_documents(
        "documents", _docs(spark, sf_dir), content_col="text",
        attr_cols=("lang", "n_chars", "source"),
        n_build_partitions=8)
    _ENGINES[ck] = store
    return store


def _store_ranked(spark, store, q: str, k: int = 10,
                  with_lang: bool = False) -> DataFrame:
    """store.search -> ranked rows; over-fetch + re-rank by the
    ROUNDED score (same float policy as _ranked)."""
    from bright_spark.models import SearchRequest
    resp = store.search("documents", SearchRequest(q=q, limit=k + 100))
    rows = []
    for h in resp.hits:
        r = (int(h["doc_id"]), round(float(h["_score"]), 6))
        if with_lang:
            r += (h.get("lang"),)
        rows.append(r)
    rows.sort(key=lambda r: (-r[1], r[0]))
    schema = "doc_id BIGINT, score DOUBLE" + (
        ", lang STRING" if with_lang else "")
    return spark.createDataFrame(rows[:k], schema)


def _q_store_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full store path: registry -> engine -> hits with stored attrs
    (the excluded 'source' never appears in a hit)."""
    store = _store(spark, sf_dir)
    df = _store_ranked(spark, store, "spark join", 10, with_lang=True)
    from bright_spark.models import SearchRequest
    probe = store.search("documents", SearchRequest(q="spark", limit=3))
    assert all("source" not in h for h in probe.hits)
    return df


def _q_store_excluded_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion enforcement under the oracle: 'source' is excluded at
    create_index, so the `source:src3` clause behaves like an unknown
    field and contributes NOTHING — results must equal plain 'spark'
    (on the non-excluded index the same query scores differently; the
    ft_field_scoped oracle proves src3 is a live signal there)."""
    store = _store(spark, sf_dir)
    return _store_ranked(spark, store, "spark source:src3", 10)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.dedup import exact_duplicates
    return exact_duplicates(_docs(spark, sf_dir)).select(
        "doc_id", "content_hash", "canonical_id",
        F.col("group_size").cast("bigint").alias("group_size"))


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_pairs(spark, sf_dir)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5,
                                max_df=50)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-hash cross-corpus containment: docs outside the probe
    # subset whose exact text also appears inside it (the synthetic
    # corpus contains repeated texts, so this is non-empty)
    from bright_spark.text.dedup import cross_corpus_duplicates
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 53 == 0)
    # the corpus side re-ingests every 3rd reference text under a new
    # id (a later crawl catching the same pages) — guaranteed hits
    recrawled = (ref.filter(F.col("doc_id") % 3 == 0)
                 .select((F.col("doc_id") + 5000000).alias("doc_id"),
                         "text"))
    corpus = (docs.filter(F.col("doc_id") % 53 != 0)
              .select("doc_id", "text").unionByName(recrawled))
    return cross_corpus_duplicates(corpus, ref)


def _q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: docs sharing any 3-gram with the
    # deterministic probe subset (doc_id % 97 == 0 poses as the
    # benchmark suite; real pipelines use longer n on longer texts —
    # n is proportionate to these short synthetic docs)
    from bright_spark.text.decontaminate import contaminated_docs
    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return (contaminated_docs(corpus, probes, n=3)
            .select("doc_id", F.col("n_hits").cast("bigint").alias("n_hits"),
                    "first_ngram"))


def _q_text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fuzzy decontamination: per (doc, probe) containment — the
    # fraction of the probe's distinct 3-grams present in the doc
    # (the "drop if >= X% of an eval example appears" rule); same
    # deterministic probe subset as text_decontaminate, plus planted
    # PARTIAL leaks (first ~60% of every 3rd probe's tokens under a
    # new id — the edited/truncated benchmark leak a verbatim check
    # misses and a single-collision check can't rank)
    from bright_spark.text.decontaminate import probe_containment
    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    toks = F.split(F.lower(F.trim("text")), " ")
    keep = F.greatest(F.lit(1), F.ceil(F.size(toks) * 0.6).cast("int"))
    leaked = (probes.filter(F.col("doc_id") % 3 == 0)
              .select((F.col("doc_id") + 7000000).alias("doc_id"),
                      F.array_join(F.slice(toks, 1, keep), " ").alias("text")))
    corpus = (docs.filter(F.col("doc_id") % 97 != 0)
              .select("doc_id", "text").unionByName(leaked))
    return (probe_containment(corpus, probes, n=3, min_ratio=0.2)
            .select("doc_id",
                    F.col("probe_id").cast("bigint").alias("probe_id"),
                    F.col("probe_hits").cast("bigint").alias("probe_hits"),
                    F.col("probe_ngrams").cast("bigint").alias("probe_ngrams"),
                    F.round("containment", 6).alias("containment")))


def _q_text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-self-trained unigram-LM perplexity (CCNet-style quality
    # filter, kenlm-free variant); rounded for cross-engine float parity
    from bright_spark.text.quality import lm_perplexity
    out = lm_perplexity(_docs(spark, sf_dir))
    return out.select("doc_id", "n_tokens",
                      F.round("cross_entropy", 6).alias("cross_entropy"),
                      F.round("perplexity", 4).alias("perplexity"))


def _q_text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interpolated-bigram LM (Jelinek-Mercer, lam=0.5): word-order-
    # aware quality signal; the oracle re-derives the identical model
    # from shifted-array bigrams in SQL
    from bright_spark.text.quality import lm_perplexity_bigram
    out = lm_perplexity_bigram(_docs(spark, sf_dir))
    return out.select("doc_id",
                      F.col("n_tokens").cast("bigint").alias("n_tokens"),
                      F.round("cross_entropy", 6).alias("cross_entropy"),
                      F.round("perplexity", 4).alias("perplexity"))


def _q_text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus vocabulary artifact (tokenizer/BPE training input):
    # (term, cf, df, rank) with deterministic cf-desc/term-asc ranking
    from bright_spark.text.quality import vocabulary
    out = vocabulary(_docs(spark, sf_dir))
    return out.select("term", F.col("cf").cast("bigint").alias("cf"),
                      F.col("df").cast("bigint").alias("df"),
                      F.col("rank").cast("bigint").alias("rank"))


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.dedup import simhash
    return simhash(_docs(spark, sf_dir)).select(
        "doc_id", F.col("simhash").cast("bigint").alias("simhash"))


def _q_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.dedup import simhash64
    return simhash64(_docs(spark, sf_dir)).select(
        "doc_id", F.col("simhash_hi").cast("bigint").alias("simhash_hi"),
        F.col("simhash_lo").cast("bigint").alias("simhash_lo"))


def _q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64-bit signatures, 4x16-bit pigeonhole bands (web-scale bucket
    # cardinality: 65536 keys/band vs 256 for 8-bit bands)
    from bright_spark.text.dedup import near_duplicates_simhash
    pairs = near_duplicates_simhash(_docs(spark, sf_dir), max_hamming=3)
    return pairs.select("id_a", "id_b",
                        F.col("hamming").cast("bigint").alias("hamming"))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # connected components over the MinHash near-dup pair graph ->
    # canonical cluster_id per doc (keep one per cluster to dedup)
    from bright_spark.text.dedup import duplicate_clusters
    docs = _docs(spark, sf_dir)
    pairs = _minhash_pairs(spark, sf_dir)
    return duplicate_clusters(docs, pairs).select(
        "doc_id", F.col("cluster_id").cast("bigint").alias("cluster_id"))


def _q_text_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.sampling import deterministic_split
    return deterministic_split(_docs(spark, sf_dir), _SPLIT_WEIGHTS)



def _q_text_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: per-language deterministic sampling
    rates (keep all 'de', half of 'en', 30% of everything else) — the
    pretraining-mix step, oracle-checked row for row."""
    from bright_spark.text.sampling import stratified_sample
    return stratified_sample(
        _docs(spark, sf_dir), rates={"de": 1.0, "en": 0.5},
        group_col="lang", default_rate=0.3).select("doc_id", "lang")


def _q_text_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.sampling import sample_by_hash
    return sample_by_hash(_docs(spark, sf_dir), rate=0.25).select("doc_id")


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concat-and-chunk sequence packing: 256-token windows, 8 shards
    from bright_spark.text.sampling import pack_sequences
    return pack_sequences(_docs(spark, sf_dir), budget=256, n_shards=8)


def _q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.quality import bpe_token_stats
    return bpe_token_stats(_docs(spark, sf_dir))


def _q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.quality import token_stats
    s = token_stats(_docs(spark, sf_dir))
    return s.select("doc_id",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.col("n_distinct").cast("bigint").alias("n_distinct"),
                    F.round("distinct_ratio", 6).alias("distinct_ratio"),
                    F.round("avg_token_len", 6).alias("avg_token_len"),
                    F.col("max_token_len").cast("bigint").alias("max_token_len"))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.quality import quality_scores
    s = quality_scores(_docs(spark, sf_dir))
    return s.select("doc_id",
                    F.round("stopword_ratio", 6).alias("stopword_ratio"),
                    F.round("quality_score", 6).alias("quality_score"))


def _q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.quality import fingerprints
    return fingerprints(_docs(spark, sf_dir))


def _q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet/RefinedWeb repeated-span removal, keep-first semantics.
    # Gate runs it at WORD granularity (sep=' ') so the synthetic
    # corpus (no newlines) exercises massive cross-doc removal with
    # order preservation — a differential workout for both engines.
    from bright_spark.text.dedup import dedup_paragraphs
    return dedup_paragraphs(_docs(spark, sf_dir), sep=" ")


# PII injected into a deterministic doc subset so the redaction
# counts are non-trivial on the synthetic corpus; the oracle appends
# the identical literal
_PII_SUFFIX = (" contact bob@example.com or 10.0.42.7 ref 9876543210"
               " key 0123456789abcdef0123456789abcdef")


def _q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.scrub import redact_pii
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat("text", F.when(F.col("doc_id") % 11 == 0,
                                        F.lit(_PII_SUFFIX))
                         .otherwise(F.lit(""))))
    return redact_pii(docs)


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.quality import repetition_profile
    r = repetition_profile(_docs(spark, sf_dir), k=3)
    return r.select("doc_id", "n_ngrams", "n_distinct",
                    F.round("repetition_ratio", 6).alias("repetition_ratio"))


def _q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.quality import lang_profile
    p = lang_profile(_docs(spark, sf_dir))
    return p.select("lang",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("total_tokens").cast("bigint").alias("total_tokens"),
                    F.round("avg_chars", 6).alias("avg_chars"))


_LANG_MARKERS = {
    "en": frozenset({"the", "a", "of", "and", "to"}),
    "de": frozenset({"der", "die", "das", "und", "nicht"}),
    "es": frozenset({"el", "los", "las", "que", "y"}),
    "fr": frozenset({"le", "les", "une", "et", "est"}),
}


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.text.quality import language_id
    out = language_id(_docs(spark, sf_dir), markers=_LANG_MARKERS)
    return out.select("doc_id", "lang_pred",
                      F.col("marker_hits").cast("bigint").alias("marker_hits"))


def _q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal sampling-grid surface (decode stays env-gated): a
    # media table derived deterministically from documents — one row
    # per sampled frame timestamp
    from bright_spark.multimodal import frame_sample
    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        (F.lit(500) + (F.col("doc_id") * 37) % 9500).cast("int")
        .alias("duration_ms"))
    out = frame_sample(media, every_ms=700)
    return out.select(F.col("media_id").cast("bigint").alias("media_id"),
                      F.col("frame_idx").cast("bigint").alias("frame_idx"),
                      F.col("ts_ms").cast("bigint").alias("ts_ms"))


def _q_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _cosine_pairs(spark, sf_dir)
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _q_ann_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # semantic dedup end-to-end: embedding near-dup pairs (LSH bucket
    # candidates + exact cosine verify) -> connected components ->
    # canonical cluster_id per vector (keep one per cluster). The
    # cluster step reuses the generic min-label propagation from the
    # text dedup family — pairs frames compose across modalities.
    from bright_spark.text.dedup import duplicate_clusters
    emb = _emb(spark, sf_dir)
    pairs = _cosine_pairs(spark, sf_dir)
    return (duplicate_clusters(emb, pairs, id_col="vec_id")
            .select(F.col("doc_id").cast("bigint").alias("vec_id"),
                    F.col("cluster_id").cast("bigint").alias("cluster_id")))


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bright_spark.vectors.similarity import cosine_topk
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    top = cosine_topk(emb, [float(x) for x in qvec], k=50, exclude_ids=[0])
    return (top.select("vec_id", F.round("cosine", 4).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(20))


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH ANN over the PERSISTED sig-partitioned index (built once per
    # sf dir): probe sigs prune partition directories instead of
    # recomputing signatures over the full table per query. The LSH
    # probe is deterministic (md5-derived planes), so the result IS
    # SQL-expressible — the oracle recomputes the same bucket filter.
    from bright_spark.vectors.similarity import ann_topk_indexed, build_ann_index
    emb = _emb(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    ann_dir = os.path.join(_GATE_DIR,
                           key.strip("/").replace("/", "_") + "_ann_idx")
    if not os.path.exists(os.path.join(ann_dir, "_ann_meta.json")):
        build_ann_index(emb, ann_dir, dim=64, n_planes=6)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    # k=None: rank ALL probed candidates by (round(cos,4), vec_id) —
    # the oracle's exact ordering, so a 4-decimal tie just outside an
    # exact-cosine top-k prefix cannot flip the comparison
    top = ann_topk_indexed(spark, ann_dir, [float(x) for x in qvec], k=None,
                           probe_hamming=2)
    return (top.select("vec_id", F.round("cosine", 4).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10))


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF ANN over a persisted leader-partitioned index: deterministic
    # md5-sampled leaders + round-6 argmax assignment make the whole
    # index (and therefore the probe result) SQL-re-derivable.
    from bright_spark.vectors.similarity import build_ivf_index, ivf_topk
    emb = _emb(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    ivf_dir = os.path.join(_GATE_DIR,
                           key.strip("/").replace("/", "_") + "_ivf_idx")
    if not os.path.exists(os.path.join(ivf_dir, "_ivf_meta.json")):
        build_ivf_index(emb, ivf_dir, n_leaders=32)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0]]
    # k=None: identical rounded ordering over the full probed set as
    # the oracle (see _q_ann_lsh)
    top = ivf_topk(spark, ivf_dir, qvec, k=None, nprobe=4, exclude_ids=[0])
    return (top.select("vec_id", F.round("cosine", 4).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10))


def _q_mut_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ranked(_mut_engine(spark, sf_dir), "spark", 10)


def _q_mut_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _mut_engine(spark, sf_dir)
    meta = spark.read.parquet(eng.catalog.index_meta_path)
    return meta.select(F.col("n_docs").cast("bigint").alias("n_docs"),
                       F.col("total_tokens").cast("bigint").alias("total_tokens"),
                       F.round("avgdl", 6).alias("avgdl"))


def _q_mut_doc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 74 = replaced by the upsert batch, 11 = patched, 1000001 = newly
    # inserted, 5 = untouched — any of them absent iff lang was 'de'
    eng = _mut_engine(spark, sf_dir)
    return (eng.catalog.docs(spark)
            .filter(F.col("doc_id").isin([5, 74, 11, 1000001]))
            .select("doc_id", "lang", "source",
                    F.col("n_chars").cast("bigint").alias("n_chars"), "text"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- full-text engine (SURVEY.md §2.5 Q1-Q15, §2.6 R1-R2)
        "ft_bm25_single": _q_bm25("spark"),
        "ft_bm25_multi_or": _q_bm25("spark join"),
        "ft_bm25_and": _q_bm25("spark AND join"),
        "ft_bm25_not": _q_bm25("spark NOT join"),
        "ft_bm25_filter_lang": _q_bm25("lang:en spark"),
        "ft_bm25_range": _q_bm25("n_chars:>300 spark"),
        # Q12 date range: inclusive [a TO b] over an indexed DATE attr
        "ft_date_range": _q_bm25(
            "created_at:[2020-02-01 TO 2020-03-15] spark"),
        "ft_wildcard": _q_bm25("sp*"),
        "ft_fuzzy": _q_bm25("spark~1"),
        "ft_boost": _q_bm25("spark^2 join"),
        "ft_phrase": _q_bm25('"the fast"'),
        # Q5 per-field namespace: `source` is an analyzed text field
        # with its own postings + BM25 stats (df/avgdl over source)
        "ft_field_scoped": _q_bm25("source:src3 spark"),
        # Q8 NOT phrase: score `spark`, exclude adjacent "the fast"
        "ft_phrase_not": _q_bm25('spark -"the fast"'),
        # --- write path (U1 upsert / U4 patch / U3 filter-delete),
        # queried AFTER three snapshot commits on a second index
        "ft_mutate_bm25": _q_mut_bm25,
        "ft_mutate_corpus_stats": _q_mut_corpus_stats,
        "ft_mutate_doc_lookup": _q_mut_doc_lookup,
        "ft_term_stats": _q_term_stats,
        "ft_corpus_stats": _q_corpus_stats,
        "ft_posting_list": _q_posting_list,
        "ft_doc_lookup": _q_doc_lookup,
        "ft_match_all_page": _q_match_all_page,
        "ft_sort_field": _q_sort_field,
        "ft_store_search": _q_store_search,
        "ft_store_excluded_field": _q_store_excluded_field,
        # --- similarity search (moved UP from the dict tail: the r4
        # driver gate ran out of budget before reaching them — these
        # five and the heavy dedups now run while budget is plentiful,
        # and the cheapest entries close the file)
        "ann_cosine_topk": _q_ann_cosine,
        "ann_lsh_topk": _q_ann_lsh,  # deterministic LSH -> full oracle
        "ann_ivf_topk": _q_ann_ivf,  # deterministic IVF -> full oracle
        "ann_near_dup_cosine": _q_near_dup_cosine,
        "ann_dup_clusters": _q_ann_dup_clusters,  # shares _cosine_pairs
        # --- training-data pipeline operators (expensive first)
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_clusters": _q_dedup_clusters,  # shares _minhash_pairs
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash64": _q_dedup_simhash64,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "dedup_exact": _q_dedup_exact,
        "dedup_cross": _q_dedup_cross,
        "text_decontaminate": _q_text_decontaminate,
        "text_decontaminate_fuzzy": _q_text_decontaminate_fuzzy,
        "text_lm_perplexity": _q_text_lm_perplexity,
        "text_lm_bigram": _q_text_lm_bigram,
        "text_vocabulary": _q_text_vocabulary,
        "text_split": _q_text_split,
        "text_pack": _q_text_pack,
        "text_sample": _q_text_sample,
        "text_stratified": _q_text_stratified,
        "text_token_stats": _q_text_token_stats,
        "text_bpe_tokens": _q_text_bpe_tokens,
        "text_quality": _q_text_quality,
        "text_redact": _q_text_redact,
        "text_repetition": _q_text_repetition,
        "text_fingerprint": _q_text_fingerprint,
        "dedup_paragraphs": _q_dedup_paragraphs,
        "text_lang_profile": _q_lang_profile,
        "text_lang_id": _q_lang_id,
        # --- multimodal (sampling grid; decode is env-gated)
        "media_frame_sample": _q_media_frame_sample,
    }


# ----------------------------------------------------------- oracle SQL

_BM25_CTE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
meta AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                (SELECT count(*) FROM toks)::DOUBLE
                  / (SELECT count(*) FROM documents) AS avgdl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""


def _score(boost: str = "1.0") -> str:
    return (f"(({boost}) * ln(1 + (n - df + 0.5) / (df + 0.5)))"
            f" * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))")


def _bm25_sql(where: str, k: int = 10, having: str = "", boost: str = "1.0",
              score_join: str = "", final_join: str = "") -> str:
    return f"""{_BM25_CTE},
scores AS (
  SELECT tf.doc_id, sum({_score(boost)}) AS s
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN meta
  {score_join}
  WHERE {where}
  GROUP BY tf.doc_id
  {having})
SELECT s.doc_id, round(s.s, 6) AS score
FROM scores s {final_join}
ORDER BY round(s.s, 6) DESC, s.doc_id
LIMIT {k}"""


_MINHASH_PAIR_CTES = """t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
       FROM t, unnest(range(1, len(t) - 1)) AS r(i)),
sig AS (SELECT doc_id,
  min(md5('0|' || shingle)) AS h0, min(md5('1|' || shingle)) AS h1,
  min(md5('2|' || shingle)) AS h2, min(md5('3|' || shingle)) AS h3,
  min(md5('4|' || shingle)) AS h4, min(md5('5|' || shingle)) AS h5,
  min(md5('6|' || shingle)) AS h6, min(md5('7|' || shingle)) AS h7
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig UNION ALL
  SELECT doc_id, 1, h2 || '|' || h3 FROM sig UNION ALL
  SELECT doc_id, 2, h4 || '|' || h5 FROM sig UNION ALL
  SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
cnt AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (SELECT p.id_a, p.id_b, count(*)::BIGINT AS i
          FROM pairs p
          JOIN sh a ON a.doc_id = p.id_a
          JOIN sh b ON b.doc_id = p.id_b AND a.shingle = b.shingle
          GROUP BY 1, 2),
ver AS (SELECT i.id_a, i.id_b,
               i.i::DOUBLE / (ca.n + cb.n - i.i) AS jac
        FROM inter i JOIN cnt ca ON ca.doc_id = i.id_a
                     JOIN cnt cb ON cb.doc_id = i.id_b
        WHERE i.i::DOUBLE / (ca.n + cb.n - i.i) >= 0.5)"""


_SIMHASH64_CTE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf,
             ('0x' || substr(md5(term), 1, 8))::BIGINT AS h_lo,
             ('0x' || substr(md5(term), 9, 8))::BIGINT AS h_hi FROM tf),
bits AS (SELECT doc_id, tf, h_lo, h_hi, unnest(range(0, 32)) AS bit FROM h),
c AS (SELECT doc_id, bit,
             sum(CASE WHEN (h_lo >> bit) % 2 = 1 THEN tf ELSE -tf END) AS s_lo,
             sum(CASE WHEN (h_hi >> bit) % 2 = 1 THEN tf ELSE -tf END) AS s_hi
      FROM bits GROUP BY 1, 2),
sg AS (SELECT doc_id,
              sum(CASE WHEN s_lo >= 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS lo,
              sum(CASE WHEN s_hi >= 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS hi
       FROM c GROUP BY doc_id)"""


# the final corpus after the _mut_engine mutation sequence (upsert
# batch -> patch doc 11 -> delete lang:de), re-derived in SQL: same
# replacement texts, same appended rows, same filter
_MUT_DOCS_CTE = """docs_m AS (
  SELECT doc_id,
         CASE WHEN doc_id = 11 THEN 'patched gamma spark'
              WHEN doc_id % 37 = 0
                THEN 'upserted spark document alpha beta'
              ELSE text END AS text,
         lang, source, n_chars
  FROM documents
  WHERE lang <> 'de'
  UNION ALL
  SELECT 1000000 + i, 'fresh spark upsert row', 'en', 'src_new', 22
  FROM range(0, 5) r(i))"""


def _redact_sql() -> str:
    """Sequential redaction chain re-derived stage by stage from the
    SAME pattern table the Spark operator uses (RE2-compatible, so
    DuckDB executes the identical regexes)."""
    from bright_spark.text.scrub import PII_PATTERNS
    sql = (f"WITH r0 AS (\n"
           f"  SELECT doc_id, text || CASE WHEN doc_id % 11 = 0 "
           f"THEN '{_PII_SUFFIX}' ELSE '' END AS t FROM documents)")
    for i, (name, pat, rep) in enumerate(PII_PATTERNS, 1):
        prev_counts = "".join(f"n_{n}, " for n, _, _ in PII_PATTERNS[:i - 1])
        sql += (f",\nr{i} AS (SELECT doc_id, {prev_counts}"
                f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name}, "
                f"regexp_replace(t, '{pat}', '{rep}', 'g') AS t "
                f"FROM r{i - 1})")
    names = ", ".join(f"n_{n}" for n, _, _ in PII_PATTERNS)
    return (sql + f"\nSELECT doc_id, t AS text_redacted, {names} "
                  f"FROM r{len(PII_PATTERNS)}")


def _adj_sql(t1: str, t2: str) -> str:
    """DuckDB subquery: doc_ids where token ``t2`` directly follows
    ``t1`` (phrase adjacency over whitespace positions)."""
    return f"""(
  SELECT DISTINCT a.doc_id FROM
    (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
            unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS p
     FROM documents) a
    JOIN
    (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
            unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS p
     FROM documents) b
    ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = '{t1}' AND b.term = '{t2}')"""


def _ann_lsh_sql(n_planes: int, dim: int, probe_hamming: int, k: int) -> str:
    """Oracle for the LSH-indexed ANN top-k: same md5-derived planes,
    candidate set = signatures within ``probe_hamming`` bits of the
    query vector's signature, exact cosine on candidates."""
    from bright_spark.vectors.similarity import _hyperplane
    sig_terms = []
    for j in range(n_planes):
        coeffs = ", ".join(repr(_hyperplane(j, d)) for d in range(dim))
        sig_terms.append(
            f"(CASE WHEN list_dot_product(e, [{coeffs}]) >= 0 "
            f"THEN {1 << j} ELSE 0 END)")
    sig_expr = " + ".join(sig_terms)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sig AS (SELECT vec_id, e, {sig_expr} AS sig FROM v),
q AS (SELECT e AS qv, sig AS qsig FROM sig WHERE vec_id = 0),
cand AS (SELECT s.vec_id, s.e, q.qv FROM sig s, q
         WHERE bit_count(xor(s.sig, q.qsig)) <= {probe_hamming}),
c AS (SELECT vec_id,
             list_dot_product(e, qv)
               / (sqrt(list_dot_product(e, e))
                  * sqrt(list_dot_product(qv, qv))) AS cos
      FROM cand)
SELECT vec_id, round(cos, 4) AS cosine FROM c
ORDER BY round(cos, 4) DESC, vec_id LIMIT {k}"""


def _lang_marker_values() -> str:
    rows = [(lang, kw) for lang, kws in sorted(_LANG_MARKERS.items())
            for kw in sorted(kws)]
    return ", ".join(f"('{l}', '{t}')" for l, t in rows)


def _near_dup_cosine_sql(threshold: float, n_planes: int, dim: int) -> str:
    """The LSH bucket assignment is deterministic (md5-derived planes),
    so the oracle recomputes the identical buckets from the same plane
    constants inlined as literals."""
    from bright_spark.vectors.similarity import _hyperplane
    sig_terms = []
    for j in range(n_planes):
        coeffs = ", ".join(repr(_hyperplane(j, d)) for d in range(dim))
        sig_terms.append(
            f"(CASE WHEN list_dot_product(e, [{coeffs}]) >= 0 "
            f"THEN {1 << j} ELSE 0 END)")
    sig_expr = " + ".join(sig_terms)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sig AS (SELECT vec_id, e, {sig_expr} AS sig FROM v),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))) AS cos
      FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cos, 4) AS cosine FROM p WHERE cos >= {threshold}"""


def _ann_dup_clusters_sql(threshold: float, n_planes: int, dim: int) -> str:
    """Near-dup cosine pairs (same inlined plane constants as
    :func:`_near_dup_cosine_sql`) -> recursive min-label connected
    components over the pair graph, keyed by vec_id."""
    from bright_spark.vectors.similarity import _hyperplane
    sig_terms = []
    for j in range(n_planes):
        coeffs = ", ".join(repr(_hyperplane(j, d)) for d in range(dim))
        sig_terms.append(
            f"(CASE WHEN list_dot_product(e, [{coeffs}]) >= 0 "
            f"THEN {1 << j} ELSE 0 END)")
    sig_expr = " + ".join(sig_terms)
    return f"""
WITH RECURSIVE
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sig AS (SELECT vec_id, e, {sig_expr} AS sig FROM v),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))) >= {threshold}),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION SELECT id_b, id_a FROM p),
r(id, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.id)
SELECT id AS vec_id, min(lbl) AS cluster_id FROM r GROUP BY id"""


def oracle_sql() -> dict[str, str]:
    sql = {
        "ft_bm25_single": _bm25_sql("tf.term IN ('spark')"),
        "ft_bm25_multi_or": _bm25_sql("tf.term IN ('spark', 'join')"),
        "ft_bm25_and": _bm25_sql("tf.term IN ('spark', 'join')",
                                 having="HAVING count(DISTINCT tf.term) = 2"),
        "ft_bm25_not": _bm25_sql(
            "tf.term IN ('spark') AND tf.doc_id NOT IN "
            "(SELECT doc_id FROM tf t2 WHERE t2.term = 'join')"),
        "ft_bm25_filter_lang": _bm25_sql(
            "tf.term IN ('spark') AND d.lang = 'en'",
            score_join="JOIN documents d ON d.doc_id = tf.doc_id"),
        "ft_bm25_range": _bm25_sql(
            "tf.term IN ('spark') AND d.n_chars > 300",
            score_join="JOIN documents d ON d.doc_id = tf.doc_id"),
        "ft_date_range": _bm25_sql(
            "tf.term IN ('spark') AND "
            "(DATE '2020-01-01' + (d.doc_id % 365)::INT) "
            "BETWEEN DATE '2020-02-01' AND DATE '2020-03-15'",
            score_join="JOIN documents d ON d.doc_id = tf.doc_id"),
        "ft_wildcard": _bm25_sql("tf.term LIKE 'sp%'"),
        "ft_fuzzy": _bm25_sql(
            "length(tf.term) BETWEEN 4 AND 6 AND levenshtein(tf.term, 'spark') <= 1"),
        "ft_boost": _bm25_sql(
            "tf.term IN ('spark', 'join')",
            boost="CASE WHEN tf.term = 'spark' THEN 2.0 ELSE 1.0 END"),
        "ft_phrase": _bm25_sql(
            "tf.term IN ('the', 'fast')",
            final_join=f"JOIN {_adj_sql('the', 'fast')} adj "
                       f"ON adj.doc_id = s.doc_id"),
        "ft_phrase_not": _bm25_sql(
            "tf.term IN ('spark')",
            final_join=f"LEFT JOIN {_adj_sql('the', 'fast')} adj "
                       f"ON adj.doc_id = s.doc_id WHERE adj.doc_id IS NULL"),
        "ft_field_scoped": f"""{_BM25_CTE},
stoks AS (
  SELECT doc_id, unnest(string_split(lower(source), ' ')) AS term FROM documents),
stf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM stoks GROUP BY 1, 2),
sdl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM stoks GROUP BY 1),
smeta AS (SELECT (SELECT count(*) FROM stoks)::DOUBLE
                 / (SELECT count(*) FROM documents) AS savgdl),
sdfreq AS (SELECT term, count(*)::DOUBLE AS sdf FROM stf GROUP BY 1),
cpart AS (
  SELECT tf.doc_id, sum({_score()}) AS s
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN meta
  WHERE tf.term IN ('spark')
  GROUP BY tf.doc_id),
spart AS (
  SELECT stf.doc_id,
         sum(ln(1 + (n - sdf + 0.5) / (sdf + 0.5))
             * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / savgdl))) AS s
  FROM stf JOIN sdl USING (doc_id) JOIN sdfreq USING (term)
       CROSS JOIN meta CROSS JOIN smeta
  WHERE stf.term IN ('src3')
  GROUP BY stf.doc_id),
u AS (SELECT doc_id, sum(s) AS s FROM
      (SELECT * FROM cpart UNION ALL SELECT * FROM spart) GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score FROM u
ORDER BY round(s, 6) DESC, doc_id LIMIT 10""",
        "ft_mutate_bm25": f"""WITH {_MUT_DOCS_CTE},
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM docs_m),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
meta AS (SELECT (SELECT count(*) FROM docs_m)::DOUBLE AS n,
                (SELECT count(*) FROM toks)::DOUBLE
                  / (SELECT count(*) FROM docs_m) AS avgdl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scores AS (
  SELECT tf.doc_id, sum({_score()}) AS s
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN meta
  WHERE tf.term IN ('spark')
  GROUP BY tf.doc_id)
SELECT s.doc_id, round(s.s, 6) AS score
FROM scores s
ORDER BY round(s.s, 6) DESC, s.doc_id
LIMIT 10""",
        "ft_mutate_corpus_stats": f"""WITH {_MUT_DOCS_CTE},
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM docs_m)
SELECT (SELECT count(*) FROM docs_m)::BIGINT AS n_docs,
       (SELECT count(*) FROM toks)::BIGINT AS total_tokens,
       round((SELECT count(*) FROM toks)::DOUBLE
             / (SELECT count(*) FROM docs_m), 6) AS avgdl""",
        "ft_mutate_doc_lookup": f"""WITH {_MUT_DOCS_CTE}
SELECT doc_id, lang, source, n_chars::BIGINT AS n_chars, text
FROM docs_m WHERE doc_id IN (5, 74, 11, 1000001)""",
        "ft_term_stats": f"""{_BM25_CTE}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf WHERE term LIKE 'b%' GROUP BY term""",
        "ft_corpus_stats": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(*) FROM toks)::BIGINT AS total_tokens,
       round((SELECT count(*) FROM toks)::DOUBLE
             / (SELECT count(*) FROM documents), 6) AS avgdl""",
        "ft_posting_list": f"""{_BM25_CTE}
SELECT tf.doc_id, tf::BIGINT AS tf, dl::BIGINT AS dl
FROM tf JOIN dl USING (doc_id) WHERE tf.term = 'spark'""",
        "ft_doc_lookup": """
SELECT doc_id, lang, source, n_chars::BIGINT AS n_chars, text
FROM documents WHERE doc_id IN (1, 5, 10, 11)""",
        "ft_match_all_page": """
SELECT doc_id, lang, n_chars::BIGINT AS n_chars
FROM documents ORDER BY doc_id LIMIT 10 OFFSET 20""",

        "ft_store_search": f'''{_BM25_CTE},
scores AS (
  SELECT tf.doc_id, sum({_score()}) AS s
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN meta
  WHERE tf.term IN ('spark', 'join')
  GROUP BY tf.doc_id)
SELECT s.doc_id, round(s.s, 6) AS score, d.lang AS lang
FROM scores s JOIN documents d USING (doc_id)
ORDER BY round(s.s, 6) DESC, s.doc_id
LIMIT 10''',
        "ft_store_excluded_field": _bm25_sql("tf.term IN ('spark')"),
        "ft_sort_field": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
SELECT d.doc_id, d.n_chars::BIGINT AS n_chars
FROM documents d
WHERE EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'spark')
ORDER BY d.n_chars DESC, d.doc_id LIMIT 10""",
        "dedup_exact": """
WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
g AS (SELECT content_hash, min(doc_id) AS canonical_id,
             count(*)::BIGINT AS group_size
      FROM h GROUP BY 1)
SELECT h.doc_id, h.content_hash, g.canonical_id, g.group_size
FROM h JOIN g USING (content_hash)""",
        "dedup_minhash_lsh": f"""WITH {_MINHASH_PAIR_CTES}
SELECT id_a, id_b, round(jac, 6) AS jaccard FROM ver""",
        "dedup_ngram_jaccard": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
       FROM t, unnest(range(1, len(t) - 1)) AS r(i)),
rare AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING count(*) BETWEEN 2 AND 50),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN rare USING (shingle)
          JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
cnt AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (SELECT p.id_a, p.id_b, count(*)::BIGINT AS i
          FROM pairs p JOIN sh a ON a.doc_id = p.id_a
          JOIN sh b ON b.doc_id = p.id_b AND a.shingle = b.shingle
          GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       round(i.i::DOUBLE / (ca.n + cb.n - i.i), 6) AS jaccard
FROM inter i JOIN cnt ca ON ca.doc_id = i.id_a
             JOIN cnt cb ON cb.doc_id = i.id_b
WHERE i.i::DOUBLE / (ca.n + cb.n - i.i) >= 0.5""",
        "text_decontaminate_fuzzy": """
WITH base AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
              FROM documents),
corpus AS (
  SELECT doc_id, t FROM base WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 7000000,
         t[1:greatest(1, ceil(len(t) * 0.6)::INT)]
  FROM base WHERE doc_id % 97 = 0 AND doc_id % 3 = 0),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
       FROM corpus, unnest(range(1, len(t) - 1)) AS r(i)),
psh AS (SELECT DISTINCT doc_id AS probe_id,
               array_to_string(t[i:i+2], ' ') AS shingle
        FROM base, unnest(range(1, len(t) - 1)) AS r(i)
        WHERE doc_id % 97 = 0),
tot AS (SELECT probe_id, count(*)::BIGINT AS probe_ngrams FROM psh GROUP BY 1),
hits AS (SELECT s.doc_id, p.probe_id, count(*)::BIGINT AS probe_hits
         FROM sh s JOIN psh p USING (shingle) GROUP BY 1, 2)
SELECT h.doc_id, h.probe_id, h.probe_hits, t.probe_ngrams,
       round(h.probe_hits::DOUBLE / t.probe_ngrams, 6) AS containment
FROM hits h JOIN tot t USING (probe_id)
WHERE h.probe_hits::DOUBLE / t.probe_ngrams >= 0.2""",
        "dedup_clusters": f"""WITH RECURSIVE {_MINHASH_PAIR_CTES},
e AS (SELECT id_a AS src, id_b AS dst FROM ver
      UNION SELECT id_b, id_a FROM ver),
r(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.id)
SELECT id AS doc_id, min(lbl) AS cluster_id FROM r GROUP BY id""",
        "dedup_simhash": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 8))::BIGINT AS h FROM tf),
bits AS (SELECT doc_id, tf, h, unnest(range(0, 32)) AS bit FROM h),
c AS (SELECT doc_id, bit,
             sum(CASE WHEN (h >> bit) % 2 = 1 THEN tf ELSE -tf END) AS s
      FROM bits GROUP BY 1, 2)
SELECT doc_id,
       sum(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM c GROUP BY doc_id""",
        "dedup_simhash64": f"""{_SIMHASH64_CTE}
SELECT doc_id, hi AS simhash_hi, lo AS simhash_lo FROM sg""",
        "dedup_simhash_pairs": f"""{_SIMHASH64_CTE},
bands AS (SELECT doc_id, lo, hi, b.band,
                 CASE WHEN b.band = 0 THEN lo & 65535
                      WHEN b.band = 1 THEN (lo >> 16) & 65535
                      WHEN b.band = 2 THEN hi & 65535
                      ELSE (hi >> 16) & 65535 END AS key
          FROM sg, (VALUES (0), (1), (2), (3)) b(band)),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
          FROM bands a JOIN bands b USING (band, key)
          WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b,
       (bit_count(xor(la, lb)) + bit_count(xor(ha, hb)))::BIGINT AS hamming
FROM pairs
WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3""",
        "dedup_cross": """
WITH ref AS (SELECT DISTINCT md5(text) AS content_hash FROM documents
             WHERE doc_id % 53 = 0),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 53 <> 0
  UNION ALL
  SELECT doc_id + 5000000, text FROM documents
  WHERE doc_id % 53 = 0 AND doc_id % 3 = 0)
SELECT c.doc_id, md5(c.text) AS content_hash
FROM corpus c
WHERE md5(c.text) IN (SELECT content_hash FROM ref)""",
        "text_split": ("SELECT doc_id, "
                       + __import__("bright_spark.text.sampling",
                                    fromlist=["split_sql"]).split_sql(
                             "doc_id", _SPLIT_WEIGHTS)
                       + " AS split FROM documents"),
        "text_pack": """
WITH b AS (
  SELECT doc_id,
         ((('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000) % 8)::BIGINT AS shard,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split(lower(trim(text)), ' ')) END)::BIGINT AS n_tokens
  FROM documents),
s AS (SELECT doc_id, shard, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS start_offset
      FROM b)
SELECT doc_id, shard, start_offset, n_tokens,
       (start_offset // 256)::BIGINT AS bin_first,
       ((start_offset + greatest(n_tokens - 1, 0)) // 256)::BIGINT AS bin_last,
       ((start_offset + greatest(n_tokens - 1, 0)) // 256
        - start_offset // 256 + 1)::BIGINT AS n_chunks
FROM s""",
        "text_sample": """
SELECT doc_id FROM documents
WHERE (('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       % 1000000) < 250000""",
        "text_stratified": """
SELECT doc_id, lang FROM documents
WHERE (('0x' || substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       % 1000000)
      < (CASE lang WHEN 'de' THEN 1.0 WHEN 'en' THEN 0.5
         ELSE 0.3 END * 1000000)::BIGINT""",
        "text_decontaminate": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
       FROM t, unnest(range(1, len(t) - 1)) AS r(i)),
probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
SELECT s.doc_id, count(*)::BIGINT AS n_hits, min(s.shingle) AS first_ngram
FROM sh s JOIN probe USING (shingle)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id""",
        "text_lm_perplexity": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
e AS (SELECT doc_id, unnest(t) AS term FROM t),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM e GROUP BY 1, 2),
vocab AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1),
tot AS (SELECT sum(cf)::DOUBLE AS total, count(*)::BIGINT AS vsize FROM vocab),
sc AS (SELECT f.doc_id,
              -sum(f.tf * ln((v.cf + 0.5) / (tot.total + 0.5 * tot.vsize)))
                / sum(f.tf) AS h,
              sum(f.tf)::BIGINT AS n
       FROM tf f JOIN vocab v USING (term), tot GROUP BY 1)
SELECT doc_id, n AS n_tokens, round(h, 6) AS cross_entropy,
       round(exp(h), 4) AS perplexity
FROM sc""",
        "text_lm_bigram": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
seq AS (SELECT doc_id, t[i] AS term,
               CASE WHEN i > 1 THEN t[i - 1] END AS prev
        FROM t, unnest(range(1, len(t) + 1)) AS r(i)),
uni AS (SELECT term, count(*)::BIGINT AS cf FROM seq GROUP BY 1),
tot AS (SELECT sum(cf)::DOUBLE AS total, count(*)::BIGINT AS vsize FROM uni),
bi AS (SELECT prev, term, count(*)::DOUBLE AS bcf FROM seq
       WHERE prev IS NOT NULL GROUP BY 1, 2),
ctx AS (SELECT prev, sum(bcf)::DOUBLE AS ccf FROM bi GROUP BY 1),
sc AS (SELECT s.doc_id,
              -sum(ln(CASE WHEN s.prev IS NULL
                      THEN (u.cf + 0.5) / (tot.total + 0.5 * tot.vsize)
                      ELSE 0.5 * coalesce(b.bcf / c.ccf, 0)
                           + 0.5 * (u.cf + 0.5)
                                 / (tot.total + 0.5 * tot.vsize) END))
                / count(*) AS h,
              count(*)::BIGINT AS n
       FROM seq s
       JOIN uni u USING (term)
       LEFT JOIN bi b ON b.prev = s.prev AND b.term = s.term
       LEFT JOIN ctx c ON c.prev = s.prev
       CROSS JOIN tot
       GROUP BY 1)
SELECT doc_id, n AS n_tokens, round(h, 6) AS cross_entropy,
       round(exp(h), 4) AS perplexity
FROM sc""",
        "text_vocabulary": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
e AS (SELECT doc_id, unnest(t) AS term FROM t),
v AS (SELECT term, count(*)::BIGINT AS cf,
             count(DISTINCT doc_id)::BIGINT AS df
      FROM e GROUP BY 1)
SELECT term, cf, df,
       row_number() OVER (ORDER BY cf DESC, term ASC)::BIGINT AS rank
FROM v""",
        "text_bpe_tokens": r"""
SELECT doc_id,
       coalesce(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+')), 0)::BIGINT AS n_pretokens,
       coalesce(len(regexp_extract_all(text, ' ?[a-zA-Z]+')), 0)::BIGINT AS n_word_pretokens
FROM documents""",
        "text_token_stats": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
e AS (SELECT doc_id, unnest(t) AS term FROM t)
SELECT t.doc_id,
       len(t.t)::BIGINT AS n_tokens,
       (SELECT count(DISTINCT term) FROM e WHERE e.doc_id = t.doc_id)::BIGINT AS n_distinct,
       round((SELECT count(DISTINCT term) FROM e WHERE e.doc_id = t.doc_id)::DOUBLE
             / len(t.t), 6) AS distinct_ratio,
       round((SELECT sum(length(term)) FROM e WHERE e.doc_id = t.doc_id)::DOUBLE
             / len(t.t), 6) AS avg_token_len,
       (SELECT max(length(term)) FROM e WHERE e.doc_id = t.doc_id)::BIGINT AS max_token_len
FROM t""",
        "text_quality": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
e AS (SELECT doc_id, unnest(t) AS term FROM t),
st AS (SELECT doc_id,
              count(*)::BIGINT AS n_tokens,
              count(DISTINCT term)::DOUBLE / count(*) AS distinct_ratio,
              sum(length(term))::DOUBLE / count(*) AS avg_token_len,
              sum(CASE WHEN term IN ('the','a','an','and','or','of','to','in','is',
                                     'it','on','for','with','as','at','by','from',
                                     'that','this','be','are') THEN 1 ELSE 0 END)::DOUBLE
                / count(*) AS stopword_ratio
       FROM e GROUP BY doc_id)
SELECT doc_id,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(0.4 * least(n_tokens::DOUBLE / 256.0, 1.0)
             + 0.4 * distinct_ratio
             + 0.2 * (CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 10.0
                           THEN 1.0 ELSE 0.5 END), 6) AS quality_score
FROM st""",
        "text_redact": _redact_sql(),
        "text_repetition": """
WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
       FROM t, unnest(range(1, len(t) - 1)) r(i) WHERE len(t) >= 3),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_ngrams,
               count(DISTINCT s)::BIGINT AS n_distinct FROM sh GROUP BY 1)
SELECT d.doc_id,
       coalesce(a.n_ngrams, 1)::BIGINT AS n_ngrams,
       coalesce(a.n_distinct, 1)::BIGINT AS n_distinct,
       round(1 - coalesce(a.n_distinct, 1)::DOUBLE
             / coalesce(a.n_ngrams, 1), 6) AS repetition_ratio
FROM documents d LEFT JOIN agg a USING (doc_id)""",
        "text_fingerprint": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term FROM documents)
SELECT doc_id, md5(string_agg(DISTINCT term, ' ' ORDER BY term)) AS fingerprint
FROM toks GROUP BY doc_id""",
        "dedup_paragraphs": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
p AS (SELECT doc_id, i - 1 AS idx, parts[i] AS para
      FROM t, unnest(range(1, len(parts) + 1)) AS r(i)),
w AS (SELECT doc_id, idx, para,
             row_number() OVER (PARTITION BY para
                                ORDER BY doc_id, idx) AS rn,
             count(*) OVER (PARTITION BY para) AS c
      FROM p WHERE length(para) >= 1),
kept AS (SELECT doc_id, idx, para FROM w WHERE c < 2 OR rn = 1
         UNION ALL
         SELECT doc_id, idx, para FROM p WHERE length(para) < 1),
agg AS (SELECT doc_id, string_agg(para, ' ' ORDER BY idx) AS text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(a.text, '') AS text,
       len(t.parts)::BIGINT AS n_paragraphs,
       (len(t.parts) - coalesce(a.n_kept, 0))::BIGINT AS n_removed
FROM t LEFT JOIN agg a USING (doc_id)""",
        "text_lang_profile": """
WITH t AS (SELECT lang, len(string_split(lower(trim(text)), ' '))::BIGINT AS n_tokens,
                  length(text)::BIGINT AS n_chars
           FROM documents)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       round(avg(n_chars), 6) AS avg_chars
FROM t GROUP BY lang""",
        "text_lang_id": f"""
WITH m(m_lang, term) AS (VALUES {_lang_marker_values()}),
toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term FROM documents),
sc AS (SELECT t.doc_id, m.m_lang, count(*)::BIGINT AS n
       FROM toks t JOIN m USING (term) GROUP BY 1, 2),
pick AS (SELECT doc_id, m_lang, n,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n DESC, m_lang ASC) AS rn
         FROM sc)
SELECT d.doc_id,
       coalesce(p.m_lang, 'unknown') AS lang_pred,
       coalesce(p.n, 0)::BIGINT AS marker_hits
FROM documents d LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p USING (doc_id)""",
        "media_frame_sample": """
WITH m AS (SELECT doc_id AS media_id,
                  (500 + (doc_id * 37) % 9500)::BIGINT AS duration_ms
           FROM documents)
SELECT media_id, i::BIGINT AS frame_idx, (i * 700)::BIGINT AS ts_ms
FROM m, unnest(range(0, greatest((duration_ms - 1) // 700, 0) + 1)) r(i)""",
        "ann_dup_clusters": _ann_dup_clusters_sql(threshold=0.3, n_planes=6,
                                                  dim=64),
        "ann_near_dup_cosine": _near_dup_cosine_sql(threshold=0.3, n_planes=6,
                                                    dim=64),
        "ann_lsh_topk": _ann_lsh_sql(n_planes=6, dim=64, probe_hamming=2,
                                     k=10),
        "ann_cosine_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))) AS cos
      FROM embeddings, q
      WHERE vec_id <> 0)
SELECT vec_id, round(cos, 4) AS cosine
FROM c ORDER BY round(cos, 4) DESC, vec_id LIMIT 20""",
        "ann_ivf_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
l AS (SELECT vec_id AS lid, embedding::DOUBLE[] AS lv FROM embeddings
      ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
asg AS (SELECT e.vec_id, l.lid,
        row_number() OVER (PARTITION BY e.vec_id ORDER BY
          round(list_dot_product(e.embedding::DOUBLE[], l.lv)
            / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
               * sqrt(list_dot_product(l.lv, l.lv))), 6) DESC, l.lid) AS rn
        FROM embeddings e CROSS JOIN l),
member AS (SELECT vec_id, lid FROM asg WHERE rn = 1),
probe AS (SELECT lid FROM l, q ORDER BY
          round(list_dot_product(l.lv, qv)
            / (sqrt(list_dot_product(l.lv, l.lv))
               * sqrt(list_dot_product(qv, qv))), 6) DESC, lid
          LIMIT 4),
c AS (SELECT e.vec_id,
             list_dot_product(e.embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))) AS cos
      FROM embeddings e
      JOIN member m ON m.vec_id = e.vec_id
      JOIN probe p ON p.lid = m.lid, q
      WHERE e.vec_id <> 0)
SELECT vec_id, round(cos, 4) AS cosine
FROM c ORDER BY round(cos, 4) DESC, vec_id LIMIT 10""",
    }
    return sql
