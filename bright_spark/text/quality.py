"""Text-analysis operators for training-data pipelines: token stats,
quality scoring, document fingerprinting, language-ID heuristic.

All built-in ``pyspark.sql.functions`` (JVM-side, WSCG-friendly) except
nothing — there are no UDFs here at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bright_spark.analysis.tokenizer import LANG_STOPWORDS
from bright_spark.text.dedup import fan_out, tokens_col

# small English stopword list for quality ratios (deterministic const)
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on",
    "for", "with", "as", "at", "by", "from", "that", "this", "be", "are",
]


# BPE-style pre-tokenizer pattern (GPT-2-family shape, simplified to
# the RE2-compatible subset so DuckDB oracles run the IDENTICAL regex:
# no lookahead): a leading-space word, a leading-space number run, a
# leading-space punctuation run, or a whitespace run.
BPE_PRETOKEN_RE = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def bpe_token_stats(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-doc BPE-ish pre-token count — the cheap LLM-token-budget
    estimator (actual BPE merges only split pre-tokens further, so this
    lower-bounds and tracks the real token count). All-JVM:
    (doc_id, n_pretokens, n_word_pretokens)."""
    toks = F.expr(f"regexp_extract_all({text_col}, '{BPE_PRETOKEN_RE}', 0)")
    words = F.expr(
        f"regexp_extract_all({text_col}, ' ?[a-zA-Z]+', 0)")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.size(toks), F.lit(0)).cast("bigint").alias("n_pretokens"),
        F.coalesce(F.size(words), F.lit(0)).cast("bigint")
        .alias("n_word_pretokens"))


def token_stats(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-doc token counting: n_tokens, n_distinct, distinct_ratio,
    avg/max token length."""
    toks = fan_out(df).select(F.col(id_col).alias("doc_id"),
                              tokens_col(text_col).alias("toks"))
    return toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        (F.size(F.array_distinct("toks")).cast("double")
         / F.size("toks")).alias("distinct_ratio"),
        (F.aggregate(F.transform("toks", lambda t: F.length(t)),
                     F.lit(0).cast("bigint"),
                     lambda acc, x: acc + x).cast("double")
         / F.size("toks")).alias("avg_token_len"),
        F.array_max(F.transform("toks", lambda t: F.length(t))).alias("max_token_len"),
    )


def quality_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]:
    length factor (saturating at 256 tokens), lexical diversity,
    stopword ratio, mean word length band. Deterministic, engine-
    portable arithmetic (no UDF)."""
    stats = token_stats(df, id_col, text_col)
    toks = fan_out(df).select(F.col(id_col).alias("doc_id"),
                              F.explode(tokens_col(text_col)).alias("term"))
    stop = (toks.groupBy("doc_id")
            .agg((F.sum(F.when(F.col("term").isin(EN_STOPWORDS), 1).otherwise(0))
                  .cast("double") / F.count("*")).alias("stopword_ratio")))
    j = stats.join(stop, "doc_id")
    length_factor = F.least(F.col("n_tokens").cast("double") / 256.0, F.lit(1.0))
    wordlen_ok = F.when((F.col("avg_token_len") >= 3.0)
                        & (F.col("avg_token_len") <= 10.0), 1.0).otherwise(0.5)
    score = (0.4 * length_factor + 0.4 * F.col("distinct_ratio")
             + 0.2 * wordlen_ok)
    return j.select("doc_id", "n_tokens", "distinct_ratio", "stopword_ratio",
                    "avg_token_len", score.alias("quality_score"))


def repetition_profile(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3) -> DataFrame:
    """Repeated-k-gram ratio — the boilerplate/spam/templating signal
    pre-training filters threshold on (e.g. Gopher/MassiveText rules):
    ``repetition_ratio = 1 - distinct_kgrams / total_kgrams``. Docs
    shorter than ``k`` tokens count as a single whole-doc gram
    (ratio 0). All-JVM array expressions — one narrow map, no
    shuffle."""
    toks = tokens_col(text_col)
    grams = F.when(
        F.size(toks) >= k,
        F.transform(F.sequence(F.lit(0), F.size(toks) - k),
                    lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    ).otherwise(F.array(F.array_join(toks, " ")))
    out = df.select(F.col(id_col).alias("doc_id"), grams.alias("g"))
    total = F.size("g").cast("bigint")
    distinct = F.size(F.array_distinct("g")).cast("bigint")
    return out.select(
        "doc_id", total.alias("n_ngrams"), distinct.alias("n_distinct"),
        (1.0 - distinct.cast("double") / total).alias("repetition_ratio"))


def fingerprints(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set —
    an order-insensitive content signature (bag-of-words identity)."""
    toks = fan_out(df).select(F.col(id_col).alias("doc_id"),
                              tokens_col(text_col).alias("toks"))
    return toks.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct("toks")), " "))
         .alias("fingerprint"))


def lang_profile(df: DataFrame, lang_col: str = "lang",
                 text_col: str = "text") -> DataFrame:
    """Per-language corpus profile."""
    toks = df.select(F.col(lang_col).alias("lang"),
                     F.size(tokens_col(text_col)).alias("n_tokens"),
                     F.length(text_col).alias("n_chars"))
    return (toks.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.avg("n_chars").alias("avg_chars")))


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                markers: dict[str, frozenset[str]] | None = None) -> DataFrame:
    """Keyword-marker language ID (n-gram-heuristic class): predicted
    lang = argmax over marker sets of matched-token count, ties broken
    lexicographically, 'unknown' when nothing matches. Default markers
    are the per-language keyword sets of the code tokenizer."""
    markers = markers or LANG_STOPWORDS
    rows = [(lang, kw) for lang, kws in sorted(markers.items()) for kw in sorted(kws)]
    spark = df.sparkSession
    mdf = spark.createDataFrame(rows, "m_lang STRING, term STRING")
    toks = fan_out(df).select(F.col(id_col).alias("doc_id"),
                              F.explode(tokens_col(text_col)).alias("term"))
    scored = (toks.join(F.broadcast(mdf), "term")
              .groupBy("doc_id", "m_lang").agg(F.count("*").alias("n")))
    # argmax via min(struct(-n, m_lang)): identical pick to the old
    # row_number window (n desc, m_lang asc tiebreak) but a map-side-
    # combinable hash aggregate — no per-doc sort, one less Sort node
    best = F.min(F.struct((-F.col("n")).alias("negn"),
                          F.col("m_lang").alias("m_lang"),
                          F.col("n").alias("n"))).alias("w")
    picked = (scored.groupBy("doc_id").agg(best)
              .select("doc_id", F.col("w.m_lang").alias("lang_pred"),
                      F.col("w.n").alias("marker_hits")))
    all_ids = df.select(F.col(id_col).alias("doc_id"))
    return (all_ids.join(picked, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("lang_pred", F.lit("unknown")).alias("lang_pred"),
                    F.coalesce("marker_hits", F.lit(0)).alias("marker_hits")))


def lm_perplexity(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  k_smooth: float = 0.5) -> DataFrame:
    """Corpus-self-trained unigram-LM quality score — the CCNet-style
    perplexity filter with the LM estimated from the corpus itself
    (CCNet proper uses a 5-gram KenLM trained on Wikipedia; the
    sandbox has no kenlm, and the unigram-over-own-corpus variant is
    the same signal class: boilerplate and natural prose score LOW
    perplexity, junk/garbled/off-distribution docs score HIGH).

    Per doc: cross_entropy = -(1/n) * sum_t tf(t) * ln p(t) over the
    add-k-smoothed corpus unigram distribution
    p(t) = (cf(t) + k) / (total + k*|V|); perplexity = exp(H).

    100 TB shape: one token explode -> term-grouped vocab (map-side
    combinable — cf is just the occurrence count, so no intermediate
    (doc, term) tf shuffle exists at all); scoring joins the exploded
    tokens against the vocab on term (AQE broadcasts a small model,
    shuffles a 10^12-doc code corpus's) and aggregates per doc:
    Σ_occurrences ln p == Σ_distinct-terms tf·ln p, so the result is
    the same quantity with one full shuffle fewer. The vocab frame is
    localCheckpointed so the totals aggregate and the scoring join
    share ONE materialization; the only collect is two scalars."""
    toks = fan_out(df).select(F.col(id_col).alias("doc_id"),
                              F.explode(tokens_col(text_col)).alias("term"))
    vocab = (toks.groupBy("term").agg(F.count("*").alias("cf"))
             .localCheckpoint(eager=False))
    tot = vocab.agg(F.sum("cf").alias("total"),
                    F.count("*").alias("vsize")).collect()[0]
    total, vsize = int(tot["total"]), int(tot["vsize"])
    logp = F.log((F.col("cf") + F.lit(float(k_smooth)))
                 / F.lit(float(total) + float(k_smooth) * vsize))
    per_doc = (toks.join(vocab, "term")
               .groupBy("doc_id")
               .agg((-F.sum(logp) / F.count("*")).alias("cross_entropy"),
                    F.count("*").alias("n_tokens")))
    return per_doc.select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("cross_entropy").alias("cross_entropy"),
        F.exp("cross_entropy").alias("perplexity"))


def lm_perplexity_bigram(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", lam: float = 0.5,
                         k_smooth: float = 0.5) -> DataFrame:
    """Interpolated-bigram LM perplexity (Jelinek-Mercer smoothing) —
    the stronger sibling of :func:`lm_perplexity` (CCNet uses 5-gram
    KenLM; a bigram captures local word order the unigram filter is
    blind to, so shuffled/garbled text that fools the unigram scores
    HIGH here):

        p(t_i | t_{i-1}) = lam * c(t_{i-1}, t_i) / c(t_{i-1}, .)
                         + (1 - lam) * p_uni(t_i)

    with the add-k unigram ``p_uni`` from lm_perplexity; each doc's
    first token (no context) scores unigram-only. Per doc:
    cross_entropy = -(1/n) * sum_i ln p(t_i | t_{i-1}),
    perplexity = exp(H). ``lam`` defaults to 0.5 (exactly binary-
    representable, so 1-lam is too — keeps SQL-oracle float parity).

    100 TB shape: the (prev, term) sequence derives from PURE array
    expressions (shifted-array zip) — no per-doc window, no extra
    shuffle; counts are map-side-combinable groupBys; the scoring
    joins key on term / (prev, term), letting AQE broadcast small
    models and shuffle big ones; both model frames localCheckpoint so
    counting and scoring share one materialization; the only collect
    is two scalars."""
    toks = fan_out(df).select(F.col(id_col).alias("doc_id"),
                              tokens_col(text_col).alias("t"))
    # prev[i] = t[i-1], prev[0] = NULL — a shifted copy, all JVM-side
    toks = toks.withColumn(
        "p", F.concat(F.array(F.lit(None).cast("string")),
                      F.expr("slice(t, 1, greatest(size(t) - 1, 0))")))
    seq = toks.select(
        "doc_id", F.explode(F.arrays_zip("t", "p")).alias("z")
    ).select("doc_id", F.col("z.t").alias("term"),
             F.col("z.p").alias("prev"))
    bi = (seq.filter(F.col("prev").isNotNull())
          .groupBy("prev", "term").agg(F.count("*").alias("bcf"))
          .localCheckpoint(eager=False))
    # unigram counts derive EXACTLY from the bigram model plus the
    # per-doc first tokens: cf(t) = Σ_prev bcf(prev, t)  (occurrences
    # at positions >= 2)  +  #docs whose first token is t. Integer
    # arithmetic, identical cf/total/vsize — and it drops one full
    # corpus tokenize+explode pass (seq was consumed three times: uni,
    # bi, scoring; now the uni model aggregates the already-tiny bi
    # frame and a one-row-per-doc first-token frame instead).
    firsts = (toks.select(F.element_at("t", 1).alias("term"))
              .filter(F.col("term").isNotNull())
              .groupBy("term").agg(F.count("*").alias("cf")))
    uni = (bi.groupBy("term").agg(F.sum("bcf").alias("cf"))
           .unionByName(firsts)
           .groupBy("term").agg(F.sum("cf").cast("bigint").alias("cf"))
           .localCheckpoint(eager=False))
    tot = uni.agg(F.sum("cf").alias("total"),
                  F.count("*").alias("vsize")).collect()[0]
    total, vsize = int(tot["total"]), int(tot["vsize"])
    ctx = bi.groupBy("prev").agg(F.sum("bcf").alias("ccf"))
    scored = (seq.join(uni, "term")
              .join(bi, ["prev", "term"], "left")
              .join(ctx, "prev", "left"))
    p_uni = ((F.col("cf") + F.lit(float(k_smooth)))
             / F.lit(float(total) + float(k_smooth) * vsize))
    p_bi = F.coalesce(F.col("bcf").cast("double") / F.col("ccf"),
                      F.lit(0.0))
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni)
    per_doc = (scored.groupBy("doc_id")
               .agg((-F.sum(F.log(p)) / F.count("*"))
                    .alias("cross_entropy"),
                    F.count("*").alias("n_tokens")))
    return per_doc.select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("cross_entropy").alias("cross_entropy"),
        F.exp("cross_entropy").alias("perplexity"))


def vocabulary(df: DataFrame, text_col: str = "text", min_count: int = 1,
               _materialize: bool = True) -> DataFrame:
    """Corpus vocabulary artifact — (term, cf, df, rank): collection
    frequency, document frequency, and frequency rank (cf desc, term
    asc tie-break). The standard input to tokenizer/BPE training,
    stopword derivation, and OOV analysis.

    100 TB shape: an Arrow kernel reduces each PARTITION of token
    arrays to exact (term, cf_partial, df_partial) rows — every doc
    lives in exactly one partition, so per-partition doc counts sum
    to the exact df; ``countDistinct(doc_id)`` in contrast cannot
    partial-aggregate and shuffled one Expand row per (term, doc)
    pair (measured 1.16M partial rows for a 50k-doc corpus where the
    kernel ships |V| x partitions). An oversized per-task vocabulary
    flushes at 2M entries (doc boundaries only, so the flushed
    partials still sum exactly). The rank is computed WITHOUT a
    single-partition global window (a code corpus's distinct-term
    count reaches 10^9+ — one sort task would straggle or OOM):
    repartitionByRange on (cf desc, term asc) + a per-partition
    row_number + cumulative partition-count offsets (the zipWithIndex
    shape). The ordering is total (term is unique), so the result is
    identical to the global row_number; the only driver collect is
    one row PER PARTITION (bounded by cluster width, not data).

    df counts input ROWS containing the term; no id column is read.
    Callers must pass one row per unique ``doc_id`` (the documents
    contract): then df equals count(distinct doc_id), and parity with
    the definitional aggregate is pinned in tests. A duplicated doc_id
    row counts once per row."""
    toks = fan_out(df).select(tokens_col(text_col).alias("toks"))

    def cf_df_kernel(batches):
        import pandas as pd
        from collections import Counter
        cf: dict = {}
        dfc: dict = {}

        def flush():
            out = pd.DataFrame(
                {"term": list(cf), "cf": list(cf.values()),
                 "df": [dfc[t] for t in cf]})
            cf.clear()
            dfc.clear()
            return out

        for pdf in batches:
            for arr in pdf["toks"].values:
                if arr is None or len(arr) == 0:
                    continue
                for term, n in Counter(arr).items():
                    cf[term] = cf.get(term, 0) + n
                    dfc[term] = dfc.get(term, 0) + 1
            if len(cf) > 2_000_000:
                yield flush()
        if cf:
            yield flush()

    partials = toks.mapInPandas(cf_df_kernel,
                                "term string, cf long, df long")
    agg = (partials.groupBy("term")
           .agg(F.sum("cf").alias("cf"), F.sum("df").alias("df"))
           .filter(F.col("cf") >= min_count))
    from pyspark.sql import Window
    sc = df.sparkSession.sparkContext
    n_parts = sc.defaultParallelism
    order = [F.col("cf").desc(), F.col("term").asc()]
    local = Window.partitionBy("_pid").orderBy(*order)
    ranked = (agg.repartitionByRange(n_parts, *order)
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(local)))
    if _materialize:
        # the offsets collect below and the caller's action share one
        # materialization (plan tests pass False to see full lineage)
        ranked = ranked.localCheckpoint(eager=False)
    sizes = {int(r["_pid"]): int(r["n"]) for r in
             ranked.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    if offsets:
        omap = F.create_map(
            *[F.lit(v) for kv in offsets.items() for v in kv])
        rank = (F.col("_rn") + F.coalesce(omap[F.col("_pid")], F.lit(0)))
    else:
        rank = F.col("_rn")
    return ranked.select("term", "cf", "df",
                         rank.cast("int").alias("rank"))
