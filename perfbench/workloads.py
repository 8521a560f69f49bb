"""The benchmark workloads: ``search`` and ``ingest``.

Each workload is one closed loop driven by a single client on the
calling thread; Spark runs on ``local[<cores>]``. Inputs are generated
from the seed and the oracle is prepared before any clock starts, and
every answer is checked after the measured loop.

A workload returns the end-to-end metrics (always measured with
tracing off for the untraced run) and, when traced, the per-layer
metrics of :data:`PER_LAYER`.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import check, gen
from perfbench.trace import (
    COUNTERS,
    Tracer,
    attribute_jobs,
    cpu_snapshot,
    descendants,
    event_log_conf,
    peak_rss_mb,
    read_event_log,
    rollup,
    work_cpu_seconds,
)

# The bounded cost of an operation is its CPU time, not its latency: on
# a shared VM the hypervisor takes the vCPUs away for whole seconds
# (steal), which stretches latencies by up to 1.5x from one run to the
# next, while the CPU time the kernel charges to the process tree leaves
# stolen time out. ``cpu_s_per_op`` is that CPU time (this process, the
# JVM, the Python workers) over the measured operations, the JVM's JIT
# compiler threads left out.
END_TO_END = ("setup_s", "cpu_s_per_op", "index_bytes_per_source_byte")
E2E_UNITS = {"setup_s": "s", "cpu_s_per_op": "s",
             "index_bytes_per_source_byte": "ratio"}
# run-level numbers that vary too much from run to run on a shared host
# to carry a regression bound; traced runs report them per layer
RUN_LEVEL = ("op_geomean_s", "op_p50_s", "ops_per_s", "peak_rss_mb")

_CLASSES = gen.QUERY_CLASSES
PER_LAYER_UNITS = {
    "op_geomean_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "analysis.tokenizer.mb_per_s": "MB/s",
    "index.builder.build_docs_s": "s",
    "index.builder.build_postings_s": "s",
    "index.builder.build_stats_s": "s",
    "index.catalog.commit_s": "s",
    "index.builder.jobs_per_build": "count",
    "index.builder.task_cpu_s_per_build": "s",
    "index.builder.shuffle_write_bytes_per_build": "B",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "spark.task_cpu_s_per_op": "s",
    "index.catalog.bytes.postings": "B",
    "index.catalog.bytes.docs": "B",
    "index.catalog.bytes.term_stats": "B",
    **{f"query.planner.analyze_{c}_s": "s" for c in _CLASSES},
    **{f"query.engine.{c}_p50_s": "s" for c in _CLASSES},
    "query.engine.jobs_per_query": "count",
    "query.engine.stages_per_query": "count",
    "index.catalog.postings_rows_per_query": "count",
    "index.catalog.postings_bytes_per_query": "B",
    "index.catalog.postings_rows_per_hit": "ratio",
    "query.scorer.kernel_ms_per_query": "ms",
    "index.codec.decode_postings_per_s": "1/s",
    "query.engine.open_s": "s",
    "index.catalog.delta_depth_max": "count",
    "index.mutations.upsert_s": "s",
    "index.mutations.delete_s": "s",
    "index.mutations.compact_count": "count",
    "index.mutations.compact_s": "s",
    "index.mutations.write_amplification": "ratio",
    "index.fastpath.zero_job_share": "ratio",
    "index.store.call_s": "s",
    "api.server.overhead_s": "s",
    "text.dedup.minhash_s": "s",
    "text.dedup.simhash_pairs_s": "s",
    "text.dedup.clusters_s": "s",
    "text.dedup.candidates_per_verified_pair": "ratio",
    "vectors.similarity.near_dup_cosine_s": "s",
    "build_docs_per_s": "docs/s",
    "search_p50_s": "s",
    "search_p90_s": "s",
    "write_p50_s": "s",
    "mixed_search_p50_s": "s",
    "ingest_docs_per_s": "docs/s",
    "dedup_docs_per_s": "docs/s",
    "trace.overhead_ratio": "ratio",
}
PER_LAYER = tuple(PER_LAYER_UNITS)


@dataclass(frozen=True)
class Sizes:
    """Input sizes. The defaults keep one run of every workload inside
    the benchmark's time budget on a 4-core host; the tests use
    :meth:`tiny`."""

    search_docs: int = 200
    ingest_docs: int = 120
    vectors: int = 2000

    @classmethod
    def tiny(cls) -> "Sizes":
        return cls(search_docs=60, ingest_docs=40, vectors=200)


# ingest cycles per epoch: the store's mutator compacts once a pointer
# chain passes 8 dirs, and each cycle adds two term_stats deltas (POST,
# DELETE), so the 4th DELETE after a build or compaction compacts
CYCLES_PER_EPOCH = 4

# Nominal seconds of one search round (one query per class) and of one
# ingest epoch on a 4-core host. A run measures ``--seconds`` divided by
# these, rounded down, at least one: a fixed amount of work that does not
# depend on how fast the program under test is, so two commits always
# measure the same operations.
SEARCH_ROUND_S = 10
INGEST_EPOCH_S = 20


def _units(seconds: float, unit_s: float) -> int:
    return max(1, int(seconds // unit_s))


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _geomean(xs):
    return float(np.exp(np.mean(np.log(xs)))) if xs else 0.0


def _p90(xs):
    if not xs:
        return 0.0
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def dir_bytes(dirs: list[str]) -> int:
    return sum(os.path.getsize(f) for d in dirs
               for f in glob.glob(os.path.join(d, "*.parquet")))


def live_bytes(index_dir: str) -> dict[str, int]:
    """Bytes of the live snapshot's parquet files, per table."""
    from bright_spark.index.catalog import IndexCatalog
    cat = IndexCatalog(index_dir)
    return {"postings": dir_bytes(cat.postings_dirs()),
            "docs": dir_bytes(cat.docs_dirs()),
            "term_stats": dir_bytes(cat.term_stats_dirs())}


# ------------------------------------------------------------ harness

class Bench:
    """One benchmark process: seed, work dir, Spark session, tracer and
    the failure log that feeds ``failed``/``attempted``."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 work: str, traced: bool, sizes: Sizes | None = None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.sizes = sizes or Sizes()
        self.tracer = Tracer() if traced else None
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.session_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rss_mb = 0.0
        os.makedirs(work, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return _NullSpan()
        return self.tracer.span(name, **attrs)

    def record(self, mismatches: list[str]) -> None:
        """One checked operation."""
        self.attempted += 1
        if mismatches:
            self.failed += 1
            self.failures.extend(mismatches)

    def start(self) -> None:
        from bright_spark.session import get_spark
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {"spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false"}
        if self.tracer is not None:
            conf.update(event_log_conf(self.path("events")))
            _install_spans(self.tracer)
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}",
                               master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores,
                               extra_conf=conf)
        self.session_s = time.perf_counter() - t0

    def cpu(self) -> tuple[float, dict]:
        """CPU used so far by this process, the Spark JVM and its Python
        workers (a :func:`cpu_snapshot`)."""
        return cpu_snapshot([os.getpid()] + descendants(os.getpid()))

    def collect_garbage(self) -> None:
        """Start the measured loop from collected heaps, so garbage the
        set-up left behind is not collected on the clock."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to
        exit; records their summed peak RSS first."""
        from pyspark import SparkContext
        procs = descendants(os.getpid())
        self.rss_mb = peak_rss_mb(procs)
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        _wait_gone(procs, timeout=30)
        if self.tracer is not None:
            self.tracer.unwrap_all()
            attribute_jobs(self.tracer, read_event_log(self.path("events")))


class _NullSpan:
    def __enter__(self):
        return {}

    def __exit__(self, *exc):
        return False


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    live = list(pids)
    while live and time.time() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _install_spans(t: Tracer) -> None:
    """Spans around the public entry points of every layer."""
    from bright_spark.index import builder, catalog, fastpath, mutations, store
    from bright_spark.query import engine, planner
    b = builder.IndexBuilder
    t.wrap(b, "build", "index.builder.build")
    t.wrap(b, "build_docs", "index.builder.build_docs")
    t.wrap(b, "build_postings", "index.builder.build_postings")
    t.wrap(b, "build_stats", "index.builder.build_stats")
    t.wrap(catalog.PendingSnapshot, "commit", "index.catalog.commit")
    t.wrap(planner.Planner, "analyze", "query.planner.analyze")
    t.wrap(engine.SearchEngine, "__init__", "query.engine.open")
    t.wrap(engine.SearchEngine, "search", "query.engine.search")
    t.wrap(mutations.IndexMutator, "upsert_rows", "index.mutations.upsert")
    t.wrap(mutations.IndexMutator, "delete_ids", "index.mutations.delete")
    t.wrap(mutations.IndexMutator, "compact", "index.mutations.compact")
    t.wrap(fastpath, "apply_fast", "index.fastpath.apply")
    t.wrap(store.IndexStore, "add_document_rows", "index.store.write")
    t.wrap(store.IndexStore, "delete_documents", "index.store.write")
    t.wrap(store.IndexStore, "search", "index.store.search")


def _span_median(t: Tracer, name: str, under: str | None = None) -> float:
    """Median duration of spans ``name`` (only those nested in a span
    ``under``, when given)."""
    return _median([s["end"] - s["start"] for s in t.closed(name)
                    if under is None or t.ancestor(s["id"], under) is not None])


def _per_op(t: Tracer, name: str = "op") -> dict[str, float]:
    """Mean Spark counters per operation span."""
    rows = list(rollup(t, name).values())
    if not rows:
        return {}
    return {c: sum(r[c] for r in rows) / len(rows) for c in rows[0]}


def _spark_layer(t: Tracer) -> dict[str, float]:
    per = _per_op(t)
    return {f"spark.{c}_per_op": float(per.get(c, 0.0)) for c in COUNTERS}


# -------------------------------------------------------------- search

def _dedup_phase(b: Bench, base: list[str]) -> dict:
    """The text.dedup and vectors.similarity operators over the seeded
    near-duplicate corpus and planted embedding clusters (traced runs
    only; each call is collected inside its span, since the operators
    return lazy DataFrames)."""
    from bright_spark.text.dedup import (
        duplicate_clusters,
        minhash_candidate_pairs,
        near_duplicates_minhash,
        near_duplicates_simhash,
    )
    from bright_spark.vectors.similarity import near_duplicates_cosine
    spark, sz, t = b.spark, b.sizes, b.tracer
    threshold, max_ham, cos_thr = 0.8, 3, 0.95
    dpdf, planted = gen.dedup_corpus(b.seed, base)
    epdf, eplanted = gen.embeddings(b.seed, sz.vectors)
    df = spark.createDataFrame(dpdf, "doc_id BIGINT, text STRING")
    edf = spark.createDataFrame(epdf, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    texts = dict(zip(dpdf["doc_id"].tolist(), dpdf["text"].tolist()))

    with t.span("text.dedup.minhash") as s_mh:
        mh = [(r["id_a"], r["id_b"], r["jaccard"]) for r in
              near_duplicates_minhash(df, threshold=threshold).collect()]
    with t.span("text.dedup.simhash_pairs") as s_sh:
        sh = [(r["id_a"], r["id_b"]) for r in
              near_duplicates_simhash(df, max_ham).collect()]
    pairs_df = spark.createDataFrame(mh, "id_a BIGINT, id_b BIGINT, "
                                     "jaccard DOUBLE")
    with t.span("text.dedup.clusters") as s_cl:
        labels = {r["doc_id"]: r["cluster_id"] for r in
                  duplicate_clusters(df, pairs_df).collect()}
    with t.span("vectors.similarity.near_dup_cosine") as s_cs:
        cs = [(r["id_a"], r["id_b"], r["cosine"]) for r in
              near_duplicates_cosine(edf, threshold=cos_thr,
                                         dim=gen.EMB_DIM).collect()]
    n_cand = minhash_candidate_pairs(df).count()

    b.record(check.check_minhash(texts, mh, planted, threshold))
    b.record(check.check_simhash(texts, sh, max_ham))
    b.record(check.check_clusters(sorted(texts), [(a, c) for a, c, _ in mh],
                                  labels))
    vecs = {int(i): np.asarray(v, dtype=np.float32).astype(np.float64)
            for i, v in zip(epdf["vec_id"], epdf["embedding"])}
    b.record(check.check_cosine(vecs, cs, eplanted, cos_thr))

    dur = {k: s["end"] - s["start"] for k, s in
           (("minhash", s_mh), ("simhash", s_sh), ("clusters", s_cl),
            ("cosine", s_cs))}
    return {
        "text.dedup.minhash_s": dur["minhash"],
        "text.dedup.simhash_pairs_s": dur["simhash"],
        "text.dedup.clusters_s": dur["clusters"],
        "text.dedup.candidates_per_verified_pair": n_cand / max(1, len(mh)),
        "vectors.similarity.near_dup_cosine_s": dur["cosine"],
        "dedup_docs_per_s": len(dpdf) / sum(dur.values()),
    }


# -------------------------------------------------------------- search

def run_search(b: Bench) -> dict:
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig, SearchRequest
    from bright_spark.query.engine import SearchEngine

    sz = b.sizes
    b.start()
    spark = b.spark
    src = b.path("src")
    pdf = gen.corpus(spark, b.seed, sz.search_docs, src)
    rows = pdf.to_dict("records")
    source_bytes = sum(len(c.encode()) for c in pdf["content"])
    oracle = check.oracle_index(rows, n_partitions=b.cores)
    mix = gen.QueryMix(b.seed, oracle.df, pdf["content"].tolist(), len(pdf))
    first = mix.query("term")
    warmup = mix.rounds(1)
    reqs = mix.rounds(_units(b.seconds, SEARCH_ROUND_S))

    idx = b.path("idx")
    t0 = time.perf_counter()
    build_index(spark, spark.read.parquet(src), idx, IndexConfig(id="code"))
    build_s = time.perf_counter() - t0
    eng = SearchEngine(spark, idx)
    resp = eng.search(SearchRequest(q=first["q"], limit=first["limit"]))
    b.record(check.check_search(oracle, first, *check.response_hits(resp)))
    setup_s = b.session_s + time.perf_counter() - t0
    # one round off every clock: the JVM compiles the query path here
    # (the first round after the build costs ~1.3x the CPU of later ones)
    for req in warmup:
        b.record(check.check_search(oracle, req, *check.response_hits(
            eng.search(_request(req)))))
    b.collect_garbage()

    done = []  # (req, latency, hits, total)
    cpu0 = b.cpu()
    t_loop = time.perf_counter()
    for req in reqs:
        sr = _request(req)
        with b.span("op", cls=req["cls"]):
            t = time.perf_counter()
            resp = eng.search(sr)
            lat = time.perf_counter() - t
        done.append((req, lat, *check.response_hits(resp)))
    wall = time.perf_counter() - t_loop
    cpu = work_cpu_seconds(cpu0, b.cpu())

    for req, _, hits, total in done:
        b.record(check.check_search(oracle, req, hits, total))
    b.record(check.check_docs(eng.catalog.docs_dirs(),
                              {d["doc_id"]: d["content"] for d in oracle.docs}))
    sizes = live_bytes(idx)
    lats = [x[1] for x in done]
    layers = {}
    if b.tracer is not None:
        layers = _search_replay(b, eng, done)
        layers.update(_tokenizer_layer(b, pdf))
        layers.update({f"index.catalog.bytes.{k}": float(v)
                       for k, v in sizes.items()})
        layers["index.catalog.delta_depth_max"] = float(max(
            eng.catalog.delta_depth("postings"),
            eng.catalog.delta_depth("term_stats")))
        layers["build_docs_per_s"] = len(pdf) / build_s
        layers.update(_dedup_phase(b, pdf["content"].tolist()))
    b.stop()
    e2e = {"setup_s": setup_s, "op_p50_s": _median(lats),
           "op_geomean_s": _geomean(lats),
           "ops_per_s": len(done) / wall, "cpu_s_per_op": cpu / len(done),
           "index_bytes_per_source_byte": sum(sizes.values()) / source_bytes}
    if b.tracer is not None:
        layers.update(_search_layers(b.tracer, done))
        layers.update(_build_layers(b.tracer))
    return {"e2e": e2e, "layers": layers, "ops": len(done)}


def _request(req: dict):
    from bright_spark.models import SearchRequest
    return SearchRequest(q=req["q"], limit=req["limit"], page=req["page"])


def _build_layers(t: Tracer) -> dict:
    """The set-up build, layer by layer."""
    out = {f"index.builder.{k}_s": _span_median(t, f"index.builder.{k}")
           for k in ("build_docs", "build_postings", "build_stats")}
    out["index.catalog.commit_s"] = _span_median(
        t, "index.catalog.commit")
    per = list(rollup(t, "index.builder.build").values())
    for c in ("jobs", "task_cpu_s", "shuffle_write_bytes"):
        out[f"index.builder.{c}_per_build"] = float(
            sum(r[c] for r in per) / len(per)) if per else 0.0
    return out


def _tokenizer_layer(b: Bench, pdf: pd.DataFrame) -> dict:
    """In-process ``count_terms_batch`` over the corpus (median of
    three passes)."""
    from bright_spark.analysis.tokenizer import count_terms_batch
    texts = pdf["content"].tolist()
    langs = pdf["lang"].tolist()
    mb = sum(len(x.encode()) for x in texts) / 1e6
    runs = []
    for _ in range(3):
        with b.span("analysis.tokenizer.count_terms_batch"):
            t = time.perf_counter()
            count_terms_batch(texts, "code", langs)
            runs.append(time.perf_counter() - t)
    return {"analysis.tokenizer.mb_per_s": mb / _median(runs)}


def _search_layers(t: Tracer, done) -> dict:
    out = {"search_p50_s": _median([x[1] for x in done]),
           "search_p90_s": _p90([x[1] for x in done])}
    by_cls: dict[str, list[float]] = {}
    for req, lat, *_ in done:
        by_cls.setdefault(req["cls"], []).append(lat)
    for c in _CLASSES:
        out[f"query.engine.{c}_p50_s"] = _median(by_cls.get(c, []))
    analyze: dict[str, list[float]] = {}
    for s in t.closed("query.planner.analyze"):
        op = t.ancestor(s["id"], "op")
        if op is not None:
            analyze.setdefault(t.spans[op]["cls"], []).append(
                s["end"] - s["start"])
    for c in _CLASSES:
        out[f"query.planner.analyze_{c}_s"] = _median(analyze.get(c, []))
    per = _per_op(t)
    out["query.engine.jobs_per_query"] = float(per.get("jobs", 0.0))
    out["query.engine.stages_per_query"] = float(per.get("stages", 0.0))
    out["query.engine.open_s"] = _span_median(t, "query.engine.open")
    out.update(_spark_layer(t))
    return out


def _search_replay(b: Bench, eng, done) -> dict:
    """In-process replay of the WAND kernel: the posting rows each
    WAND-path query needs (``catalog.postings_for_terms``, collected to
    the driver), scored per range by the public ``scorer.score_range_topk``.
    Gives the rows/bytes a query fetches and the kernel's own time, which
    the Spark path hides inside its Python workers. The replay repeats the
    engine's term selection, so its merged top-k must equal the hits the
    engine returned: a mismatch is a failed check, so a replay that no
    longer follows the engine's plan does not go unnoticed."""
    from bright_spark.index import codec
    from bright_spark.query import scorer
    from bright_spark.query.engine import fkey
    from bright_spark.query.parser import parse_query

    avgdl = float(eng.meta["avgdl"])
    k1, bb = float(eng.meta["k1"]), float(eng.meta["b"])
    tomb = eng._tomb_bc.value if eng._tomb_bc is not None else None
    n_rows = n_bytes = n_hits = n_q = 0
    kernel_s = decode_s = 0.0
    n_entries = 0
    for req, _, hits, total in done:
        aq = eng.planner.analyze(parse_query(req["q"]))
        if (not aq.has_positive or aq.attr_preds or aq.phrases
                or aq.must_not_phrases):
            continue
        weights, avgdls = eng._term_weights(aq)
        if not weights:
            continue
        must_groups = [[fkey(s.field, s.term) for s in g
                        if fkey(s.field, s.term) in weights] for g in aq.must_groups]
        if any(not g for g in must_groups):
            continue
        should = [fkey(s.field, s.term) for s in aq.should_terms
                  if fkey(s.field, s.term) in weights]
        must_not_pairs = sorted(set(aq.must_not_terms))
        scoring = {s.key for s in aq.scoring_terms if fkey(*s.key) in weights}
        needed = sorted(scoring | set(must_not_pairs))
        pdf = eng.catalog.postings_for_terms(b.spark, needed).drop(
            "pos").toPandas()
        fields = pdf.pop("field")
        pdf["term"] = [fkey(f, t) for f, t in zip(fields, pdf["term"])]
        n_q += 1
        n_rows += len(pdf)
        n_hits += len(hits)
        n_bytes += int(sum(len(x) for col in ("docs", "tfs", "dls")
                           for row in pdf[col] for x in row))
        k = req["page"] * req["limit"]
        top, matched = [], 0
        t = time.perf_counter()
        for _, g in pdf.groupby("range_id"):
            ids, scores, n = scorer.score_range_topk(
                g, weights, must_groups, should,
                [fkey(f, t_) for f, t_ in must_not_pairs],
                k=k, avgdl=avgdl, k1=k1, b=bb, avgdl_by_term=avgdls,
                tomb=tomb)
            top += zip(ids.tolist(), scores.tolist())
            matched += int(n)
        kernel_s += time.perf_counter() - t
        top = sorted(top, key=lambda h: (-h[1], h[0]))[:k]
        b.record([f"kernel replay: {m}" for m in check.search_mismatches(
            req["q"], hits, total, top[k - req["limit"]:], matched)])
        if len(pdf):
            first = np.concatenate(pdf["first_doc"].to_numpy())
            ns = np.concatenate(pdf["n"].to_numpy())
            bufs = [x for row in pdf["docs"] for x in row]
            t = time.perf_counter()
            codec.decode_doc_blocks_bulk(first, ns, bufs)
            decode_s += time.perf_counter() - t
            n_entries += int(ns.sum())
    return {
        "index.catalog.postings_rows_per_query": n_rows / max(1, n_q),
        "index.catalog.postings_bytes_per_query": n_bytes / max(1, n_q),
        "index.catalog.postings_rows_per_hit": n_rows / max(1, n_hits),
        "query.scorer.kernel_ms_per_query": 1000 * kernel_s / max(1, n_q),
        "index.codec.decode_postings_per_s": (n_entries / decode_s
                                              if decode_s else 0.0),
    }


# -------------------------------------------------------------- ingest

class _Client:
    """Closed-loop HTTP client of the in-process REST server."""

    def __init__(self, b: Bench, base: str):
        self.b = b
        self.base = base

    def call(self, method: str, path: str, body=None, kind: str = ""):
        """(latency, status, payload, span)."""
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.base + path, data=data,
                                     method=method, headers={
                                         "Content-Type": "application/json"})
        tr = self.b.tracer
        ctx = tr.client("http", kind=kind) if tr is not None else _NullSpan()
        with ctx as span:
            t = time.perf_counter()
            try:
                with urllib.request.urlopen(req, timeout=170) as resp:
                    raw, status = resp.read(), resp.status
            except urllib.error.HTTPError as e:
                raw, status = e.read(), e.code
            lat = time.perf_counter() - t
        payload = json.loads(raw) if raw else None
        return lat, status, payload, span


def _all_files(d: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def run_ingest(b: Bench) -> dict:
    from bright_spark.api.server import make_server
    from bright_spark.index.store import IndexStore

    sz = b.sizes
    b.start()
    # replacements never reuse a base doc, so the base size caps the
    # epochs a run can make
    n_cycles = CYCLES_PER_EPOCH * min(
        _units(b.seconds, INGEST_EPOCH_S),
        sz.ingest_docs // (gen.IngestPlan.REPLACE * CYCLES_PER_EPOCH))
    pdf = gen.corpus(b.spark, b.seed, sz.ingest_docs
                     + n_cycles * gen.IngestPlan.INSERT, b.path("src"))
    plan = gen.IngestPlan(b.seed, pdf.to_dict("records"), sz.ingest_docs)
    base = plan.base
    vocab_oracle = check.oracle_index(base, id_col="file_id")
    mix = gen.QueryMix(b.seed, vocab_oracle.df,
                       [r["content"] for r in base], len(base))
    batches = [plan.batch(c) for c in range(n_cycles)]
    warm_q, probe_q = mix.query("term")["q"], mix.query("term")["q"]

    store = IndexStore(b.spark, b.path("data"))
    srv = make_server(store, 0)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        out = _ingest_loop(b, srv, batches, warm_q, probe_q, base)
    finally:
        srv.shutdown()
        srv.server_close()
        th.join(timeout=30)
    b.stop()
    if b.tracer is not None:
        out["layers"].update(_ingest_layers(b.tracer, out.pop("reqs")))
    out.pop("reqs", None)
    return out


def _ingest_loop(b, srv, batches, warm_q, probe_q, base) -> dict:
    from bright_spark.index.catalog import IndexCatalog

    cl = _Client(b, f"http://127.0.0.1:{srv.server_address[1]}")
    idx_dir = b.path("data", "code")

    def ok(status, what):
        b.record([] if 200 <= status < 300 else [f"{what}: HTTP {status}"])

    reqs = []  # (kind, latency, span, docs_changed)
    cycle_lat, depths = [], [0]
    posted_bytes = 0

    def write(method, path, body, what, n_docs):
        lat, st, _, sp = cl.call(method, path, body, kind="write")
        ok(st, what)
        reqs.append(("write", lat, sp, n_docs))
        if b.tracer is not None:
            depths.append(_depth(idx_dir))

    def cycle(c):
        bt = batches[c]
        write("POST", "/indexes/code/documents", bt["docs"],
              f"cycle {c} POST", len(bt["docs"]))
        q = bt["marker"] + ("" if c == 0 else " " + batches[c - 1]["marker"])
        lat, st, res, sp = cl.call("POST", _search_path(q, 100),
                                   kind="search")
        reqs.append(("search", lat, sp, 0))
        b.record(_marker_mismatch(c, st, res, batches))
        ids = ",".join(str(i) for i in bt["delete"])
        write("DELETE", f"/indexes/code/documents?ids={ids}", None,
              f"cycle {c} DELETE", len(bt["delete"]))

    t0 = time.perf_counter()
    _, st, _, _ = cl.call("POST", "/indexes", {"id": "code",
                                               "primaryKey": "file_id"})
    ok(st, "create index")
    _, st, _, _ = cl.call("POST", "/indexes/code/documents", base)
    ok(st, "initial documents")
    _, st, _, _ = cl.call("POST", _search_path(warm_q, 10))
    ok(st, "warm-up search")
    setup_s = b.session_s + time.perf_counter() - t0
    b.collect_garbage()

    cat = IndexCatalog(idx_dir)
    compacts0 = sum(s["operation"] == "compact" for s in cat.snapshots())
    files0 = _all_files(idx_dir)
    cpu0 = b.cpu()
    t_loop = time.perf_counter()
    for c, bt in enumerate(batches):
        posted_bytes += len(json.dumps(bt["docs"]).encode())
        with b.span("op"):
            t_c = time.perf_counter()
            cycle(c)
            cycle_lat.append(time.perf_counter() - t_c)
    wall = time.perf_counter() - t_loop
    cpu = work_cpu_seconds(cpu0, b.cpu())

    compacts = sum(s["operation"] == "compact"
                   for s in IndexCatalog(idx_dir).snapshots()) - compacts0
    new_files = {p: s for p, s in _all_files(idx_dir).items()
                 if p not in files0}
    # final state: the live row set after the executed cycles, against
    # the oracle over exactly those rows
    final = {r["file_id"]: r for r in base}
    for bt in batches:
        for d in bt["docs"]:
            final[d["file_id"]] = d
        for i in bt["delete"]:
            del final[i]
    oracle = check.oracle_index(list(final.values()), id_col="file_id")
    b.record(check.check_docs(IndexCatalog(idx_dir).docs_dirs(),
                              {i: r["content"] for i, r in final.items()}))
    _, st, res, _ = cl.call("POST", _search_path(probe_q, 10))
    if 200 <= st < 300:
        exp, exp_total = oracle.search(probe_q, 10)
        b.record(check.search_mismatches(probe_q, *check.response_hits(res),
                                         exp, exp_total))
    else:
        b.record([f"final probe {probe_q!r}: HTTP {st}"])
    sizes = live_bytes(idx_dir)
    source_bytes = sum(len(r["content"].encode()) for r in final.values())
    e2e = {"setup_s": setup_s, "op_p50_s": _median(cycle_lat),
           "op_geomean_s": _geomean(cycle_lat),
           "ops_per_s": len(cycle_lat) / wall,
           "cpu_s_per_op": cpu / len(cycle_lat),
           "index_bytes_per_source_byte": sum(sizes.values()) / source_bytes}
    layers = {}
    if b.tracer is not None:
        writes = [r for r in reqs if r[0] == "write"]
        layers = {
            "index.mutations.compact_count": float(compacts),
            "index.catalog.delta_depth_max": float(max(depths)),
            "index.mutations.write_amplification":
                sum(new_files.values()) / posted_bytes,
            "write_p50_s": _median([r[1] for r in writes]),
            "mixed_search_p50_s": _median([r[1] for r in reqs
                                           if r[0] == "search"]),
            "ingest_docs_per_s": sum(r[3] for r in writes)
                                 / sum(r[1] for r in writes),
            **{f"index.catalog.bytes.{k}": float(v) for k, v in sizes.items()},
        }
    return {"e2e": e2e, "layers": layers, "ops": len(cycle_lat),
            "reqs": reqs}


def _search_path(q: str, limit: int) -> str:
    return (f"/indexes/code/searches?q={urllib.parse.quote_plus(q)}"
            f"&limit={limit}")


def _depth(idx_dir: str) -> int:
    from bright_spark.index.catalog import IndexCatalog
    cat = IndexCatalog(idx_dir)
    return max(cat.delta_depth("postings"), cat.delta_depth("term_stats"))


def _marker_mismatch(c: int, status: int, res, batches) -> list[str]:
    """Read-your-writes: the marker search right after batch ``c``'s
    POST returns exactly batch ``c`` plus batch ``c-1`` without the ids
    deleted at the end of cycle ``c-1``."""
    if not 200 <= status < 300:
        return [f"cycle {c} marker search: HTTP {status}"]
    exp = set(batches[c]["ids"])
    if c > 0:
        exp |= set(batches[c - 1]["ids"]) - set(batches[c - 1]["delete"])
    got = {int(h["doc_id"]) for h in res["hits"]}
    out = []
    if got != exp:
        out.append(f"cycle {c} marker search: missing {sorted(exp - got)}, "
                   f"unexpected {sorted(got - exp)}")
    if res["totalHits"] != len(exp):
        out.append(f"cycle {c} marker search: totalHits {res['totalHits']} "
                   f"!= {len(exp)}")
    return out


def _ingest_layers(t: Tracer, reqs) -> dict:
    out = {f"index.mutations.{k}_s": _span_median(
               t, f"index.mutations.{k}", under="op")
           for k in ("upsert", "delete", "compact")}
    out["query.engine.open_s"] = _span_median(t, "query.engine.open",
                                              under="op")
    store_s, overhead = [], []
    for _, lat, span, _ in reqs:
        i = span["id"]
        inner = [s for s in t.spans
                 if s["name"] in ("index.store.write", "index.store.search")
                 and s["parent"] == i and s["end"]]
        if inner:
            d = sum(s["end"] - s["start"] for s in inner)
            store_s.append(d)
            overhead.append(lat - d)
    out["index.store.call_s"] = _median(store_s)
    out["api.server.overhead_s"] = _median(overhead)
    # writes of the measured cycles only (not the initial build)
    writes = [c for i, c in rollup(t, "index.store.write").items()
              if t.ancestor(i, "op") is not None]
    out["index.fastpath.zero_job_share"] = (
        sum(1 for w in writes if w["jobs"] == 0) / len(writes)
        if writes else 0.0)
    out.update(_spark_layer(t))
    return out


WORKLOADS = {"search": run_search, "ingest": run_ingest}


def run(workload: str, seed: int, seconds: float, work: str, traced: bool,
        sizes: Sizes | None = None) -> dict:
    """Run one workload; returns {"attempted", "failed", "failures",
    "e2e", "run_level", "layers", "ops"}. ``layers`` is empty unless
    ``traced``."""
    b = Bench(workload, seed, seconds, work, traced, sizes)
    res = WORKLOADS[workload](b)
    e2e = dict(res["e2e"], peak_rss_mb=b.rss_mb)
    run_level = {k: e2e.pop(k) for k in RUN_LEVEL}
    layers = {}
    if traced:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res["layers"])
        layers.update(run_level)
        layers["session.start_s"] = b.session_s
        b.tracer.dump(os.path.join(work, "spans.json"))
    return {"attempted": b.attempted, "failed": b.failed,
            "failures": b.failures, "e2e": e2e, "run_level": run_level,
            "layers": layers, "ops": res["ops"]}
