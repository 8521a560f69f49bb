"""Regenerate BENCH/PLANS.md: formatted physical plans of the headline
flows against an sf0.1 documents index (same shape the driver gate
builds: per-field postings + positions). The same properties are
regression-pinned in tests/test_plans.py; this file is for the human
reader — PartitionFilters / PushedFilters / ReadSchema / top-k
operators visible verbatim.

Only the sections this script generates are rewritten, each in place
(matched by its ``## `` title); a new one goes after the last generated
section. Every hand-written section keeps its text and position.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


HEADER = """# BENCH/PLANS.md — physical plans of the headline flows

Generated by `scripts/dump_plans.py` against an sf0.1 documents
index (per-field postings + positions, the driver-gate shape);
regression-pinned in `tests/test_plans.py` (pushed filters, column
pruning, TakeOrderedAndProject, no position payloads on the
scoring path).

"""


def splice(text: str, sections: list[tuple[str, str]]) -> str:
    """``text`` with each generated (title, section) replacing the
    ``## title`` section of the same title in place; generated sections
    the text lacks go after the last one it has (at the end if none).
    All other text is kept as it is."""
    head, *body = re.split(r"(?m)^(?=## )", text)
    gen = dict(sections)
    out, seen, last = [], set(), None
    for sec in body:
        title = sec.split("\n", 1)[0][3:]
        if title in gen:
            out.append(gen[title])
            seen.add(title)
            last = len(out)
        else:
            out.append(sec)
    at = len(out) if last is None else last
    out[at:at] = [sec for title, sec in sections if title not in seen]
    return head + "".join(out)


def plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    from bright_spark.query.engine import SearchEngine
    from bright_spark.session import get_spark
    from bright_spark.vectors.similarity import ann_topk_indexed, build_ann_index

    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    idx = "/tmp/plans_idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, docs, idx,
                IndexConfig(id="plans", tokenizer="simple",
                            n_term_buckets=8, store_positions=True),
                content_col="text", id_col="doc_id", lang_col="lang",
                attr_cols=("source", "n_chars"), text_cols=("source",),
                n_build_partitions=8)
    eng = SearchEngine(spark, idx)
    # the same corpus without positions: phrases then take the kernel
    # stage plus the re-tokenizing verify (bench.py's q_phrase shape)
    idx_np = "/tmp/plans_idx_nopos"
    shutil.rmtree(idx_np, ignore_errors=True)
    build_index(spark, docs, idx_np,
                IndexConfig(id="plans_np", tokenizer="simple",
                            n_term_buckets=8, store_positions=False),
                content_col="text", id_col="doc_id", lang_col="lang",
                attr_cols=("source", "n_chars"), text_cols=("source",),
                n_build_partitions=8)
    eng_np = SearchEngine(spark, idx_np)
    ann_dir = "/tmp/plans_ann"
    shutil.rmtree(ann_dir, ignore_errors=True)
    build_ann_index(emb, ann_dir, dim=64, n_planes=6)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]

    sections: list[tuple[str, str, str]] = []

    df = eng.catalog.postings_for_terms(
        spark, [("text", "spark"), ("text", "join")])
    sections.append((
        "Partition-pruned posting lookup (term -> bucket dir + row-group pruning)",
        "eng.catalog.postings_for_terms(spark, [('text','spark'), ('text','join')])",
        plan(df)))

    sections.append((
        "BM25 top-k (WAND path): pruned fetch -> per-range kernel -> TakeOrderedAndProject",
        "eng.search_df('spark join', k=10)",
        plan(eng.search_df("spark join", k=10), "simple")))

    sections.append((
        "Field-scoped BM25 (Q5): per-field namespace rides the same pruned scan",
        "eng.search_df('source:src3 spark', k=10)",
        plan(eng.search_df("source:src3 spark", k=10), "simple")))

    sections.append((
        "Attribute-filtered kernel stage: full match set -> docs semi-join (predicate pushdown on docs)",
        "eng.search_df('lang:en spark', k=10)",
        plan(eng.search_df("lang:en spark", k=10), "simple")))

    sections.append((
        "Positional phrase (Q4): vectorized per-range adjacency kernel",
        "eng.search_df('\"the fast\"', k=10)",
        plan(eng.search_df('"the fast"', k=10), "simple")))

    sections.append((
        "Non-positional phrase (Q4): one kernel stage -> broadcast into the "
        "re-tokenizing verify, scores carried through",
        "eng_np.search_df('\"the fast\"', k=10)  # store_positions=False",
        plan(eng_np.search_df('"the fast"', k=10), "simple")))

    sections.append((
        "Pure negation: live docs minus the NOT-term holders, decoded by "
        "the mapInArrow entries kernel",
        "eng.search_df('-spark', k=10)",
        plan(eng.search_df("-spark", k=10), "simple")))

    sections.append((
        "Indexed LSH ANN: probe sigs prune partition directories",
        "ann_topk_indexed(spark, ann_dir, qvec, k=10, probe_hamming=1)",
        plan(ann_topk_indexed(spark, ann_dir, qvec, k=10, probe_hamming=1))))

    path = os.path.join(REPO, "BENCH", "PLANS.md")
    text = open(path).read() if os.path.exists(path) else HEADER
    with open(path, "w") as f:
        f.write(splice(text, [
            (title, "\n".join([f"## {title}", "", f"`{expr}`", "", "```",
                               p.strip(), "```", "", ""]))
            for title, expr, p in sections]))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
