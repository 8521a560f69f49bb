"""Seeded randomized differential test of the block-max kernel: the
pruned path must return exactly the exhaustive path's top-k (ids AND
scores bit-identical) across random posting shapes — hot/rare term
mixes, boosts, exclusions, conjunction groups, θ tie patterns."""

import numpy as np
import pandas as pd
import pytest

from bright_spark.index import codec
from bright_spark.query import scorer

K1, B, AVGDL = 1.2, 0.75, 57.0


def _one_run(docs, tfs, dls):
    """The block columns of one posting run, as the row lists the
    scorer reads."""
    cols = codec.encode_blocks_bulk(docs, tfs, dls, np.array([0]),
                                    block_size=8)
    return {k: v[0].as_py() for k, v in cols.items()}


def _make_rows(rng, n_terms, n_docs_max, range_bits=6):
    """Random postings rows for ONE range group (range_id fixed)."""
    rows = []
    weights = {}
    for t in range(n_terms):
        name = f"t{t:02d}"
        df = int(rng.integers(1, n_docs_max))
        docs = np.sort(rng.choice(n_docs_max, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 12, df).astype(np.int64)
        dls = rng.integers(5, 200, df).astype(np.int64)
        blocks = _one_run(docs, tfs, dls)
        rows.append({
            "term": name, "range_id": 0, "df_chunk": df,
            "first_doc": blocks["first_doc"], "max_doc": blocks["max_doc"],
            "n": blocks["n"], "max_tf": blocks["max_tf"],
            "min_dl": blocks["min_dl"], "docs": blocks["docs"],
            "tfs": blocks["tfs"], "dls": blocks["dls"],
        })
        weights[name] = float(rng.uniform(0.1, 3.0))
    return pd.DataFrame(rows), weights


@pytest.mark.parametrize("seed", range(12))
def test_pruned_equals_exhaustive_random(seed):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(2, 9))
    pdf, weights = _make_rows(rng, n_terms, n_docs_max=256)
    terms = list(weights)
    # random query shape
    must_groups = []
    if rng.random() < 0.4:
        g = rng.choice(terms, size=min(2, len(terms)), replace=False)
        must_groups = [sorted(g)]
    must_not = [terms[-1]] if rng.random() < 0.3 and len(terms) > 2 else []
    should = [t for t in terms if t not in must_not
              and all(t not in g for g in must_groups)]
    k = int(rng.integers(1, 25))
    args = (pdf, weights, must_groups, should, must_not, k, AVGDL, K1, B)
    d1, s1, n1 = scorer.score_range_topk(*args, prune=True, need_total=True)
    d2, s2, n2 = scorer.score_range_topk(*args, prune=False, need_total=True)
    assert list(d1) == list(d2), seed
    assert list(s1) == list(s2), seed  # bit-identical, not approx
    assert n1 == n2
    # need_total=False must not change the ranking
    d3, s3, _ = scorer.score_range_topk(*args, prune=True, need_total=False)
    assert list(d3) == list(d1) and list(s3) == list(s1)


def test_tie_break_doc_id_ascending():
    """Identical docs (same tf/dl) under one term tie on score; the
    (score desc, doc_id asc) tie-break must hold through pruning."""
    docs = np.arange(0, 40, dtype=np.int64)
    tfs = np.full(40, 3, dtype=np.int64)
    dls = np.full(40, 50, dtype=np.int64)
    blocks = _one_run(docs, tfs, dls)
    pdf = pd.DataFrame([{
        "term": "x", "range_id": 0, "df_chunk": 40,
        "first_doc": blocks["first_doc"], "max_doc": blocks["max_doc"],
        "n": blocks["n"], "max_tf": blocks["max_tf"],
        "min_dl": blocks["min_dl"], "docs": blocks["docs"],
        "tfs": blocks["tfs"], "dls": blocks["dls"]}])
    d, s, n = scorer.score_range_topk(
        pdf, {"x": 1.0}, [], ["x"], [], 10, AVGDL, K1, B, prune=True)
    assert list(d) == list(range(10))
    assert n == 40
