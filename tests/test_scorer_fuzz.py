"""Seeded randomized differential test of the block-max kernel: the
pruned path must return exactly the exhaustive path's top-k (ids AND
scores bit-identical) across random posting shapes — hot/rare term
mixes, boosts, exclusions, conjunction groups, θ tie patterns."""

import ast
from pathlib import Path

import numpy as np
import pyarrow as pa
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
    return pa.Table.from_pylist(rows), weights


@pytest.mark.parametrize("seed", range(12))
def test_pruned_equals_exhaustive_random(seed):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(2, 9))
    rows, weights = _make_rows(rng, n_terms, n_docs_max=256)
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
    args = (rows, weights, must_groups, should, must_not, k, AVGDL, K1, B)
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
    rows = pa.Table.from_pylist([{
        "term": "x", "range_id": 0, "df_chunk": 40,
        "first_doc": blocks["first_doc"], "max_doc": blocks["max_doc"],
        "n": blocks["n"], "max_tf": blocks["max_tf"],
        "min_dl": blocks["min_dl"], "docs": blocks["docs"],
        "tfs": blocks["tfs"], "dls": blocks["dls"]}])
    d, s, n = scorer.score_range_topk(
        rows, {"x": 1.0}, [], ["x"], [], 10, AVGDL, K1, B, prune=True)
    assert list(d) == list(range(10))
    assert n == 40


def _positional_rows(rng, n_docs=160, vocab=("a", "b", "c", "d")):
    """Posting rows of random token sequences (so phrases match), each
    term's postings split over up to three rows of different versions,
    as base and delta rows of one range are."""
    seqs = [rng.choice(len(vocab), int(rng.integers(3, 20)))
            for _ in range(n_docs)]
    rows = []
    for ti, term in enumerate(vocab):
        docs = np.array([d for d, s in enumerate(seqs) if (s == ti).any()])
        cuts = np.sort(rng.choice(np.arange(1, docs.size), 2, replace=False))
        for part in np.split(docs, cuts):
            pos = [np.flatnonzero(seqs[d] == ti) for d in part]
            blocks = codec.encode_blocks_bulk(
                part.astype(np.int64), np.array([p.size for p in pos]),
                np.array([seqs[d].size for d in part]), np.array([0]),
                block_size=8, positions=np.concatenate(pos))
            rows.append({"term": term, "range_id": 0, "df_chunk": part.size,
                         "ver": int(rng.integers(1, 4)) if len(rows) % 3
                         else None,
                         **{k: v[0].as_py() for k, v in blocks.items()}})
    order = rng.permutation(len(rows))
    return pa.Table.from_pylist([rows[i] for i in order])


@pytest.mark.parametrize("seed", range(4))
def test_kernels_read_any_arrow_shape_and_pandas(seed):
    """The kernels read their rows as one arrow chunk, as several chunks
    cut at non-zero slice offsets (what a driver read sliced per range
    gives) and as a pandas frame through the one conversion
    :class:`scorer.RangeBlocks` keeps: ids, scores and match counts are
    equal across all three, tombstones applied."""
    rng = np.random.default_rng(seed)
    tab = _positional_rows(rng)
    h = tab.num_rows // 2
    padded = pa.concat_tables([tab.slice(0, 1), tab]).combine_chunks()
    chunked = pa.concat_tables([padded.slice(1, h), padded.slice(1 + h)])
    assert [c.offset for c in chunked["docs"].chunks] == [1, 1 + h]
    frame = tab.to_pandas()
    tids = np.sort(rng.choice(160, 40, replace=False)).astype(np.int64)
    tomb = (tids, rng.integers(1, 5, tids.size).astype(np.int64))
    weights = {t: float(rng.uniform(0.5, 2.0)) for t in "abcd"}

    def run(rows):
        topk = scorer.score_range_topk(
            rows.drop_columns(["pos"]) if isinstance(rows, pa.Table)
            else rows.drop(columns=["pos"]),
            weights, [["a"]], ["b", "c"], ["d"], 7, AVGDL, K1, B, tomb=tomb)
        phrase = scorer.score_range_phrase(
            rows, weights, [], ["c"], [], [["a", "b"]], base=0, avgdl=AVGDL,
            k1=K1, b=B, tomb=tomb)
        return [(d.tolist(), s.tolist(), n) for d, s, n in (topk, phrase)]

    want = run(tab)
    assert want[0][0] and want[1][0]
    assert run(chunked) == want
    assert run(frame) == want


def test_query_package_imports_no_pandas():
    """The read path takes arrow end to end: no module of
    ``bright_spark/query`` imports pandas."""
    pkg = Path(scorer.__file__).parent
    found = []
    for path in sorted(pkg.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            names = ([a.name for a in node.names]
                     if isinstance(node, ast.Import)
                     else [node.module or ""]
                     if isinstance(node, ast.ImportFrom) else [])
            found += [f"{path.name}: {n}" for n in names
                      if n.split(".")[0] == "pandas"]
    assert not found, found
