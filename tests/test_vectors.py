"""Similarity search: brute-force cosine correctness vs numpy, LSH ANN
recall vs the brute-force baseline."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def emb_df(spark, tmp_path_factory):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(300, 16)).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    path = str(tmp_path_factory.mktemp("emb") / "emb.parquet")
    spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>") \
        .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), vecs


def _numpy_topk(vecs, q, k, exclude=()):
    v = vecs.astype(np.float64)
    qq = np.asarray(q, dtype=np.float64)
    cos = (v @ qq) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qq))
    order = sorted(range(len(v)), key=lambda i: (-cos[i], i))
    return [(i, cos[i]) for i in order if i not in exclude][:k]


def test_cosine_topk_exact(emb_df):
    from bright_spark.vectors.similarity import cosine_topk
    df, vecs = emb_df
    q = [float(x) for x in vecs[0]]
    got = [(r["vec_id"], r["cosine"])
           for r in cosine_topk(df, q, k=10, exclude_ids=[0]).collect()]
    expect = _numpy_topk(vecs, q, 10, exclude={0})
    assert [g[0] for g in got] == [e[0] for e in expect]
    for (gi, gc), (ei, ec) in zip(got, expect):
        assert gc == pytest.approx(ec, abs=1e-9)


def test_cosine_topk_plan_is_take_ordered(emb_df):
    """Top-k must compile to TakeOrderedAndProject (partial per-
    partition top-k), not a global sort."""
    from bright_spark.vectors.similarity import cosine_topk
    df, vecs = emb_df
    plan = cosine_topk(df, [float(x) for x in vecs[0]], k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ann_lsh_recall(emb_df):
    from bright_spark.vectors.similarity import ann_cosine_topk
    df, vecs = emb_df
    hits = 0
    trials = 5
    for qid in range(trials):
        q = [float(x) for x in vecs[qid]]
        exact = {i for i, _ in _numpy_topk(vecs, q, 10)}
        approx = {r["vec_id"] for r in
                  ann_cosine_topk(df, q, k=10, n_planes=6, probe_hamming=2).collect()}
        hits += len(exact & approx)
    recall = hits / (10 * trials)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_signature_deterministic(emb_df):
    from bright_spark.vectors.similarity import lsh_signatures
    df, _ = emb_df
    a = {r["vec_id"]: r["sig"] for r in lsh_signatures(df, dim=16, n_planes=8).collect()}
    b = {r["vec_id"]: r["sig"] for r in lsh_signatures(df, dim=16, n_planes=8).collect()}
    assert a == b
    assert all(0 <= s < 256 for s in a.values())


def test_near_duplicates_cosine_vs_numpy(emb_df):
    """Bucketed near-dup pairs == numpy recomputation of the same
    definition (shared LSH bucket AND cosine >= threshold)."""
    from bright_spark.vectors.similarity import _hyperplane, near_duplicates_cosine
    df, vecs = emb_df
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in near_duplicates_cosine(df, threshold=0.2, n_planes=4,
                                           dim=16).collect()}
    v = vecs.astype(np.float64)
    planes = np.array([[_hyperplane(j, d) for d in range(16)] for j in range(4)])
    sigs = ((v @ planes.T) >= 0) @ (1 << np.arange(4))
    norms = np.linalg.norm(v, axis=1)
    expect = {}
    for a in range(len(v)):
        for b in range(a + 1, len(v)):
            if sigs[a] != sigs[b]:
                continue
            cos = float(v[a] @ v[b] / (norms[a] * norms[b]))
            if cos >= 0.2:
                expect[(a, b)] = cos
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k], abs=1e-9)


@pytest.fixture(scope="module")
def ann_index(spark, emb_df, tmp_path_factory):
    from bright_spark.vectors.similarity import build_ann_index
    df, vecs = emb_df
    idx = str(tmp_path_factory.mktemp("ann") / "idx")
    build_ann_index(df, idx, dim=16, n_planes=6)
    return idx, vecs


def test_ann_indexed_matches_unindexed(spark, emb_df, ann_index):
    """The persisted sig-partitioned index returns exactly what the
    on-the-fly signature scan returns (same planes, same probes)."""
    from bright_spark.vectors.similarity import ann_cosine_topk, ann_topk_indexed
    df, vecs = emb_df
    idx, _ = ann_index
    for qid in (0, 3):
        q = [float(x) for x in vecs[qid]]
        a = [(r["vec_id"], round(r["cosine"], 9)) for r in
             ann_topk_indexed(spark, idx, q, k=10, probe_hamming=2).collect()]
        b = [(r["vec_id"], round(r["cosine"], 9)) for r in
             ann_cosine_topk(df, q, k=10, n_planes=6,
                             probe_hamming=2).collect()]
        assert a == b


def test_ann_indexed_prunes_partitions(spark, ann_index):
    """The probe set must reach the scan as PartitionFilters on sig —
    the point of persisting the index (no full-table signature
    recompute per query)."""
    from bright_spark.vectors.similarity import ann_topk_indexed
    idx, vecs = ann_index
    q = [float(x) for x in vecs[0]]
    df = ann_topk_indexed(spark, idx, q, k=10, probe_hamming=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters")[1][:200]
    assert "sig" in part


def test_ann_indexed_recall(spark, emb_df, ann_index):
    from bright_spark.vectors.similarity import ann_topk_indexed
    _, vecs = emb_df
    idx, _ = ann_index
    hits = 0
    for qid in range(5):
        q = [float(x) for x in vecs[qid]]
        exact = {i for i, _ in _numpy_topk(vecs, q, 10)}
        approx = {r["vec_id"] for r in
                  ann_topk_indexed(spark, idx, q, k=10,
                                   probe_hamming=2).collect()}
        hits += len(exact & approx)
    assert hits / 50 >= 0.5


@pytest.fixture(scope="module")
def ivf_index(spark, emb_df, tmp_path_factory):
    from bright_spark.vectors.similarity import build_ivf_index
    df, vecs = emb_df
    idx = str(tmp_path_factory.mktemp("ivf") / "idx")
    build_ivf_index(df, idx, n_leaders=16)
    return idx, vecs


def test_ivf_assignment_covers_all_vectors_once(spark, ivf_index):
    idx, vecs = ivf_index
    df = spark.read.parquet(idx)
    assert df.count() == len(vecs)
    assert df.select("vec_id").distinct().count() == len(vecs)
    # bounded list count, every list non-empty
    lists = df.select("list_id").distinct().count()
    assert 1 <= lists <= 16


def test_ivf_probe_prunes_partitions(spark, ivf_index):
    """The nprobe nearest lists must reach the scan as PartitionFilters
    on list_id — the IVF point: a probe reads ~nprobe/L of the data."""
    from bright_spark.vectors.similarity import ivf_topk
    idx, vecs = ivf_index
    df = ivf_topk(spark, idx, [float(x) for x in vecs[0]], k=10, nprobe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters")[1][:200]
    assert "list_id" in part


def test_ivf_recall_and_determinism(spark, emb_df, ivf_index):
    from bright_spark.vectors.similarity import ivf_topk
    _, vecs = emb_df
    idx, _ = ivf_index
    hits = 0
    for qid in range(5):
        q = [float(x) for x in vecs[qid]]
        exact = {i for i, _ in _numpy_topk(vecs, q, 10)}
        approx = {r["vec_id"] for r in
                  ivf_topk(spark, idx, q, k=10, nprobe=6).collect()}
        hits += len(exact & approx)
    assert hits / 50 >= 0.5, hits
    # rebuilt index -> identical assignment (no RNG anywhere)
    r1 = [(r["vec_id"], round(r["cosine"], 6)) for r in
          ivf_topk(spark, idx, [float(x) for x in vecs[3]], k=10,
                   nprobe=4).collect()]
    r2 = [(r["vec_id"], round(r["cosine"], 6)) for r in
          ivf_topk(spark, idx, [float(x) for x in vecs[3]], k=10,
                   nprobe=4).collect()]
    assert r1 == r2


def test_ivf_leader_sidecar_at_scale(spark, tmp_path_factory):
    """The stated 100 TB sizing has L=2^14 leaders; the query path must
    stay a single matmul over the leader parquet sidecar, not a
    per-leader Python loop over a meta-JSON blob. At L=1024: (a) the
    matmul ranking picks the EXACT probe set the reference per-leader
    loop picks (round-6 cosine, leader-id tiebreak), visible in the
    pruned input files; (b) the meta JSON carries no leader vectors."""
    import json
    import math
    import os

    from bright_spark.vectors.similarity import build_ivf_index, ivf_topk
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(2048, 32)).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    idx = str(tmp_path_factory.mktemp("ivfbig") / "idx")
    build_ivf_index(df, idx, n_leaders=1024)

    meta = json.load(open(os.path.join(idx, "_ivf_meta.json")))
    assert "leaders" not in meta and meta["n_leaders"] == 1024
    assert os.path.isdir(os.path.join(idx, "_leaders"))

    q = [float(x) for x in vecs[5]]
    top = ivf_topk(spark, idx, q, k=10, nprobe=8)

    # reference probe set: the old driver-side per-leader loop
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(idx, "_leaders"))
    leaders = list(zip(t.column("lid").to_pylist(),
                       t.column("lv").to_pylist()))
    qn = math.sqrt(sum(x * x for x in q)) or 1.0
    ranked = sorted(
        (-round(sum(a * b for a, b in zip(v, q))
                / ((math.sqrt(sum(a * a for a in v)) or 1.0) * qn), 6), lid)
        for lid, v in leaders)
    expect_probes = sorted(lid for _, lid in ranked[:8])
    plan = top._jdf.queryExecution().executedPlan().toString()
    in_list = plan.split("PartitionFilters")[1].split(" IN (")[1].split(")")[0]
    scanned = sorted(int(x) for x in in_list.split(","))
    assert scanned == expect_probes


def test_semantic_dup_clusters(spark):
    """Embedding near-dup pairs + generic min-label propagation =
    semantic dedup clusters: two planted groups of jittered copies
    collapse to their minimum vec_id; isolated vectors stay singletons."""
    import numpy as np

    from bright_spark.text.dedup import duplicate_clusters
    from bright_spark.vectors.similarity import near_duplicates_cosine

    rng = np.random.default_rng(7)
    base = rng.normal(size=(2, 16))
    rows = []
    for g, ids in enumerate([(0, 1, 2), (10, 11)]):
        for i in ids:
            rows.append((int(i), [float(x) for x in
                                  base[g] + rng.normal(scale=1e-3, size=16)]))
    # orthogonal-ish singletons, far from both groups
    for i in (20, 21):
        rows.append((int(i), [float(x) for x in rng.normal(size=16)]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    pairs = near_duplicates_cosine(df, threshold=0.95, n_planes=4, dim=16)
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(df, pairs, id_col="vec_id").collect()}
    assert got[0] == got[1] == got[2] == 0
    assert got[10] == got[11] == 10
    assert got[20] == 20 and got[21] == 21


def test_fold_dot_is_exact_left_fold():
    """The numpy kernels' dot must be bit-identical to the Catalyst
    aggregate(zip_with(...), 0.0, acc+x) left fold — np.add.accumulate
    applies + sequentially, and the leading 0.0 column reproduces the
    fold's 0.0 + x0 start. Pin against a pure-Python reference fold."""
    import numpy as np

    from bright_spark.vectors.similarity import _fold_dot
    rng = np.random.default_rng(7)
    a = rng.standard_normal((50, 64))
    b = rng.standard_normal((50, 64))
    got = _fold_dot(a, b)
    for i in range(a.shape[0]):
        acc = 0.0
        for x, y in zip(a[i], b[i]):
            acc = acc + float(x) * float(y)
        assert got[i] == acc  # bitwise, not approx
    # -0.0 edge: an all-(-0.0) product row folds to +0.0 like Catalyst
    z = _fold_dot(np.array([[0.0, 0.0]]), np.array([[-1.0, -1.0]]))
    assert z[0] == 0.0 and np.signbit(z[0]) == np.signbit(0.0 + -0.0)
