"""Similarity search over an embedding column (array<float>).

- Brute-force cosine top-k: all-JVM (``zip_with`` + ``aggregate`` —
  sequential left-to-right fold, deterministic across engines) with a
  ``TakeOrderedAndProject`` top-k (no global sort). The baseline and
  the oracle-parity path.
- LSH-bucketed ANN: deterministic random-hyperplane signatures (planes
  derived from md5, no RNG state), multiprobe within Hamming-adjacent
  buckets. The 100 TB scale path: candidate generation is a bucket
  equi-join instead of a full cross product.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product as an EXACT left-to-right IEEE fold —
    bit-identical to the Catalyst expression
    ``aggregate(zip_with(a, b, (x, y) -> x*y), 0.0, (acc, x) -> acc+x)``
    the all-JVM path evaluates (``np.add.accumulate`` applies the ufunc
    sequentially along the axis — no pairwise regrouping, unlike
    ``np.sum``). The leading 0.0 column reproduces the fold's
    ``0.0 + x0`` start (a ``-0.0`` first product folds to ``+0.0``)."""
    p = a * b
    z = np.zeros((p.shape[0], 1), dtype=np.float64)
    return np.add.accumulate(np.concatenate([z, p], axis=1), axis=1)[:, -1]


def _stack_f64(col: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow list column — the same
    per-element float->double widening as ``transform(v, cast double)``."""
    return np.stack([np.asarray(x, dtype=np.float64) for x in col])


def cosine_topk(df: DataFrame, query_vec: list[float], k: int | None = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exclude_ids: list[int] | None = None) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``:
    (vec_id, cosine) ordered desc, vec_id asc tiebreak. ``k=None``
    returns the FULL scored candidate set unordered (callers that
    re-rank under their own tie policy, e.g. rounded-score parity
    harnesses).

    Scoring runs as one Arrow-batched numpy kernel (guide: vectorized
    native code beats per-row interpreted folds); the fold-exact dot
    (:func:`_fold_dot`) keeps every cosine bit-identical to the old
    expression path, so oracle parity and ranking are unchanged. The
    top-k itself stays a Catalyst TakeOrderedAndProject."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack_f64(pdf[vec_col])
            dot = _fold_dot(v, np.broadcast_to(q, v.shape))
            norm = np.sqrt(_fold_dot(v, v))
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                "cosine": dot / (norm * qnorm)})

    out = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, "vec_id BIGINT, cosine DOUBLE")
    if exclude_ids:
        out = out.filter(~F.col("vec_id").isin(exclude_ids))
    if k is None:
        return out
    return out.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def _hyperplane(plane: int, dim: int) -> float:
    """Deterministic pseudo-random plane coefficient in [-1, 1):
    md5-derived, no RNG state (reproducibility requirement)."""
    h = hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:8]
    return int(h, 16) / float(2**31) - 1.0


def _planes_matrix(n_planes: int, dim: int) -> "np.ndarray":
    return np.array([[_hyperplane(j, d) for d in range(dim)]
                     for j in range(n_planes)], dtype=np.float64)


def _sigs_of(v: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """LSH signatures of the rows of ``v``: bit j = [fold-dot(v,
    plane_j) >= 0] — fold-exact, so identical to the expression path."""
    sig = np.zeros(v.shape[0], dtype=np.int64)
    for j in range(planes.shape[0]):
        d = _fold_dot(v, np.broadcast_to(planes[j], v.shape))
        sig |= (d >= 0).astype(np.int64) << j
    return sig


def lsh_signatures(df: DataFrame, dim: int, n_planes: int = 16,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, sig): sig bit j = [dot(v, plane_j) >= 0]. One Arrow-
    batched numpy pass (fold-exact dots) instead of n_planes
    interpreted expression folds per row."""
    planes = _planes_matrix(n_planes, dim)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack_f64(pdf[vec_col])
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                "sig": _sigs_of(v, planes)})

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        kern, "vec_id BIGINT, sig BIGINT")


def near_duplicates_cosine(df: DataFrame, threshold: float = 0.3,
                           n_planes: int = 6, dim: int | None = None,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           pair_chunk: int = 250_000) -> DataFrame:
    """Embedding near-dup pairs: candidates = vectors sharing an LSH
    hyperplane-signature bucket (equi-join — the 100 TB path: no cross
    product), verified by exact cosine >= threshold. Deterministic
    (md5-derived planes) and engine-portable, so the SQL oracle
    recomputes the identical bucket assignment from the same plane
    constants. Returns (id_a, id_b, cosine), id_a < id_b.

    Execution shape (guide §4.2: distribute with Spark, compute in
    numpy): ONE signature pass tags each vector with its bucket (no
    join — the old plan self-joined a signature frame back onto the
    table), then a per-bucket Arrow kernel generates the intra-bucket
    pairs and scores them vectorized, ``pair_chunk`` pairs at a time
    to bound task memory. Only surviving (id_a, id_b, cosine) rows
    leave the kernel — the O(bucket^2) candidate set never
    materializes as Spark rows (the old plan shuffled both full
    embedding arrays per candidate pair and re-evaluated norm folds
    pairwise). Every cosine is fold-exact (:func:`_fold_dot`), so
    results are bit-identical to the expression path."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _planes_matrix(n_planes, dim)

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack_f64(pdf[vec_col])
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                "emb": list(v),
                "sig": _sigs_of(v, planes)})

    from bright_spark.text.dedup import fan_out
    tagged = fan_out(df.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        tag, "vec_id BIGINT, emb ARRAY<DOUBLE>, sig BIGINT")
    thr = float(threshold)

    def bucket_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": np.empty(0, np.int64),
                                 "id_b": np.empty(0, np.int64),
                                 "cosine": np.empty(0, np.float64)})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        v = _stack_f64(pdf["emb"])[order]
        norm = np.sqrt(_fold_dot(v, v))
        ii, jj = np.triu_indices(n, k=1)
        out_a, out_b, out_c = [], [], []
        for s in range(0, ii.size, pair_chunk):
            ic, jc = ii[s:s + pair_chunk], jj[s:s + pair_chunk]
            dot = _fold_dot(v[ic], v[jc])
            cos = dot / (norm[ic] * norm[jc])
            keep = cos >= thr
            out_a.append(ids[ic[keep]])
            out_b.append(ids[jc[keep]])
            out_c.append(cos[keep])
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "cosine": np.concatenate(out_c)})

    # pin the bucket exchange's partition count: the shuffle carries
    # only (id, emb, sig) rows, so AQE's byte-target coalescing merges
    # it down (event log: 14 tasks for a 2.6 s pair-scoring stage)
    # while the per-bucket O(bucket^2) PYTHON compute is what needs
    # the cores. groupBy on the same key reuses the pinned
    # partitioning — no second exchange.
    n_parts = tagged.sparkSession.sparkContext.defaultParallelism
    return tagged.repartition(n_parts, "sig").groupBy("sig").applyInPandas(
        bucket_pairs, "id_a BIGINT, id_b BIGINT, cosine DOUBLE")


def probe_signatures(query_vec: list[float], dim: int, n_planes: int,
                     probe_hamming: int = 1) -> list[int]:
    """The query's LSH signature plus every signature within
    ``probe_hamming`` bits (multiprobe bucket set; driver-side)."""
    qsig = 0
    for j in range(n_planes):
        dot = sum(float(query_vec[d]) * _hyperplane(j, d) for d in range(dim))
        if dot >= 0:
            qsig |= 1 << j
    probes = {qsig}
    if probe_hamming >= 1:
        for j in range(n_planes):
            probes.add(qsig ^ (1 << j))
    if probe_hamming >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probes.add(qsig ^ (1 << i) ^ (1 << j))
    return sorted(probes)


def ann_cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                    dim: int | None = None, n_planes: int = 12,
                    probe_hamming: int = 1,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k over an UNINDEXED table: computes signatures
    on the fly (one full scan). The scale path is
    :func:`build_ann_index` + :func:`ann_topk_indexed`, where the
    probe set prunes sig partition directories instead."""
    dim = dim or len(query_vec)
    probes = probe_signatures(query_vec, dim, n_planes, probe_hamming)
    planes = _planes_matrix(n_planes, dim)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    probe_arr = np.asarray(sorted(probes), dtype=np.int64)

    # one fused Arrow pass: signature + probe filter + cosine — the old
    # plan computed a signature frame and semi-joined it back on id
    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack_f64(pdf[vec_col])
            keep = np.isin(_sigs_of(v, planes), probe_arr)
            if not keep.any():
                continue
            v = v[keep]
            dot = _fold_dot(v, np.broadcast_to(q, v.shape))
            norm = np.sqrt(_fold_dot(v, v))
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy(dtype=np.int64)[keep],
                "cosine": dot / (norm * qnorm)})

    out = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        kern, "vec_id BIGINT, cosine DOUBLE")
    if k is None:
        return out
    return out.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def build_ann_index(df: DataFrame, index_dir: str, dim: int,
                    n_planes: int = 12, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist the LSH ANN index: (vec_id, embedding) partitioned by
    the hyperplane signature. Queries then touch only the probe set's
    partition directories (``PartitionFilters`` on ``sig``) instead of
    recomputing signatures over the full table per query — at 10^12
    vectors that is the difference between reading ~(probes/2^P) of
    the data and a full scan. 2**n_planes bounds the directory count
    (n_planes=12 -> 4096 dirs; size to the cluster like postings
    buckets)."""
    import json
    import os
    planes = _planes_matrix(n_planes, dim)

    # fused tag pass: embedding rides through unchanged (stored bytes
    # identical to the source column); no signature-frame self-join
    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = pd.DataFrame({"vec_id": pdf[id_col].to_numpy(np.int64),
                                "embedding": pdf[vec_col].to_numpy()})
            out["sig"] = _sigs_of(_stack_f64(pdf[vec_col]), planes)
            yield out

    from bright_spark.text.dedup import fan_out
    out = fan_out(df.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        tag, "vec_id BIGINT, embedding ARRAY<FLOAT>, sig BIGINT")
    (out.repartition("sig")
        .write.mode("overwrite").partitionBy("sig").parquet(index_dir))
    with open(os.path.join(index_dir, "_ann_meta.json"), "w") as f:
        json.dump({"dim": dim, "n_planes": n_planes}, f)


def _leader_order_cols(id_col: str):
    """Deterministic leader sample order: lowest md5('ivf|' || id)
    first (id tiebreak) — the same ORDER BY re-derives the leader set
    in any engine, no RNG state."""
    key = F.md5(F.encode(
        F.concat(F.lit("ivf|"), F.col(id_col).cast("string")), "UTF-8"))
    return [key, F.col(id_col)]


def build_ivf_index(df: DataFrame, index_dir: str, n_leaders: int = 32,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """IVF (inverted-file) ANN index — the classic coarse-quantizer
    scale path: vectors are bucketed into the list of their nearest
    LEADER vector, and a query probes only the ``nprobe`` nearest
    lists. Leaders are a deterministic pseudo-random sample (lowest
    md5('ivf|' || vec_id), a seeded leader-clustering pick — no
    k-means RNG state, so a SQL oracle re-derives the identical index).
    Assignment cosine is rounded to 6 decimals with a leader-id
    tiebreak before the argmax, making the bucketing float-portable
    across engines. The assignment pass is ONE Arrow-batched
    numpy matmul over the table (leaders broadcast, L x dim tiny);
    lists are partition dirs, so a probe reads ~nprobe/L of the data
    via partition pruning — at 10^12 vectors, L is sized like postings
    buckets (e.g. 2^14 lists) and probes touch a handful of dirs."""
    import json
    import os
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    leaders = (df.select(F.col(id_col).alias("lid"),
                         F.col(vec_col).alias("lv"))
               .orderBy(*_leader_order_cols("lid"))
               .limit(n_leaders).collect())
    leaders = sorted(((int(r["lid"]), [float(x) for x in r["lv"]])
                      for r in leaders))  # ascending leader id = argmax
    leader_ids = np.array([lid for lid, _ in leaders], dtype=np.int64)
    lmat = np.array([v for _, v in leaders], dtype=np.float64)
    lnorm = np.linalg.norm(lmat, axis=1, keepdims=True)
    lnorm[lnorm == 0] = 1.0
    lmat = lmat / lnorm
    dim = lmat.shape[1]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array([np.asarray(x, dtype=np.float64)
                          for x in pdf["embedding"]])
            n = np.linalg.norm(v, axis=1, keepdims=True)
            n[n == 0] = 1.0
            cos = np.round((v / n) @ lmat.T, 6)
            out = pdf[["vec_id", "embedding"]].copy()
            # first max along ascending-leader-id axis == the SQL
            # "ORDER BY round(cos,6) DESC, lid ASC ... rn = 1" row
            out["list_id"] = leader_ids[np.argmax(cos, axis=1)]
            yield out

    src = df.select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).alias("embedding"))
    assigned = src.mapInPandas(
        assign, schema="vec_id BIGINT, embedding ARRAY<FLOAT>, list_id BIGINT")
    (assigned.repartition("list_id")
     .write.mode("overwrite").partitionBy("list_id").parquet(index_dir))
    # leaders live in an underscore-prefixed parquet sidecar (invisible
    # to the partitioned Spark read) — at the 100 TB sizing (L=2^14,
    # dim ~1k) that is a ~100 MB columnar table, not a JSON blob the
    # driver must parse per query; meta stays O(1)
    import pyarrow as pa
    import pyarrow.parquet as pq
    ldir = os.path.join(index_dir, "_leaders")
    os.makedirs(ldir, exist_ok=True)
    pq.write_table(
        pa.table({"lid": [lid for lid, _ in leaders],
                  "lv": [v for _, v in leaders]}),
        os.path.join(ldir, "part-0.parquet"))
    with open(os.path.join(index_dir, "_ivf_meta.json"), "w") as f:
        json.dump({"dim": dim, "n_leaders": n_leaders}, f)


def ivf_topk(spark, index_dir: str, query_vec: list[float],
             k: int | None = 10,
             nprobe: int = 4,
             exclude_ids: list[int] | None = None) -> DataFrame:
    """Approximate top-k from a persisted :func:`build_ivf_index` dir:
    the driver ranks leaders against the query with ONE numpy matmul
    over the leader parquet sidecar (no per-leader Python loops — at
    L=2^14, dim ~1k that is a single 16M-FLOP BLAS call), and the
    ``nprobe`` nearest lists become a partition-pruning
    ``list_id IN (...)`` predicate — only those dirs are read."""
    import os

    import numpy as np
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(index_dir, "_leaders"))
    lids = np.asarray(t.column("lid"), dtype=np.int64)
    lmat = np.array([np.asarray(v, dtype=np.float64)
                     for v in t.column("lv").to_pylist()])
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0
    ln = np.linalg.norm(lmat, axis=1)
    ln[ln == 0] = 1.0
    # same round-6 + leader-id ordering the SQL oracle applies
    cos = np.round((lmat @ q) / (ln * qn), 6)
    order = np.lexsort((lids, -cos))[:nprobe]
    probes = sorted(int(lids[i]) for i in order)
    df = spark.read.parquet(index_dir).filter(F.col("list_id").isin(probes))
    return cosine_topk(df, query_vec, k, exclude_ids=exclude_ids)


def ann_topk_indexed(spark, index_dir: str, query_vec: list[float],
                     k: int | None = 10, probe_hamming: int = 1) -> DataFrame:
    """Approximate top-k from a persisted :func:`build_ann_index` dir:
    the probe signatures become a partition-pruning ``sig IN (...)``
    predicate, so only the probed buckets are read."""
    import json
    import os
    with open(os.path.join(index_dir, "_ann_meta.json")) as f:
        meta = json.load(f)
    probes = probe_signatures(query_vec, meta["dim"], meta["n_planes"],
                              probe_hamming)
    df = spark.read.parquet(index_dir).filter(F.col("sig").isin(probes))
    return cosine_topk(df, query_vec, k)
