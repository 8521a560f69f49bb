"""Correctness checks that feed ``failed``/``attempted``.

Search answers are compared with the pure-Python BM25 oracle in
``tests/oracle.py``; dedup answers with exact recomputation of the same
definitions (word shingles, MD5 SimHash, float64 cosine). Each check
returns a list of human-readable mismatch strings; an empty list means
the answer is correct.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

SCORE_TOL = 1e-6
# word-shingle size of ``text.dedup``'s MinHash (fixed there)
SHINGLE_K = 3


def oracle_index(rows: list[dict], **kw):
    from tests.oracle import OracleIndex
    return OracleIndex(rows, **kw)


def search_mismatches(q: str, hits: list[tuple[int, float]], total: int,
                      expected: list[tuple[int, float]],
                      expected_total: int) -> list[str]:
    """Rank-identical doc ids, scores within 1e-6, exact total."""
    out = []
    got_ids = [d for d, _ in hits]
    exp_ids = [d for d, _ in expected]
    if got_ids != exp_ids:
        out.append(f"{q!r}: ids {got_ids} != oracle {exp_ids}")
    else:
        for (d, s), (_, e) in zip(hits, expected):
            if abs(s - e) > SCORE_TOL:
                out.append(f"{q!r}: doc {d} score {s} != oracle {e}")
                break
    if total != expected_total:
        out.append(f"{q!r}: total_hits {total} != oracle {expected_total}")
    return out


def check_search(oracle, req: dict, hits: list[tuple[int, float]],
                 total: int) -> list[str]:
    """One search request ({"q", "limit", "page"}) against the oracle
    (page p of size l = oracle top p*l, sliced)."""
    off = (req["page"] - 1) * req["limit"]
    exp, exp_total = oracle.search(req["q"], off + req["limit"])
    return search_mismatches(req["q"], hits, total, exp[off:], exp_total)


def response_hits(resp) -> tuple[list[tuple[int, float]], int]:
    """(doc_id, score) pairs and total of a SearchResponse or its wire
    dict."""
    if isinstance(resp, dict):
        return ([(int(h["doc_id"]), float(h["_score"])) for h in resp["hits"]],
                int(resp["totalHits"]))
    return ([(int(h["doc_id"]), float(h["_score"])) for h in resp.hits],
            int(resp.total_hits))


def check_docs(docs_dirs: list[str], expected: dict[int, str]) -> list[str]:
    """The docs table holds exactly the ``expected`` {doc_id: content}
    rows, each with ``content_sha256 == sha256(content)``."""
    out, seen = [], set()
    for d in docs_dirs:
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(f, columns=["doc_id", "content",
                                          "content_sha256"])
            for did, c, h in zip(t["doc_id"].to_pylist(),
                                 t["content"].to_pylist(),
                                 t["content_sha256"].to_pylist()):
                seen.add(did)
                if expected.get(did) != c:
                    out.append(f"doc {did}: content differs from the input")
                if hashlib.sha256(c.encode()).hexdigest() != h:
                    out.append(f"doc {did}: content_sha256 mismatch")
    missing = sorted(set(expected) - seen)
    if missing:
        out.append(f"docs table lacks ids {missing[:10]}")
    return out


# ------------------------------------------------------------- dedup

_WS = re.compile(r"\s+")


def _tokens(text: str) -> list[str]:
    # Spark: split(lower(trim(text)), '\s+'); trim strips spaces only
    return _WS.split(text.lower().strip(" "))


def shingles(text: str) -> set[str]:
    toks, k = _tokens(text), SHINGLE_K
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def check_minhash(texts: dict[int, str], pairs: list[tuple[int, int, float]],
                  planted: list[tuple[int, int]], threshold: float
                  ) -> list[str]:
    """Every reported pair's Jaccard is exact and >= threshold; every
    planted pair is reported."""
    out = []
    for a, b, j in pairs:
        exact = jaccard(texts[a], texts[b])
        if abs(exact - j) > 1e-9 or exact < threshold:
            out.append(f"minhash pair ({a},{b}) jaccard {j} (exact {exact})")
    found = {(a, b) for a, b, _ in pairs}
    out += [f"minhash missed planted pair {p}" for p in planted
            if p not in found]
    return out


def simhash64(text: str) -> tuple[int, int] | None:
    """(lo, hi) 32-bit halves, as ``text.dedup.simhash64`` defines
    them; None for a doc with no tokens."""
    toks = _tokens(text)
    if not toks:
        return None
    acc = np.zeros(64, dtype=np.int64)
    shifts = np.arange(32, dtype=np.int64)
    for term, cnt in Counter(toks).items():
        hx = hashlib.md5(term.encode()).hexdigest()
        bits = np.concatenate([(int(hx[0:8], 16) >> shifts) & 1,
                               (int(hx[8:16], 16) >> shifts) & 1])
        acc += (2 * bits - 1) * cnt
    w = 1 << shifts
    return int(((acc[:32] >= 0) * w).sum()), int(((acc[32:] >= 0) * w).sum())


def simhash_pairs(texts: dict[int, str], max_hamming: int
                  ) -> set[tuple[int, int]]:
    """Every (a, b), a < b, within ``max_hamming`` bits — exhaustive."""
    ids = sorted(texts)
    sig = {i: simhash64(texts[i]) for i in ids}
    ids = [i for i in ids if sig[i] is not None]
    full = np.array([(sig[i][1] << 32) | sig[i][0] for i in ids],
                    dtype=np.uint64)
    out = set()
    for x in range(len(ids)):
        xor = np.bitwise_xor(full[x + 1:], full[x])
        ham = np.array([bin(int(v)).count("1") for v in xor], dtype=np.int64)
        for y in np.nonzero(ham <= max_hamming)[0]:
            out.add((ids[x], ids[x + 1 + int(y)]))
    return out


def check_simhash(texts: dict[int, str], pairs: list[tuple[int, int]],
                  max_hamming: int) -> list[str]:
    """The reported pair set equals the exhaustive one (four 16-bit
    bands make the LSH exact for hamming <= 3)."""
    got, exp = set(pairs), simhash_pairs(texts, max_hamming)
    out = [f"simhash extra pair {p}" for p in sorted(got - exp)]
    out += [f"simhash missed pair {p}" for p in sorted(exp - got)]
    return out


def check_clusters(ids: list[int], pairs: list[tuple[int, int]],
                   labels: dict[int, int]) -> list[str]:
    """cluster_id = min id of the connected component, singletons
    label themselves."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = []
    for i in ids:
        if labels.get(i) != find(i):
            out.append(f"doc {i}: cluster {labels.get(i)} != {find(i)}")
    return out


def check_cosine(vecs: dict[int, np.ndarray],
                 pairs: list[tuple[int, int, float]],
                 planted: list[tuple[int, int]], threshold: float
                 ) -> list[str]:
    out = []
    for a, b, c in pairs:
        va, vb = vecs[a], vecs[b]
        exact = float(va @ vb / np.sqrt((va @ va) * (vb @ vb)))
        if abs(exact - c) > 1e-9 or exact < threshold - 1e-12:
            out.append(f"cosine pair ({a},{b}) {c} (exact {exact})")
    found = {(a, b) for a, b, _ in pairs}
    out += [f"cosine missed planted pair {p}" for p in planted
            if p not in found]
    return out
