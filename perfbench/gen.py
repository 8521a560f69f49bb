"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and sizes): the same
seed gives byte-identical inputs, and the program under test only ever
sees the generated rows, never the seed. Generation runs off every
clock.
"""

from __future__ import annotations

import random
import re
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from bright_spark.fixtures import NEEDLES, make_repos_spark
from bright_spark.query.planner import MAX_EXPANSIONS

# FIXTURES.md F2 query classes
QUERY_CLASSES = ("term", "or", "and", "hot", "needle", "expand",
                 "phrase", "filter", "not", "page")
# one search round, in the fixed order the search workload issues it:
# every class once and ``expand`` twice, as a wildcard and as a fuzzy
# query (the mix is the same for every seed; only the drawn terms differ)
ROUND = QUERY_CLASSES[:6] + ("expand",) + QUERY_CLASSES[6:]

# Zipf exponent of the term draws
ZIPF_S = 1.1
# expansions of a wildcard query's 4-letter prefix: the prefixes of a
# generated corpus expand to anything from 1 to ~800 terms, and a query
# that expands to hundreds costs ~2.5x one that expands to one, so the
# band keeps the wildcard's cost the same whatever the seed draws
WILDCARD_EXPANSIONS = (200, 400)
# planted embedding clusters: dimension, clusters, members per cluster
EMB_DIM = 16
EMB_CLUSTERS = 10
EMB_PER_CLUSTER = 3

_WORD = re.compile(r"^[a-z]+$")
_BASE = re.compile(r"[A-Za-z0-9_]+")


def corpus(spark, seed: int, n: int, path: str) -> pd.DataFrame:
    """The F1 code corpus (repo, path, commit, lang, content) of rows
    ``0..n-1``: generated row-parallel by ``make_repos_spark``, written
    to parquet at ``path`` and read back in row order (Spark numbers
    the part files by partition, and partitions hold consecutive
    rows)."""
    make_repos_spark(spark, n, seed,
                     partitions=spark.sparkContext.defaultParallelism
                     ).write.parquet(path)
    return pq.read_table(path).to_pandas()


def zipf_pick(rng: random.Random, items: list):
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(items))]
    return rng.choices(items, weights=weights, k=1)[0]


class QueryMix:
    """Zipf-weighted F2 queries over a corpus vocabulary.

    ``df`` maps term -> document frequency (from the oracle). Terms are
    ranked by df; the few hottest feed the ``hot`` class and the next
    few hundred are drawn Zipf-weighted for every other class, so some
    queries repeat within a run (the engine's df cache hits) and others
    do not."""

    def __init__(self, seed: int, df: dict[str, int], contents: list[str],
                 n_docs: int):
        self.rng = random.Random(f"{seed}:queries")
        ranked = sorted(df, key=lambda t: (-df[t], t))
        self.hot = ranked[:5]
        self.words = [t for t in ranked[5:400] if _WORD.match(t)]
        self.prefixes = Counter(t[:4] for t in df if len(t) >= 4)
        self.contents = contents
        self.needles = [n for n, host in NEEDLES if host < n_docs]
        self.n_expand = 0

    def _term(self) -> str:
        return zipf_pick(self.rng, self.words)

    def _two(self) -> tuple[str, str]:
        a = self._term()
        b = self._term()
        while b == a:
            b = self._term()
        return a, b

    def _wildcard(self) -> str:
        """A Zipf-drawn term's prefix that expands within
        :data:`WILDCARD_EXPANSIONS` (on a corpus too small to have one,
        within the planner's expansion limit, so no TooManyClausesError)."""
        lo, hi = WILDCARD_EXPANSIONS
        n = {w: self.prefixes[w[:4]] for w in self.words if len(w) >= 4}
        words = ([w for w in n if lo <= n[w] <= hi]
                 or [w for w in n if n[w] <= MAX_EXPANSIONS])
        return zipf_pick(self.rng, words)[:4] + "*"

    def _fuzzy(self) -> str:
        t = self._term()
        i = self.rng.randrange(len(t))
        c = self.rng.choice("abcdefghijklmnopqrstuvwxyz")
        return t[:i] + c + t[i + 1:] + "~1"

    def _phrase(self) -> str:
        """Two adjacent single-word base tokens of a random doc, so the
        phrase has at least one hit."""
        while True:
            text = self.rng.choice(self.contents)
            toks = _BASE.findall(text)
            pairs = [(a, b) for a, b in zip(toks, toks[1:])
                     if _WORD.match(a) and _WORD.match(b) and a != b]
            if pairs:
                a, b = self.rng.choice(pairs)
                return f'"{a} {b}"'

    def query(self, cls: str) -> dict:
        """One request: {"cls", "q", "limit", "page"}."""
        limit, page = 10, 1
        if cls == "term":
            q = self._term()
        elif cls == "or":
            q = " ".join(self._two())
        elif cls == "and":
            q = " AND ".join(self._two())
        elif cls == "hot":
            q = self.rng.choice(self.hot)
        elif cls == "needle":
            q = self.rng.choice(self.needles)
        elif cls == "expand":
            # wildcard and fuzzy take turns
            q = self._fuzzy() if self.n_expand % 2 else self._wildcard()
            self.n_expand += 1
        elif cls == "phrase":
            q = self._phrase()
        elif cls == "filter":
            lang = self.rng.choice(["python", "go", "java", "js"])
            q = f"lang:{lang} {self._term()}"
        elif cls == "not":
            a, b = self._two()
            q = f"{a} NOT {b}"
        elif cls == "page":
            q, page = self._term(), 2
        else:
            raise ValueError(f"unknown query class {cls!r}")
        return {"cls": cls, "q": q, "limit": limit, "page": page}

    def rounds(self, n_rounds: int) -> list[dict]:
        return [self.query(c) for _ in range(n_rounds) for c in ROUND]


# ------------------------------------------------------------- ingest

def marker(seed: int, cycle: int) -> str:
    """A batch marker: one lowercase letters-only token (the code
    tokenizer keeps it whole), unique per (seed, cycle), absent from
    the generated vocabulary."""
    n = seed * 1000 + cycle
    letters = []
    while True:
        n, r = divmod(n, 26)
        letters.append(chr(ord("a") + r))
        if n == 0:
            break
    return "zqmark" + "".join(reversed(letters))


class IngestPlan:
    """The seeded write sequence of the ingest workload.

    ``rows`` are corpus rows; row ``i`` becomes the document with the
    numeric primary key ``file_id = i``. The first ``n_base`` are the
    initial documents and the rest feed the inserts. Each cycle POSTs
    one 20-doc batch (10 replacements of base docs not touched before,
    10 inserts with fresh ids), every doc carrying the batch's marker
    token, then DELETEs 5 of the batch's inserts. Ids are never reused,
    so the expected live set after any step is known exactly."""

    REPLACE = 10
    INSERT = 10
    DELETE = 5

    def __init__(self, seed: int, rows: list[dict], n_base: int):
        self.seed = seed
        self.rng = random.Random(f"{seed}:ingest")
        self.pool = [{"file_id": i, **r} for i, r in enumerate(rows)]
        self.base = self.pool[:n_base]
        self.untouched = list(range(n_base))
        self.rng.shuffle(self.untouched)
        self.next_id = n_base

    def batch(self, cycle: int) -> dict:
        """{"marker", "docs", "delete", "ids"} for cycle ``cycle``."""
        m = marker(self.seed, cycle)
        docs = []
        for fid in self.untouched[:self.REPLACE]:
            r = dict(self.pool[fid])
            r["content"] = r["content"] + f"\n# revised {m}\n"
            docs.append(r)
        self.untouched = self.untouched[self.REPLACE:]
        for _ in range(self.INSERT):
            r = dict(self.pool[self.next_id])
            self.next_id += 1
            r["content"] = r["content"] + f"\n# added {m}\n"
            docs.append(r)
        inserted = [d["file_id"] for d in docs[self.REPLACE:]]
        delete = sorted(self.rng.sample(inserted, self.DELETE))
        return {"marker": m, "docs": docs, "delete": delete,
                "ids": sorted(d["file_id"] for d in docs)}


# -------------------------------------------------------------- dedup

def dedup_corpus(seed: int, base: list[str], dup_share: float = 0.1
                 ) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """(doc_id, text) rows over the corpus texts ``base`` where
    ``dup_share`` of the docs are replaced by planted near-duplicates
    of an earlier doc: its text with one extra word, so word-3-shingle
    Jaccard stays above 0.97 (MinHash LSH then misses a pair with
    probability < 1e-6). Returns the rows and the planted (id_a, id_b)
    pairs, id_a < id_b."""
    rng = random.Random(f"{seed}:dedup")
    n = len(base)
    texts, planted = [], []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            src = rng.randrange(i)
            texts.append(texts[src] + f" tweak{rng.randrange(10**6)}")
            planted.append((src, i))
        else:
            texts.append(base[i])
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts}), planted


def embeddings(seed: int, n: int
               ) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """(vec_id, embedding) rows: ``EMB_CLUSTERS`` planted groups of
    ``EMB_PER_CLUSTER`` copies of a random direction with 1e-7 jitter (so
    every hyperplane signature bit agrees with overwhelming
    probability), the rest independent gaussian vectors. Returns the
    rows and every planted intra-cluster pair."""
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, EMB_DIM))
    ids = rng.permutation(n)
    planted = []
    for c in range(EMB_CLUSTERS):
        members = sorted(int(x) for x in ids[c * EMB_PER_CLUSTER:
                                             (c + 1) * EMB_PER_CLUSTER])
        center = rng.normal(size=EMB_DIM)
        for m in members:
            vecs[m] = center + rng.normal(scale=1e-7, size=EMB_DIM)
        planted += [(a, b) for i, a in enumerate(members)
                    for b in members[i + 1:]]
    vecs = vecs.astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": [list(map(float, v)) for v in vecs]}), \
        sorted(planted)
