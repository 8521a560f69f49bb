"""Request/response/config dataclasses.

Mirrors the reference wire models:
- IndexConfig {id, primaryKey, excludeAttributes[]} -> models/index.go:4-8
- SearchRequest {q, offset, limit, page, sort[], attributesToRetrieve[],
  attributesToExclude[]} -> models/index.go:11-19, handlers/search.go:20-81
- SearchResult envelope {hits, totalHits, totalPages} -> models/index.go:22-26,
  handlers/search.go:171-177
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

DEFAULT_LIMIT = 20  # handlers/search.go:31 (default size 20)


class SearchRequestError(ValueError):
    """400-class request validation error (handlers/search.go:74-76)."""


@dataclass(frozen=True)
class IndexConfig:
    """Per-index configuration (models/index.go:4-8)."""

    id: str
    primary_key: str | None = None
    exclude_attributes: tuple[str, ...] = ()

    # bright_spark extensions (build-time knobs; not in the reference —
    # they parametrize the explicit Spark shuffle/partition design)
    k1: float = 1.2
    b: float = 0.75
    tokenizer: str = "code"  # "code" | "simple" (whitespace)
    block_size: int = 128  # posting docs per compressed block
    # doc-range chunk = 2**range_bits doc ids. None = auto-resolved at
    # build time so the corpus yields ~8 ranges per parallel slot (the
    # query kernel parallelizes over ranges; a fixed 16 would leave a
    # small corpus with one range = one task, while 10^12 docs cap at
    # 2**16-doc ranges as SURVEY.md §2.4 B5 describes).
    range_bits: int | None = None
    # hash(term) partition buckets of `postings`. None = auto-resolved
    # at build time to ~the build partition count (bounded [16, 256])
    # so the final bucket-partitioned write parallelizes instead of
    # being capped at 16 tasks; real deployments size this to the
    # cluster (e.g. 1024-4096 buckets at 10^12 docs).
    n_term_buckets: int | None = None
    # term-sorted files per postings bucket dir. None = auto-resolved
    # at build time to n_build_partitions / n_term_buckets (>= 1): the
    # final write then parallelizes at ~the build width instead of
    # being capped at n_term_buckets tasks, and no single parquet file
    # has to hold a whole bucket (a terabyte at 10^12 docs). Files are
    # deterministic doc-range slices (pmod(range_id, S)), each still
    # term-sorted, so row-group min/max pruning is unchanged. A build
    # or compaction writes at most S files per bucket dir; between
    # compactions each mutation commit appends one dir to a bucket's
    # chain (S files from the Spark append path, or one shared file of
    # the driver path holding every touched bucket's rows), so files
    # per chain grow by one dir per commit, not per bucket, until the
    # auto-compaction collapses the chain.
    files_per_bucket: int | None = None
    # docs-table copy-on-write group span: group = doc_id >>
    # docs_range_bits, one version dir per group (catalog layout v4).
    # None = auto-resolved at build time to ~one group per build
    # partition (span bounded [2**10, 2**22]) — small enough that a
    # mutation rewrites only the groups its changed ids land in,
    # large enough that the manifest's group map stays compact.
    docs_range_bits: int | None = None
    store_content: bool = True  # keep raw content in docs table (R3 retrieve)
    # store per-emission base positions in postings (Q4 phrase queries
    # answered from the index alone). Default TRUE for reference
    # parity: Bleve's default mapping stores term vectors, so phrases
    # work out of the box in the reference (README.md:46-52) — and the
    # positional single-scan plan beats the content re-verify fallback
    # by ~6x. Costs ~2x posting payload; flip off for corpora that
    # never see phrase queries.
    store_positions: bool = True


@dataclass
class SearchRequest:
    """One search call (models/index.go:11-19).

    ``page`` (1-based) overrides offset when > 1:
    offset=(page-1)*limit (handlers/search.go:79-81). Query-param +
    JSON-body resolution (body overrides, handlers/search.go:39-63) is
    :meth:`from_params` (R7).
    """

    q: str = ""
    offset: int = 0
    limit: int = DEFAULT_LIMIT
    page: int | None = None
    sort: list[str] = field(default_factory=list)  # ["-_score"] default
    attributes_to_retrieve: list[str] = field(default_factory=list)
    attributes_to_exclude: list[str] = field(default_factory=list)

    # wire name (models/index.go json tags) -> dataclass attribute
    _WIRE = {
        "q": "q", "offset": "offset", "limit": "limit", "page": "page",
        "sort": "sort", "sort[]": "sort",
        "attributesToRetrieve": "attributes_to_retrieve",
        "attributesToRetrieve[]": "attributes_to_retrieve",
        "attributesToExclude": "attributes_to_exclude",
        "attributesToExclude[]": "attributes_to_exclude",
    }

    @classmethod
    def from_params(cls, query_params: dict | None = None,
                    body: dict | None = None) -> "SearchRequest":
        """R7: resolve query-string params + JSON body exactly like the
        reference handler (handlers/search.go:20-63): defaults limit=20
        page=1, then each body value overrides its query param only when
        non-empty / non-zero ("if provided"). Keys are the wire names
        (camelCase, with or without the ``[]`` suffix)."""
        resolved = {"q": "", "offset": 0, "limit": DEFAULT_LIMIT, "page": 1,
                    "sort": [], "attributes_to_retrieve": [],
                    "attributes_to_exclude": []}
        for src in (query_params or {}), (body or {}):
            for k, v in src.items():
                attr = cls._WIRE.get(k)
                if attr is None:
                    continue
                # zero-value body/query fields do NOT override
                # (search.go:42-62: `if bodyParams.X > 0 / != "" / len>0`)
                if v in (None, "", 0) or (isinstance(v, list) and not v):
                    continue
                if attr in ("offset", "limit", "page"):
                    try:
                        v = int(v)
                    except (TypeError, ValueError):
                        raise SearchRequestError(
                            f"{k} must be an integer") from None
                elif attr in ("sort", "attributes_to_retrieve",
                              "attributes_to_exclude"):
                    # a scalar for a list param (`?sort=-price`, or a
                    # JSON body string) wraps to a one-element list —
                    # never iterate a string character by character
                    if isinstance(v, str):
                        v = [v]
                    elif not isinstance(v, list):
                        raise SearchRequestError(
                            f"{k} must be a list of strings")
                resolved[attr] = v
        return cls(**resolved)

    def validate(self) -> None:
        if self.attributes_to_retrieve and self.attributes_to_exclude:
            # handlers/search.go:74-76 — mutually exclusive -> 400
            raise SearchRequestError(
                "attributesToRetrieve and attributesToExclude are mutually exclusive"
            )
        if self.limit <= 0:
            raise SearchRequestError("limit must be positive")
        if self.offset < 0:
            raise SearchRequestError("offset must be >= 0")
        if self.page is not None and self.page <= 0:
            raise SearchRequestError("page must be >= 1")

    @property
    def effective_offset(self) -> int:
        # `if page > 1` (handlers/search.go:79-81): page=1 — the wire
        # default — leaves an explicit offset in force
        if self.page is not None and self.page > 1:
            return (self.page - 1) * self.limit
        return self.offset


@dataclass
class SearchResponse:
    """Result envelope (models/index.go:22-26, handlers/search.go:171-177)."""

    hits: list[dict[str, Any]]
    total_hits: int
    limit: int
    # patterns whose wildcard/fuzzy expansion was truncated at the cap
    # (only under the engine's on_overflow='truncate' mode; the default
    # mode raises TooManyClausesError instead of answering partially)
    truncated_expansions: list[str] = field(default_factory=list)
    # execution that answered the query — "local" (driver-side reads,
    # zero Spark jobs) or "spark" (the kernel stage on Spark, or any
    # Spark job a driver-side read fell back to; SearchEngine.search);
    # diagnostic only, never on the wire
    path: str = field(default="", compare=False)

    @property
    def total_pages(self) -> int:
        return math.ceil(self.total_hits / self.limit) if self.limit else 0

    def to_dict(self) -> dict[str, Any]:
        out = {
            "hits": self.hits,
            "totalHits": self.total_hits,
            "totalPages": self.total_pages,
        }
        if self.truncated_expansions:
            out["truncatedExpansions"] = list(self.truncated_expansions)
        return out
