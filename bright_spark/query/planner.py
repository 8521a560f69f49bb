"""Query planner: ParsedQuery -> AnalyzedQuery (SURVEY.md §3.1 step 4-5).

Maps the parsed clause tree onto the index's physical structures:

- text clauses route to a postings NAMESPACE (Q5): field None /
  content aliases -> the default content field; a field in the
  index's ``text_cols`` -> that field's own postings + BM25 stats
  (Bleve default-mapping semantics, store/store.go:126). A clause's
  analyzed tokens form a *group* — a must group is satisfied by any
  of its tokens (this is how wildcard/fuzzy expansions stay
  conjunction-correct: ``+pars* config`` requires some ``pars…``
  term, not all of them)
- wildcard (Q9) / fuzzy (Q10) clauses -> term-dictionary expansion
  against ``term_stats`` WITHIN the clause's field namespace
  (parquet min/max on term-sorted files prunes prefix patterns;
  expansion capped deterministically). The expansion reads term_stats
  on the driver with pyarrow when the footers' row groups fit the
  catalog's read budget, and with Spark otherwise
- attribute clauses (``lang:python``, ``doc_len:>200``, Q11/Q12) ->
  pushed-down predicates on the ``docs`` table; ranges stay attribute
  predicates on any stored column
- phrases (Q4) -> must-group of tokens + adjacency check (in the
  per-range phrase kernel when positions are stored, else by re-
  tokenizing only the candidate docs' own field text); NOT-phrases (Q8)
  run the same way as a sub-query whose match set is anti-joined
- unknown fields match nothing (Bleve missing-field behavior)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bright_spark.analysis.tokenizer import analyze_query_term, tokenize
from bright_spark.index.catalog import IndexCatalog
from bright_spark.query.parser import Clause, ParsedQuery

MAX_EXPANSIONS = 1024  # wildcard/fuzzy expansion bound (Bleve parity)


class TooManyClausesError(ValueError):
    """A wildcard/fuzzy pattern expanded past MAX_EXPANSIONS distinct
    terms. Bleve's disjunction searcher errors (TooManyClauses) rather
    than silently truncating to a partial result — so do we: a
    ``hel*`` matching 100k index terms should be narrowed, not
    answered over an arbitrary 1024-term subset."""


@dataclass
class TermSpec:
    term: str
    boost: float = 1.0
    field: str = "content"  # Q5: owning postings namespace

    @property
    def key(self) -> tuple[str, str]:
        return (self.field, self.term)


@dataclass
class PhraseSpec:
    tokens: list[str]
    boost: float = 1.0
    role: str = "must"
    field: str = "content"


@dataclass
class AttrPred:
    column: str
    op: str          # = > >= < <= between like
    value: str
    hi: str | None = None
    negated: bool = False


@dataclass
class AnalyzedQuery:
    must_groups: list[list[TermSpec]] = field(default_factory=list)
    should_terms: list[TermSpec] = field(default_factory=list)
    must_not_terms: list[tuple[str, str]] = field(default_factory=list)  # (field, term)
    phrases: list[PhraseSpec] = field(default_factory=list)
    must_not_phrases: list[PhraseSpec] = field(default_factory=list)
    attr_preds: list[AttrPred] = field(default_factory=list)
    # a positive clause existed but analyzed to no terms (unknown field,
    # pure-punctuation token, ...): the query is NOT match-all — Bleve's
    # disjunction over zero matching subqueries returns zero hits
    has_unmatchable_positive: bool = False
    # patterns whose expansion hit the cap under on_overflow='truncate'
    # (surfaced in the response envelope; empty in 'error' mode, which
    # raises instead)
    truncated_expansions: list[str] = field(default_factory=list)

    @property
    def scoring_terms(self) -> list[TermSpec]:
        out: dict[tuple[str, str], TermSpec] = {}

        def add(spec: TermSpec) -> None:
            prev = out.get(spec.key)
            if prev is None or spec.boost > prev.boost:
                out[spec.key] = spec

        for g in self.must_groups:
            for ts in g:
                add(ts)
        for ts in self.should_terms:
            add(ts)
        for ph in self.phrases:
            for t in ph.tokens:
                add(TermSpec(t, ph.boost, ph.field))
        return list(out.values())

    @property
    def is_match_all(self) -> bool:
        return not (self.must_groups or self.should_terms or self.must_not_terms
                    or self.phrases or self.must_not_phrases
                    or self.has_unmatchable_positive)

    @property
    def has_positive(self) -> bool:
        return bool(self.must_groups or self.should_terms or self.phrases
                    or self.has_unmatchable_positive)


def _wildcard_to_like(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out).lower()


def _like_prefix(like: str) -> str:
    """The literal prefix every match of a LIKE pattern starts with."""
    out, esc = [], False
    for ch in like:
        if esc:
            out.append(ch)
            esc = False
        elif ch == "\\":
            esc = True
        elif ch in "%_":
            break
        else:
            out.append(ch)
    return "".join(out)


def _within_edits(terms: list[str], q: str, k: int) -> list[str]:
    """``terms`` within Levenshtein distance ``k`` of ``q``, over code
    points as Spark's ``levenshtein``: one vectorized DP row sweep per
    candidate length, where row i is
    ``D[i][j] = min_l<=j (a[l] + j - l)`` with
    ``a[j] = min(D[i-1][j] + 1, D[i-1][j-1] + cost)``."""
    by_len: dict[int, list[str]] = {}
    for t in terms:
        by_len.setdefault(len(t), []).append(t)
    qa = np.frombuffer(q.encode("utf-32-le"), dtype=np.uint32)
    out = []
    for n, ts in by_len.items():
        chars = np.frombuffer("".join(ts).encode("utf-32-le"),
                              dtype=np.uint32).reshape(len(ts), n)
        j = np.arange(n + 1)
        row = np.broadcast_to(j, (len(ts), n + 1))
        for i, c in enumerate(qa, 1):
            a = np.empty_like(row)
            a[:, 0] = i
            a[:, 1:] = np.minimum(row[:, 1:] + 1,
                                  row[:, :-1] + (chars != c))
            row = np.minimum.accumulate(a - j, axis=1) + j
        out += [t for t, d in zip(ts, row[:, n]) if d <= k]
    return out


class Planner:
    def __init__(self, spark: SparkSession, catalog: IndexCatalog,
                 max_expansions: int | None = None,
                 on_overflow: str = "error"):
        """``on_overflow``: 'error' raises :class:`TooManyClausesError`
        when a wildcard/fuzzy pattern expands past ``max_expansions``
        (Bleve/Lucene parity); 'truncate' keeps the first cap terms
        (term-sorted, deterministic) and records the pattern in
        ``AnalyzedQuery.truncated_expansions`` for the response
        envelope."""
        self.spark = spark
        self.catalog = catalog
        self.extra = catalog.load_extra()
        self.meta = catalog.load_meta()
        self.max_expansions = max_expansions or MAX_EXPANSIONS
        if on_overflow not in ("error", "truncate"):
            raise ValueError(f"bad on_overflow: {on_overflow}")
        self.on_overflow = on_overflow
        self._doc_columns = None

    def doc_columns(self) -> dict[str, str]:
        """docs table column -> simple type name."""
        if self._doc_columns is None:
            self._doc_columns = self.catalog.docs_columns(self.spark)
        return self._doc_columns

    # --------------------------------------------------- field routing

    @property
    def content_field(self) -> str:
        return self.extra["content_col"]

    @property
    def text_fields(self) -> list[str]:
        """Analyzed fields with their own postings namespace (Q5)."""
        return [self.content_field, *self.extra["text_cols"]]

    def _text_field_of(self, field_name: str | None) -> str | None:
        """The postings namespace a clause scores against, or None if
        the clause is not a text clause (attribute / unknown field)."""
        if field_name is None or field_name in (self.content_field,
                                                "content", "_all"):
            return self.content_field
        if field_name in self.text_fields:
            return field_name
        return None

    # ------------------------------------------------------ expansion

    def _capped(self, terms: list[str], what: str,
                aq: AnalyzedQuery | None) -> list[str]:
        """Past the cap either error (Bleve's TooManyClauses — never
        silently answer over a partial expansion) or keep the first cap
        terms and flag the pattern, per ``on_overflow``. ``terms`` is
        sorted in code-point order (Spark's binary string order)."""
        cap = self.max_expansions
        if len(terms) > cap:
            if self.on_overflow == "error":
                raise TooManyClausesError(
                    f"{what} expands to more than {cap} terms; "
                    f"narrow the pattern")
            if aq is not None:
                aq.truncated_expansions.append(what)
            terms = terms[:cap]
        return terms

    def _spark_terms(self, cond) -> list[str]:
        """Up to cap + 1 terms of the term_stats rows matching ``cond``,
        in term order (the Spark executor of an expansion)."""
        self.catalog.note_spark_fallback()
        ts = self.catalog.term_stats(self.spark)
        rows = (ts.filter(cond).select("term").orderBy("term")
                .limit(self.max_expansions + 1).collect())
        return [r["term"] for r in rows]

    def expand_wildcard(self, pattern: str, text_field: str,
                        aq: AnalyzedQuery | None = None) -> list[str]:
        like = _wildcard_to_like(pattern)
        local = self.catalog.field_terms(text_field, _like_prefix(like))
        if local is not None:
            terms = sorted(local.filter(pc.match_like(local, like)).to_pylist())
        else:
            terms = self._spark_terms((F.col("field") == text_field)
                                      & F.col("term").like(like))
        return self._capped(terms, f"wildcard {pattern!r}", aq)

    def expand_fuzzy(self, term: str, fuzziness: int, text_field: str,
                     aq: AnalyzedQuery | None = None) -> list[str]:
        t = term.lower()
        local = self.catalog.field_terms(text_field)
        if local is not None:
            n = pc.utf8_length(local)
            near = local.filter(pc.and_(
                pc.greater_equal(n, len(t) - fuzziness),
                pc.less_equal(n, len(t) + fuzziness)))
            terms = sorted(_within_edits(near.to_pylist(), t, fuzziness))
        else:
            terms = self._spark_terms(
                (F.col("field") == text_field)
                & (F.length("term") >= len(t) - fuzziness)
                & (F.length("term") <= len(t) + fuzziness)
                & (F.levenshtein(F.col("term"), F.lit(t)) <= fuzziness))
        return self._capped(terms, f"fuzzy {term!r}~{fuzziness}", aq)

    # -------------------------------------------------------- analyze

    def _is_attr(self, field_name: str | None) -> bool:
        if field_name is None:
            return False
        if self._text_field_of(field_name) is not None:
            return False
        return field_name in self.doc_columns()

    def analyze(self, pq: ParsedQuery) -> AnalyzedQuery:
        aq = AnalyzedQuery()
        mode = self.meta["tokenizer"]

        for role, clauses in (("must", pq.must), ("should", pq.should),
                              ("must_not", pq.must_not)):
            for cl in clauses:
                self._analyze_clause(aq, cl, role, mode)
        return aq

    def _is_unknown_field(self, field_name: str | None) -> bool:
        if field_name is None:
            return False
        return (self._text_field_of(field_name) is None
                and field_name not in self.doc_columns())

    def _analyze_clause(self, aq: AnalyzedQuery, cl: Clause, role: str, mode: str) -> None:
        # Q5: a term scoped to a field that exists nowhere matches
        # nothing (Bleve: a term query on a missing field has no
        # postings) — as a must it kills the conjunction, as a should
        # it contributes nothing, as a must_not it excludes nothing
        if cl.kind != "range" and self._is_unknown_field(cl.field_name):
            if role == "must":
                aq.must_groups.append([])
            elif role == "should":
                aq.has_unmatchable_positive = True
            return
        # attribute predicates (Q5 on filter columns, Q11/Q12 ranges).
        # Ranges stay attribute predicates on ANY stored column — a
        # numeric/date range never scores against analyzed postings.
        if cl.kind == "range" or self._is_attr(cl.field_name):
            if cl.kind == "range" and cl.field_name not in self.doc_columns():
                raise ValueError(f"range on unknown attribute: {cl.field_name}")
            op = cl.op or ("like" if cl.kind == "wildcard" else "=")
            value = _wildcard_to_like(cl.value) if cl.kind == "wildcard" else cl.value
            aq.attr_preds.append(AttrPred(
                column=cl.field_name, op=op, value=value, hi=cl.hi,
                negated=(role == "must_not")))
            return

        tfield = self._text_field_of(cl.field_name)

        if cl.kind == "phrase":
            tokens = tokenize(cl.value, mode=mode)
            if not tokens:
                return
            if len(tokens) == 1:
                cl = Clause(kind="term", value=tokens[0], boost=cl.boost,
                            field_name=cl.field_name)
                return self._analyze_clause(aq, cl, role, mode)
            spec = PhraseSpec(tokens=tokens, boost=cl.boost, role=role,
                              field=tfield)
            # Q8 NOT phrase (-"hello world"): verified like a positive
            # phrase, then anti-joined (handlers/search.go:94 accepts it
            # via the query-string grammar)
            if role == "must_not":
                aq.must_not_phrases.append(spec)
            else:
                aq.phrases.append(spec)
            return

        if cl.kind == "wildcard":
            terms = self.expand_wildcard(cl.value, tfield, aq)
        elif cl.kind == "fuzzy":
            terms = self.expand_fuzzy(cl.value, cl.fuzziness, tfield, aq)
        else:  # term
            terms = []
            for tok in analyze_query_term(cl.value, mode=mode):
                terms.append(tok)

        if not terms:
            if role == "must":
                # unsatisfiable conjunct -> empty group kills the query
                aq.must_groups.append([])
            elif role == "should":
                aq.has_unmatchable_positive = True
            return
        specs = [TermSpec(t, cl.boost, tfield) for t in terms]
        if role == "must":
            aq.must_groups.append(specs)
        elif role == "should":
            aq.should_terms.extend(specs)
        else:
            aq.must_not_terms.extend(s.key for s in specs)
