"""Logical filter tree — the query algebra of the engine.

Mirrors the reference filter nodes (SURVEY.md §2.3; ``core/search/*``):
``by_term`` → :class:`Term`, ``by_terms`` → :class:`Terms`, ``by_prefix`` →
:class:`Prefix`, ``by_range`` → :class:`Range`, ``by_wildcard`` →
:class:`Wildcard`, ``by_edit_distance`` → :class:`Fuzzy`, ``by_phrase`` →
:class:`Phrase`, ``And``/``Or``/``Not`` → :class:`And`/:class:`Or`/:class:`Not`
(min-match on Or as in boolean_filter.hpp:106-131), ``all`` → :class:`All`,
``by_column_existence`` → :class:`ColumnExists`.

``normalize`` reproduces the boolean simplifications the reference performs at
prepare time (boolean_filter.cpp:37-43 double-negation unwrap, 352-430 Not
grouping into an exclusion set, empty folding).
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Filter:
    boost: float = 1.0


@dataclass
class Term(Filter):
    term: str
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass
class Terms(Filter):
    """Set of terms, disjunction with optional min_match and optional
    PER-TERM boosts (terms_filter.hpp:38-52 search_terms boost field)."""

    terms: tuple[str, ...]
    min_match: int = 1
    boosts: tuple[float, ...] | None = None  # parallel to terms; None = all 1.0
    merge: str = "sum"  # kSum/kMax/kMin over member-term legs (terms_filter.hpp:69)
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass
class Prefix(Filter):
    prefix: str
    scored_terms_limit: int = 1024  # prefix_filter.hpp:58 default
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass
class Range(Filter):
    """Lexicographic term range (range_filter.cpp); numeric ranges should use
    native numeric columns + Parquet stats instead (granular_range analogue)."""

    low: str | None = None
    high: str | None = None
    include_low: bool = True
    include_high: bool = True
    scored_terms_limit: int = 1024
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass
class Wildcard(Filter):
    """Lucene-style pattern: ``%``/``_`` like the reference (wildcard_filter.cpp)."""

    pattern: str
    scored_terms_limit: int = 1024
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass
class Fuzzy(Filter):
    """by_edit_distance (levenshtein_filter.cpp:139-310): terms within
    ``max_distance`` Levenshtein edits; candidate cap ``max_terms``;
    ``with_transpositions`` enables the Damerau/OSA variant.

    ``prefix`` (levenshtein_filter.cpp:241-265, automaton built over
    (prefix, term)): candidates must START with the exact prefix and only
    the remainder is matched within ``max_distance`` of ``term``; the
    similarity length uses |prefix| + |term| (collect_terms,
    levenshtein_filter.cpp:181-184). ``max_distance=0`` degenerates to an
    exact match of prefix+term, like the reference's ``t()`` short-circuit
    (levenshtein_filter.cpp:67-69)."""

    term: str
    max_distance: int = 1
    max_terms: int = 50  # benchmark default, index-search.cpp:393-394
    with_transpositions: bool = False
    boost: float = 1.0
    field: str | None = None  # None = the index's default field
    prefix: str = ""  # exact required prefix; edits apply after it


@dataclass
class Phrase(Filter):
    """Positional phrase (phrase_filter.cpp). Slots are fixed terms (str) or
    multiterm filters (Prefix/Wildcard/Fuzzy/Range/Terms) — the variadic form
    of phrase_query.cpp:119-303 (each filter slot expands against the term
    dict, capped at its scored_terms_limit). tf = #occurrences, scored by
    the searcher's scorer and dtype like a term's. At the root, the idf is
    by default that of the phrase's own document frequency, bound on the
    driver after the kernel counted the matches (documented divergence:
    the reference sums the member terms' idfs — ``Searcher(...,
    phrase_scoring="sum_of_terms")``, which nested phrases always use)."""

    terms: tuple  # str | Filter per slot
    boost: float = 1.0
    field: str | None = None  # None = the index's default field
    # per-slot position GAP from the previous slot (phrase_filter.hpp:73-86
    # push_back(offs): part position = 1 + prev position + offs). offsets[0]
    # is ignored — the first part's offset is normalized away by base_offset
    # (phrase_filter.cpp:296-309; a leading gap cannot move the phrase).
    # None = consecutive slots (all gaps 0).
    offsets: tuple[int, ...] | None = None


@dataclass
class SamePosition(Filter):
    """All terms occurring at the identical position in a doc
    (same_position_filter.cpp). tf = number of shared positions; scored like
    :class:`Phrase` (stats and norms of the first slot's field).

    Each slot is either a plain term (looked up in ``field``) or a
    ``(field, term)`` pair — the reference's options are (field, term)
    pairs precisely so DIFFERENT fields can be required to align at one
    position (array sub-objects: ``{a: 300, b: 90, c: 9}`` matches docs
    whose a/b/c arrays carry those values at the same index,
    same_position_filter_tests.cpp sub_objects_unordered)."""

    terms: tuple  # str | (field, term) per slot
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass
class NgramSimilarity(Filter):
    """by_ngram_similarity (ngram_similarity_filter.hpp:34-50,
    ngram_similarity_query.cpp): docs where the longest chain of the query
    ngram sequence appearing IN ORDER at strictly increasing positions has
    length L with ``L / len(ngrams) >= threshold``. Score = boost * L/N
    (the reference's filter_boost ratio; its additional per-ngram scorer
    fold is a documented divergence). ``ngrams`` here are index terms —
    pair with an ngram analyzer for character-ngram semantics."""

    ngrams: tuple[str, ...]
    threshold: float = 1.0
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass
class And(Filter):
    """Conjunction; ``merge`` picks the score merge type for the parts —
    kSum/kMax/kMin (sort.hpp:464-468 MergeType)."""

    parts: tuple[Filter, ...]
    merge: str = "sum"  # sum | max | min
    boost: float = 1.0


@dataclass
class Or(Filter):
    parts: tuple[Filter, ...]
    min_match: int = 1
    merge: str = "sum"  # sum | max | min (MergeType, sort.hpp:464-468)
    boost: float = 1.0


@dataclass
class Not(Filter):
    part: Filter
    boost: float = 1.0


@dataclass
class All(Filter):
    """Match all docs with constant score = boost (all_filter.cpp)."""

    boost: float = 1.0


@dataclass
class ColumnExists(Filter):
    """Docs where a stored column is non-null (column_existence_filter.cpp);
    ``prefix_match`` treats ``column`` as a name prefix and matches docs where
    ANY stored column whose name starts with it is non-null (the reference's
    prefix option)."""

    column: str
    prefix_match: bool = False
    boost: float = 1.0


@dataclass
class NumericRange(Filter):
    """Numeric range over a stored column — the engine surface replacing
    ``by_granular_range`` (granular_range_filter.cpp:42-91): the reference
    indexes multi-precision trie terms because its terms are opaque bytes;
    on Spark the same query is a native predicate on a numeric column, pruned
    by parquet min/max stats. Constant score = boost, doc order."""

    column: str
    low: float | None = None
    high: float | None = None
    include_low: bool = True
    include_high: bool = True
    boost: float = 1.0


@dataclass
class Nested(Filter):
    """ByNestedFilter / ChildToParentJoin (nested_filter.cpp:99-305): match
    parents whose CHILDREN satisfy ``child``. The reference encodes nesting
    positionally (children precede their parent in the segment, parents found
    via a bitset seek); the Spark-first equivalent is declarative: child docs
    carry their parent's key in stored column ``parent_key_col`` (parents
    have it NULL), and the join is a groupBy(child→parent) aggregate.

    ``match``: 'any' (kMatchAny), 'min' (kMatchMin with ``min_children``),
    'none' (kMatchNone — parents with NO matching child, constant score).
    ``merge``: child-score fold into the parent — sum/max/min/avg
    (kSum/kMax/kMin/kAvg mergers)."""

    child: Filter
    parent_key_col: str = "parent_key"
    match: str = "any"  # any | min | none
    min_children: int = 1
    # Match.Max (nested_filter.hpp:35-52 — a Match is a [Min, Max] range;
    # None = doc_limits::eof(), i.e. uncapped like kMatchAny)
    max_children: int | None = None
    merge: str = "sum"  # sum | max | min | avg
    boost: float = 1.0


@dataclass
class Empty(Filter):
    boost: float = 0.0


def normalize(f: Filter) -> Filter:
    """Boolean simplification pass (boolean_filter.cpp:37-43, 352-430)."""
    if isinstance(f, Not):
        inner = normalize(f.part)
        if isinstance(inner, Not):  # double negation unwrap
            return normalize(inner.part)
        return Not(inner, boost=f.boost)
    if isinstance(f, (And, Or)):
        parts = tuple(normalize(p) for p in f.parts)
        # flatten same-type nesting (when no competing boost/min_match/merge)
        flat: list[Filter] = []
        for p in parts:
            if (
                type(p) is type(f)
                and p.boost == 1.0
                and getattr(p, "min_match", 1) == 1
                and getattr(p, "merge", "sum") == "sum"
                and f.merge == "sum"
                # a nested Or holding a Not must NOT be flattened into an
                # outer Or: its exclusion is scoped to the inner group
                # (all-docs minus X as ONE leg), while a direct Not under
                # the outer Or excludes from the WHOLE disjunction —
                # boolean_filter_tests.cpp:15231-15261 wraps the Not in a
                # single-branch Or for exactly this reason. (And-flattening
                # is safe: intersection with all∖X == global exclusion.)
                and not (
                    isinstance(f, Or) and any(isinstance(q, Not) for q in p.parts)
                )
            ):
                flat.extend(p.parts)
            elif isinstance(p, Empty) and isinstance(f, Or):
                continue
            else:
                flat.append(p)
        if isinstance(f, And) and any(isinstance(p, Empty) for p in flat):
            return Empty()
        # min_match == 0 is NOT unwrapable: an explicit 0 collapses the Or
        # to all-docs regardless of its single part (Or::prepare,
        # boolean_filter.cpp:492-496)
        if len(flat) == 1 and getattr(f, "min_match", 1) == 1 and not isinstance(flat[0], Not):
            only = flat[0]
            if f.boost != 1.0:
                return _with_boost(only, only.boost * f.boost)
            return only
        if isinstance(f, And):
            return And(tuple(flat), merge=f.merge, boost=f.boost)
        return Or(tuple(flat), min_match=f.min_match, merge=f.merge, boost=f.boost)
    return f


def _with_boost(f: Filter, boost: float) -> Filter:
    import copy

    g = copy.copy(f)
    g.boost = boost
    return g
