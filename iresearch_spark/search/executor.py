"""Query execution: one compile → one kernel → one merge.

Every filter but Nested — Term/Terms/multiterm, boolean trees, Phrase and
SamePosition (root or nested), NgramSimilarity, ColumnExists, NumericRange
— takes the same path, and ``search``, ``matches`` and ``search_many`` /
``PreparedBatch`` differ only in the merge:

* ``prepare`` — :func:`compile_plans`, pure driver code with no Spark job:
  expand multiterm leaves against the field's sorted term dictionary, held
  on the driver as numpy arrays (:meth:`IndexReader.fuzzy_vocab_sorted`,
  loaded once per reader and field with pyarrow; prefix/range/wildcard are
  binary-search slices, fuzzy is the Levenshtein automaton's level walk),
  look up global stats (field_stats + per-term df) once, bake
  per-term idf into a plan tree (collectors.cpp analogue). A root
  Phrase/SamePosition under ``phrase_scoring="exact_df"`` leaves its idf
  unbound: the phrase df is only known after the kernel runs.
* ``execute`` — one per-segment loop (:func:`_segment_loop`, the
  per-segment reader of segment_reader.hpp:35-110): one pyarrow read of its
  segments' postings from the index parquet, then one kernel call per
  segment. Each process holds what does not depend on the query once per
  generation (:data:`_SEGMENT_STATE`): every segment's norms and deletes,
  and the postings files' footers with each row group's (field, term)
  range, so a read opens only the row groups its terms and tail ranges
  select (:func:`_row_groups`), and a stored-column leaf the docs rows of
  its segment (:func:`_stored_matches`).
  :meth:`Searcher._execute_batch` places the loop. A k-bounded batch
  planning at most ``Searcher.DRIVER_MAX_POSTINGS`` postings runs the loop
  serially in the driver over every live segment, with no Spark job (the
  reference's in-process loop, index-search.cpp:676-748). A larger batch,
  and ``matches``, run it as one shuffle-free Spark job
  (:meth:`Searcher._segment_job`): ``range(P).mapInArrow`` with the live
  segments packed into P tasks, each looping over its own segments. Each
  segment's kernel decodes every posting list read for it in one
  vectorized pass (:class:`_SegmentViews`: one VByte decode of all doc
  ids, one of all freqs), runs the boolean algebra vectorized in numpy
  (conjunction = sorted-array intersection ≙ conjunction.hpp;
  disjunction = scores added into a dense per-segment accumulator, or
  unique+add.at for the exact union ≙ disjunction.hpp; exclusion ≙
  exclusion.hpp; phrases = packed-key position intersection), scores
  through the searcher's :class:`ScoreModel`, and emits its local top-k
  under (score desc, doc_id asc) — or, for ``matches``, every match.
* merge — every k-bounded call (``search``, ``search_many``,
  ``PreparedBatch.execute``) has one merge, on the driver: the union of
  per-segment top-k rows is tiny, and the driver orders it by (score desc,
  segment_id asc, doc_id asc) with one numpy ``lexsort`` ≙ the min-heap
  loop of utils/index-search.cpp:676-748, binding an unbound phrase idf
  from the summed per-segment match counts first. A keyed search then
  reads its ≤k doc keys by offset from the held docs row groups
  (:meth:`IndexReader.fetch_docs`). The merged rows stay on the driver
  (:class:`_LocalResult`): ``collect``/``toPandas``/``count``/``take`` answer
  from them, and only a Spark operation on the result builds its JVM plan.
  ``matches`` has no merge: its result is the lazy kernel job itself.
  ``search_ordered`` runs the same loop and merge with a kernel that scores
  every scorer's plan on each segment, and ``highlight`` / ``payloads``
  read the sidecar rows of ``search``'s ≤k hits on the driver.

Top-k pruning (the wanderator, formats_10.cpp:2239-2578):

* single term — **block-max WAND**: per-128-doc-block score upper bounds from
  each block's max freq + the segment's min doc length; blocks are processed
  in descending upper bound and scoring stops once the running k-th score
  beats the next block's bound.
* disjunction / multiterm — **MaxScore**: per-term upper bounds, terms
  processed in descending bound; once the suffix bound-sum drops below the
  running threshold, later (cheap) terms are scored only for the blocks that
  contain surviving candidates (skip-list seek ≙ ``np.searchsorted`` into
  each block's last doc), and candidates that can no longer reach the k-th
  score are dropped.
* conjunction — cost-ordered: the rarest term is taken whole, every other
  term only at the blocks containing the current intersection.

All bounds are conservative (most favorable norm, strict comparisons), so
results stay rank-identical to the unpruned evaluation.

``Searcher.search_many`` evaluates a BATCH of queries in that one pass:
postings for the union of all query terms are read once per segment, each
plan is pruned independently in-kernel, and the driver merges the per-query
top-k; ``search`` is a batch of one.

Scale notes: the driver holds each queried field's vocabulary (about 65
bytes per term); each task's postings read is pruned by parquet min/max
stats over the (field, term)-sorted range layout (field equality plus exact,
prefix, range and wildcard-prefix term ranges all prune row groups), from
footers each process reads once per generation (a few KB per file);
per-segment kernels are independent; the only other driver-side data is
the merge's candidate rows, at most #segments × #queries × (k + 16) (each
segment keeps 16 extra rows of an ``exact_df`` root phrase).

Multi-field: every filter leaf resolves a field (None → index default) with
its OWN df/doc-length/avgdl stats (per-field collectors, bm25.cpp:204-276).
A batch touching ONE field pushes ``field == f`` into the postings and norms
scans and runs the pruned kernels unchanged; a batch spanning several fields
keys kernel lookups by ``field\\x1fterm`` composites, and a single plan
mixing fields evaluates exact with per-leaf norms (rank-identical — WAND
bounds need one norm space).
"""

from __future__ import annotations

import dataclasses as _dataclasses
import functools as _functools
import heapq as _heapq
import math
import operator
import os
from dataclasses import dataclass, field as _dc_field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from ..index.builder import FIELD_SEP
from ..index.codec import (
    BLOCK_SIZE,
    _flat_bytes,
    decode_positions,
    decode_postings,
    vbyte_decode,
)
from ..index.reader import (  # _SEGMENT_STATE: the per-generation state this module fills
    _SEGMENT_STATE,  # noqa: F401
    _SEGMENT_STATE_LOCK,
    IndexReader,
    generation_state,
    held_parts,
    read_frame,
    read_table,
    table_datasets,
)
from . import filters as flt
from .bm25 import B_DEFAULT, K_DEFAULT, BM25Model, ScoreModel, get_model
from .lev_automaton import LevAutomaton, SortedVocab

KERNEL_OUT_SCHEMA = "segment_id int, doc_id int, score double"
BATCH_OUT_SCHEMA = "query string, " + KERNEL_OUT_SCHEMA
#: the segment kernel's rows: a batch row plus the segment's match count of
#: an unbound (exact_df) phrase plan, 0 for every other plan
_SEGMENT_OUT_SCHEMA = BATCH_OUT_SCHEMA + ", seg_matches long"


def _dtype(dtype: str):
    return np.float32 if dtype == "float32" else np.float64


@dataclass
class ScanSpec:
    """What one compiled batch needs from the postings table, per field.

    ``mixed`` (two or more fields in one batch) switches the kernels to
    composite ``field + FIELD_SEP + term`` keys so one postings scan serves
    every field (the per-field term spaces stay disjoint, like the
    reference's per-field term readers)."""

    field_terms: dict[str, list[str]] = _dc_field(default_factory=dict)
    field_specs: dict[str, list[tuple]] = _dc_field(default_factory=dict)
    # a nested Phrase/SamePosition compiled into the batch needs pos_enc in
    # the postings scan (positions stay unread for purely boolean batches);
    # pos_terms tracks WHICH terms per field, so the scan splits and only
    # the phrase slots' rows read position bytes — one phrase in a large
    # batch must not drag every other term's (typically largest) stream
    need_positions: bool = False
    pos_terms: dict[str, list[str]] = _dc_field(default_factory=dict)
    # planned postings: the df sum over every plan's scored leaves (an All
    # or stored leg counts every doc), summed over the batch's plans — the
    # placement input of Searcher._execute_batch. Unscored multiterm tails
    # do not count: top-k prunes their 0-score matches.
    planned_postings: int = 0
    # key → (docs columns, pyarrow predicate) per stored leaf, :func:`_stored_leaf`
    stored: dict[str, tuple] = _dc_field(default_factory=dict)

    @property
    def fields(self) -> list[str]:
        return sorted(set(self.field_terms) | set(self.field_specs))

    @property
    def mixed(self) -> bool:
        return len(self.fields) > 1

    def is_empty(self) -> bool:
        return not any(self.field_terms.values()) and not any(
            self.field_specs.values()
        )

    def key(self, field: str, term: str) -> str:
        """Kernel lookup key for a (field, term) posting list."""
        return f"{field}{FIELD_SEP}{term}" if self.mixed else term

    def key_prefix(self, field: str) -> str:
        return f"{field}{FIELD_SEP}" if self.mixed else ""


# --------------------------------------------------------------------------
# Multiterm expansion (prefix/range/wildcard/fuzzy) over the sorted vocabulary
# --------------------------------------------------------------------------


def _levenshtein_leq(
    cands: list[str], query: str, maxd: int, transpose: bool = False
) -> np.ndarray:
    """Vectorized Levenshtein over a candidate batch (numpy DP), the tests'
    oracle for the automaton walk (search/lev_automaton.py).
    ``transpose=True`` adds adjacent-transposition edits (the Damerau/OSA
    variant of levenshtein_filter.cpp's ``with_transpositions``)."""
    n = len(cands)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.array([len(c) for c in cands], dtype=np.int64)
    lmax = int(lens.max())
    chars = np.zeros((n, lmax), dtype=np.int32)
    for i, c in enumerate(cands):
        chars[i, : len(c)] = np.frombuffer(c.encode("utf-32-le"), dtype=np.uint32)[: len(c)]
    q = np.frombuffer(query.encode("utf-32-le"), dtype=np.uint32).astype(np.int32)
    m = len(q)
    prev = np.tile(np.arange(m + 1, dtype=np.int64), (n, 1))
    prev2 = None  # row i-2 (transposition lookback)
    result = np.where(lens == 0, m, np.iinfo(np.int64).max // 2)
    for i in range(1, lmax + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        ci = chars[:, i - 1]
        for j in range(1, m + 1):
            sub = prev[:, j - 1] + (ci != q[j - 1])
            best = np.minimum(np.minimum(sub, prev[:, j] + 1), cur[:, j - 1] + 1)
            if transpose and i > 1 and j > 1:
                tr_ok = (chars[:, i - 2] == q[j - 1]) & (ci == q[j - 2])
                best = np.where(tr_ok, np.minimum(best, prev2[:, j - 2] + 1), best)
            cur[:, j] = best
        done = lens == i
        if done.any():
            result[done] = cur[done, m]
        prev2 = prev
        prev = cur
    return result


def _ngram_chain_lengths(
    keys: np.ndarray,
    doc_rank: np.ndarray,
    tvals: np.ndarray,
    slot_lists: list[list[int]],
    n_total: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Longest in-order strictly-increasing-position ngram chain per doc
    (ngram_similarity_query.cpp "search path"), fully vectorized ACROSS DOCS:
    events are grouped by (doc, pos) key and all docs advance one
    position-group per step in lockstep — a step is a masked running-max over
    a (docs × n_total) dp matrix, so the Python iteration count is the LONGEST
    single doc stream, not the total event count (the previous per-event
    interpreted loop paid O(total_events) Python steps; a common-ngram query
    over a big segment has millions of events).

    Events in one (doc, pos) group all read the pre-group dp snapshot —
    0-increment same-position tokens (synonym streams) cannot extend each
    other and inflate L. ``keys`` must be sorted (doc-major, then position);
    ``slot_lists[ti]`` = the query slots term index ti fills (a query may
    repeat an ngram). Returns (doc ranks with ≥1 event, chain length L per
    such doc), doc ranks ascending.

    Docs are processed in chunks bounding the dp matrix at ~2M cells
    (~16 MB): per-doc chains are independent, so a common-ngram query whose
    candidate set is a whole multi-million-doc segment costs bounded memory
    per kernel task, not O(candidates × n_total)."""
    docs_u, doc_local = np.unique(doc_rank, return_inverse=True)
    L = np.empty(docs_u.size, np.int64)
    chunk = max(1, (1 << 21) // max(1, n_total))
    for dlo in range(0, docs_u.size, chunk):
        dhi = min(docs_u.size, dlo + chunk)
        # doc_local is non-decreasing (keys sorted doc-major)
        elo = int(np.searchsorted(doc_local, dlo, side="left"))
        ehi = int(np.searchsorted(doc_local, dhi, side="left"))
        L[dlo:dhi] = _ngram_chain_chunk(
            keys[elo:ehi], doc_local[elo:ehi] - dlo, tvals[elo:ehi],
            slot_lists, n_total, dhi - dlo,
        )
    return docs_u, L


def _ngram_chain_chunk(
    keys: np.ndarray,
    doc_local: np.ndarray,
    tvals: np.ndarray,
    slot_lists: list[list[int]],
    n_total: int,
    n_docs: int,
) -> np.ndarray:
    """One doc-chunk of :func:`_ngram_chain_lengths`: the lockstep masked
    running-max DP over a (n_docs × n_total) matrix. ``doc_local`` is the
    0-based doc index within the chunk."""
    new_grp = np.empty(keys.size, dtype=bool)
    new_grp[0] = True
    np.not_equal(keys[1:], keys[:-1], out=new_grp[1:])
    grp = np.cumsum(new_grp) - 1  # (doc, pos) group id per event
    grp_doc = doc_local[np.flatnonzero(new_grp)]  # doc per group
    fg_mask = np.empty(grp_doc.size, dtype=bool)
    fg_mask[0] = True
    np.not_equal(grp_doc[1:], grp_doc[:-1], out=fg_mask[1:])
    first_grp = np.zeros(n_docs, np.int64)
    first_grp[grp_doc[fg_mask]] = np.flatnonzero(fg_mask)
    gseq = grp - first_grp[doc_local]  # per-doc group sequence number
    # expand events to (doc, gseq, query-slot) triples
    ed_l, eg_l, eq_l = [], [], []
    for ti, slots in enumerate(slot_lists):
        m = tvals == ti
        if not m.any():
            continue
        for qi in slots:
            ed_l.append(doc_local[m])
            eg_l.append(gseq[m])
            eq_l.append(np.full(int(m.sum()), qi, np.int64))
    ed = np.concatenate(ed_l)
    eg = np.concatenate(eg_l)
    eq = np.concatenate(eq_l)
    order = np.lexsort((ed, eg))
    ed, eg, eq = ed[order], eg[order], eq[order]
    n_steps = int(eg[-1]) + 1
    bounds = np.searchsorted(eg, np.arange(n_steps + 1))
    dp = np.zeros((n_docs, n_total), np.int64)
    for s in range(n_steps):
        lo, hi = int(bounds[s]), int(bounds[s + 1])
        if lo == hi:
            continue
        rows, inv = np.unique(ed[lo:hi], return_inverse=True)
        sub = dp[rows]
        pm = np.maximum.accumulate(sub, axis=1)
        cand = np.empty_like(sub)
        cand[:, 0] = 1  # slot 0 extends the empty chain
        cand[:, 1:] = pm[:, :-1] + 1
        pres = np.zeros(sub.shape, dtype=bool)
        pres[inv, eq[lo:hi]] = True
        dp[rows] = np.where(pres & (cand > sub), cand, sub)
    return dp.max(axis=1)


def _spec_of(node: flt.Filter) -> tuple | None:
    """Serializable term-predicate spec for a multiterm filter — the form the
    per-segment kernels re-evaluate when the expansion overflows
    ``scored_terms_limit`` (the unscored-bitset tail stays IN the postings
    scan + kernel; it is never collected to the driver)."""
    if isinstance(node, flt.Prefix):
        return ("prefix", node.prefix)
    if isinstance(node, flt.Range):
        return ("range", node.low, node.high, node.include_low, node.include_high)
    if isinstance(node, flt.Wildcard):
        return ("wildcard", node.pattern)
    return None


def _phrase_shifts(node) -> list[int]:
    """Per-slot position shifts for a phrase. by_phrase parts are appended
    AT AN OFFSET from the end of the phrase (phrase_filter.hpp:73-86
    push_back(offs): part position = 1 + previous position + offs), and the
    first part's offset is normalized away by base_offset
    (phrase_filter.cpp:296-309) — so ``offsets[i]`` is the extra GAP between
    slot i-1 and slot i, and a sole/leading offset does not matter
    (phrase_filter_tests.cpp "term_filter with phrase offset which does not
    matter"). No offsets → consecutive positions."""
    n = len(node.terms)
    offs = getattr(node, "offsets", None)
    if not offs:
        return list(range(n))
    shifts = [0]
    for i in range(1, n):
        gap = int(offs[i]) if i < len(offs) else 0
        shifts.append(shifts[-1] + 1 + gap)
    return shifts


@_functools.lru_cache(maxsize=256)
def _like_regex(pattern: str):
    """Python twin of Spark SQL ``LIKE``: ``%``/``_`` wildcards, backslash
    escapes the next character (``\\%`` → literal %, matching
    like_pattern_escaping in Spark; a backslash before a non-special char is
    treated as that literal char — permissive where Spark would raise).
    Anchored with ``\\Z`` (not ``$``, which would also match before a
    trailing newline and diverge from LIKE)."""
    import re as _re

    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(_re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(_re.escape(c))
        i += 1
    return _re.compile("^" + "".join(out) + r"\Z", _re.DOTALL)


def spec_match(spec: tuple, term: str) -> bool:
    """Whether ``term`` satisfies a tail spec (the kernels' tail
    identification); the expansion's slices select exactly these terms."""
    kind = spec[0]
    if kind == "prefix":
        return term.startswith(spec[1])
    if kind == "range":
        _, lo, hi, il, ih = spec
        if lo is not None and (term < lo or (not il and term == lo)):
            return False
        if hi is not None and (term > hi or (not ih and term == hi)):
            return False
        return True
    if kind == "wildcard":
        return _like_regex(spec[1]).match(term) is not None
    raise ValueError(f"bad spec {spec}")


def _prefix_successor(p: str) -> str | None:
    """Smallest string greater than EVERY string with prefix ``p`` (the
    right-open bound of the prefix block in a sorted dictionary), or None
    when no such string exists (p empty / all U+10FFFF)."""
    cps = list(p)
    while cps and ord(cps[-1]) >= 0x10FFFF:
        cps.pop()
    if not cps:
        return None
    cps[-1] = chr(ord(cps[-1]) + 1)
    return "".join(cps)


def _like_prefix(pattern: str) -> str:
    """The literal prefix every match of a LIKE pattern starts with: the
    pattern up to its first ``%``, ``_`` or ``\\`` (an escape ends it too,
    which keeps the cut correct without decoding escapes)."""
    cut = min((i for i, c in enumerate(pattern) if c in "%_\\"), default=len(pattern))
    return pattern[:cut]


def _prefix_block(terms_a: np.ndarray, p: str) -> tuple[int, int]:
    """[lo, hi) bounds of the block of terms carrying prefix ``p`` in an
    ascending-sorted term array (two binary searches)."""
    lo = int(np.searchsorted(terms_a, p, side="left"))
    succ = _prefix_successor(p)
    hi = len(terms_a) if succ is None else int(np.searchsorted(terms_a, succ, side="left"))
    return lo, hi


def _terms_filter(terms: list[str]) -> pc.Expression:
    """pyarrow filter for an exact term set: the min/max range (prunable
    from row-group statistics on the term-sorted layout) AND'd with the
    set itself."""
    ts = sorted(terms)
    t = pc.field("term")
    return (t >= ts[0]) & (t <= ts[-1]) & t.isin(ts)


def spec_filter(spec: tuple) -> pc.Expression:
    """pyarrow filter for a tail spec, read by the segment tasks. Prefix and
    range specs select exactly the terms :func:`spec_match` accepts, as term
    ranges that row-group statistics prune (a prefix is
    ``[p, _prefix_successor(p))``). A wildcard is its literal-prefix range
    AND'd with ``match_like``: a superset of :func:`spec_match`, which the
    kernels apply to the rows read."""
    t = pc.field("term")
    kind = spec[0]
    if kind == "prefix":
        succ = _prefix_successor(spec[1])
        return t >= spec[1] if succ is None else (t >= spec[1]) & (t < succ)
    if kind == "range":
        _, lo, hi, il, ih = spec
        pred = pc.scalar(True)
        if lo is not None:
            pred = pred & (t >= lo if il else t > lo)
        if hi is not None:
            pred = pred & (t <= hi if ih else t < hi)
        return pred
    if kind == "wildcard":
        return spec_filter(("prefix", _like_prefix(spec[1]))) & pc.match_like(t, spec[1])
    raise ValueError(f"bad spec {spec}")


def scan_reads(scan: ScanSpec, multifield: bool) -> list[tuple[pc.Expression, bool, dict]]:
    """The compiled batch's postings reads as ``(pyarrow filter,
    with_positions, selects)`` triples; empty when nothing is scanned. The
    rows are, per field, the exact terms OR the field's tail specs, AND'd
    with the field equality on multi-field indexes (the layout is sorted by
    (field, term)). ``selects`` maps each field to the ``(exact terms, tail
    specs)`` whose row groups the read needs (:func:`_row_groups`): a
    superset of the filter's rows. ``pos_enc`` is read only for the phrase
    slots' terms: when other rows exist too, they are a second read without
    it, so one phrase in a large batch does not drag every other term's
    (typically largest) position stream."""

    def per_field(terms_of, with_specs: bool):
        pred, selects = None, {}
        for f in scan.fields:
            terms = terms_of.get(f, [])
            specs = scan.field_specs.get(f, []) if with_specs else []
            p = _terms_filter(terms) if terms else None
            for spec in specs:
                p = spec_filter(spec) if p is None else p | spec_filter(spec)
            if p is None:
                continue
            selects[f] = (terms, specs)
            if multifield:
                p = (pc.field("field") == f) & p
            pred = p if pred is None else pred | p
        return pred, selects

    rows, selects = per_field(scan.field_terms, True)
    if rows is None:
        return []
    positional, pos_selects = (
        per_field(scan.pos_terms, False) if scan.need_positions else (None, {})
    )
    if positional is None:
        return [(rows, False, selects)]
    every_row = not any(scan.field_specs.values()) and all(
        set(scan.pos_terms.get(f, [])) == set(scan.field_terms.get(f, []))
        for f in scan.fields
    )
    if every_row:
        return [(rows, True, selects)]
    return [(positional, True, pos_selects), (rows & ~positional, False, selects)]


def _spec_bounds(spec: tuple) -> tuple[str | None, str | None]:
    """A closed term interval ``[lo, hi]`` (None: unbounded) holding every
    term :func:`spec_filter` selects — a prefix or wildcard's literal-prefix
    block, a range's bounds — for row-group selection."""
    kind = spec[0]
    if kind == "range":
        return spec[1], spec[2]
    if kind in ("prefix", "wildcard"):
        p = spec[1] if kind == "prefix" else _like_prefix(spec[1])
        return p, _prefix_successor(p)
    return None, None


def _row_groups(parts, selects: dict, multifield: bool) -> np.ndarray:
    """Indexes of the postings row groups (of ``parts``, a ``TableParts``)
    that may hold a row of ``selects`` (``field → (exact terms, tail
    specs)``): the exact terms by one ``searchsorted`` of the groups' term
    minimums into them, each tail spec by its term interval
    (:func:`_spec_bounds`), and on a multi-field index only groups whose
    field range covers the field. Every row of a group lies within each
    column's min/max, so a group spanning two fields is pruned by the same
    two tests. A group without statistics is always read."""
    pick = np.zeros(parts.num_groups, bool)
    for f, (terms, specs) in selects.items():
        hit = parts.holds_any("term", np.array(sorted(set(terms)), dtype=object))
        for spec in specs:
            hit |= parts.overlaps("term", *_spec_bounds(spec))
        pick |= hit & parts.overlaps("field", f, f) if multifield else hit
    return np.flatnonzero(pick)


def _spec_slice(terms_a: np.ndarray, spec: tuple, key_prefix: str = "") -> np.ndarray:
    """Indexes of the ascending-sorted ``terms_a`` entries that start with
    ``key_prefix`` and whose rest satisfies ``spec`` (:func:`spec_match`).
    Prefix and range are two binary searches (a shared prefix keeps the
    order, so the bounds just carry it); a wildcard slices its literal-prefix
    block, then regex-matches only the slice."""
    kind = spec[0]
    if kind == "range":
        _, rlo, rhi, il, ih = spec
        blo, bhi = _prefix_block(terms_a, key_prefix) if key_prefix else (0, len(terms_a))
        lo = blo if rlo is None else int(
            np.searchsorted(terms_a, key_prefix + rlo, side="left" if il else "right")
        )
        hi = bhi if rhi is None else int(
            np.searchsorted(terms_a, key_prefix + rhi, side="right" if ih else "left")
        )
        return np.arange(lo, max(lo, hi))
    lit = spec[1] if kind == "prefix" else _like_prefix(spec[1])
    lo, hi = _prefix_block(terms_a, key_prefix + lit)
    if kind != "wildcard":
        return np.arange(lo, hi)
    rx, n = _like_regex(spec[1]), len(key_prefix)
    hit = np.fromiter((rx.match(t[n:]) is not None for t in terms_a[lo:hi]), bool, hi - lo)
    return lo + np.flatnonzero(hit)


def _vocab_expand(terms_a: np.ndarray, df_a: np.ndarray, spec: tuple, limit: int):
    """Prefix/range/wildcard expansion over a field's sorted vocabulary →
    (scored, overflow): the matches are :func:`_spec_slice`'s. The ``limit``
    highest-df matches are scored, ties towards the smaller term (the
    matches are term-ascending, so a STABLE argsort on -df gives that
    order); ``overflow`` says more matched."""
    hit = _spec_slice(terms_a, spec)
    seg_terms, seg_df = terms_a[hit], df_a[hit]
    if len(seg_terms) > limit:
        order = np.argsort(-seg_df, kind="stable")[:limit]
        return sorted((str(seg_terms[i]), int(seg_df[i])) for i in order), True
    return sorted((str(t), int(d)) for t, d in zip(seg_terms, seg_df)), False


def _fuzzy_expand(node: flt.Fuzzy, vocab: SortedVocab, df_a: np.ndarray) -> list:
    """Fuzzy expansion over a field's sorted vocabulary → scored
    (term, df, similarity) triples.

    The Levenshtein/OSA automaton's walk over the vocabulary
    (search/lev_automaton.py — the automaton × FST arc walk of
    levenshtein_filter.cpp:139-310) gives every term within the distance and
    its distance. With ``prefix`` (levenshtein_filter.cpp:241-265) the walk
    starts at the prefix block, past the prefix. Selection: the top
    ``max_terms`` by similarity ``1 - d / min(|term|, |prefix| + |q|)``
    (levenshtein_filter.cpp:48-55, 158-165), ties towards the LARGER term
    (top_terms_collector.hpp:64-69)."""
    q, maxd, max_terms = node.term, node.max_distance, node.max_terms
    transpose = getattr(node, "with_transpositions", False)
    # The reference's default parametric-description provider only covers
    # distances [0..4], and distance 4 only WITHOUT transpositions
    # (levenshtein_default_pdp.hpp:24-28); an unsupported distance yields
    # an invalid description and the filter matches nothing
    # (levenshtein_filter.cpp:71-75, levenshtein_filter_test.cpp "default
    # provider doesn't support" cases).
    if maxd > (3 if transpose else 4):
        return []
    # max_terms == 0 means UNLIMITED, not zero: limited_sample_collector
    # treats a 0 cap as "collect everything" (top_terms_collector use in
    # multiterm_query; levenshtein_filter_test.cpp pairs every (d, 1024)
    # case with an identical (d, 0) expectation).
    if max_terms <= 0:
        max_terms = 1 << 30
    pfx = getattr(node, "prefix", "") or ""
    lo, hi = _prefix_block(vocab.terms, pfx)
    idx, kd = LevAutomaton(q, maxd, transpose=transpose).walk(vocab, lo, hi, len(pfx))
    if idx.size == 0:
        return []
    kt, kdf = vocab.terms[idx], df_a[idx]
    # similarity length incl. the prefix, clamped to >= 1 exactly like the
    # reference (levenshtein_filter.cpp collect_terms: max(1,
    # utf8_length(prefix) + utf8_length(term))); an empty vocabulary term
    # would make the length 0, so the min is clamped to 1 too
    lens = np.fromiter((len(t) for t in kt), np.int64, len(kt))
    lens = np.maximum(np.minimum(lens, max(1, len(pfx) + len(q))), 1)
    fboost = 1.0 - kd / lens.astype(np.float64)
    # sort by (fboost desc, term desc): lexsort is stable, keys last-major
    order = np.lexsort((kt.astype("U"), fboost))[::-1][:max_terms]
    # triples: the similarity is a SCORING boost too — each scored state's
    # score is entry.boost * query boost (multiterm_query.cpp:150-157;
    # ::similarity collected per term)
    return sorted((str(kt[i]), int(kdf[i]), float(fboost[i])) for i in order)


def expand_multiterm(
    node: flt.Filter, reader: IndexReader, field: str | None = None
) -> tuple[list[tuple], tuple | None]:
    """Term-dictionary expansion of a multiterm filter → (scored, tail_spec),
    on the driver over :meth:`IndexReader.fuzzy_vocab_sorted`'s arrays (the
    reference's node-local term index, formats_burst_trie.cpp:857-861):
    no Spark job.

    Mirrors the reference: at most ``scored_terms_limit`` terms (highest df)
    are scored; the remaining matches are still MATCHED but contribute no
    score — the unscored-bitset union of multiterm_query.cpp:36-168 /
    limited_sample_collector. When the expansion overflows, the tail is
    returned as a predicate spec that the postings scan + kernels evaluate
    in place. Fuzzy never has a tail: its ``max_terms`` cap drops the rest.
    """
    fname = getattr(node, "field", None) or field or reader.default_field
    if fname not in reader.field_names:
        return [], None  # unknown field matches nothing (reference semantics)
    terms_a, df_a, _ = reader.fuzzy_vocab_sorted(fname)
    if isinstance(node, flt.Fuzzy):
        return _fuzzy_expand(node, reader.fuzzy_vocab_index(fname), df_a), None
    spec = _spec_of(node)
    if spec is None:
        raise TypeError(f"not a multiterm filter: {node}")
    limit = getattr(node, "scored_terms_limit", 1 << 30)
    scored, overflow = _vocab_expand(terms_a, df_a, spec, limit)
    return scored, (spec if overflow else None)


# --------------------------------------------------------------------------
# Plan compilation (the `prepare` phase)
# --------------------------------------------------------------------------


def compile_plans(
    filters: dict[str, flt.Filter],
    reader: IndexReader,
    k1: float = K_DEFAULT,
    b: float = B_DEFAULT,
    dtype: str = "float64",
    model: ScoreModel | None = None,
) -> tuple[dict[str, dict], ScanSpec]:
    """Normalize + expand + bake stats for a BATCH of filters.

    ONE term_stats fetch PER FIELD covers every query (the prepare phase runs
    once per batch, not per query), and multiterm expansions are cached by
    filter value so duplicated prefixes/wildcards in a batch expand once.
    Returns ({name: plan}, :class:`ScanSpec` describing the union postings
    scan — per-field term sets plus unscored-tail predicate specs).

    Field scoping (multi-field indexes): every leaf resolves its field
    (``None`` → the index default); idf/avgdl come from THAT field's stats
    (per-field collectors, bm25.cpp:204-276). A plan whose leaves all share
    one field carries ``plan["field"]`` and runs the pruned kernels
    unchanged; a plan mixing fields carries ``"field": None`` and evaluates
    exact with per-leaf norms.
    """
    model = model or BM25Model(k1, b)
    normalized = {name: flt.normalize(f) for name, f in filters.items()}
    default_field = reader.default_field
    known = set(reader.field_names)
    dt = _dtype(dtype)

    def fld(node: flt.Filter) -> str:
        return getattr(node, "field", None) or default_field

    # pass 1: fields referenced by the whole batch → key scheme (mixed or not)
    fields_used: set[str] = set()

    def collect_fields(node: flt.Filter):
        if isinstance(node, (flt.And, flt.Or)):
            for p in node.parts:
                collect_fields(p)
        elif isinstance(node, flt.Not):
            collect_fields(node.part)
        elif isinstance(
            node,
            (flt.Term, flt.Terms, flt.Prefix, flt.Range, flt.Wildcard,
             flt.Fuzzy, flt.Phrase, flt.SamePosition, flt.NgramSimilarity),
        ):
            if fld(node) in known:
                fields_used.add(fld(node))
            if isinstance(node, flt.SamePosition):
                # cross-field pair slots reference their OWN fields
                for t in node.terms:
                    if isinstance(t, tuple) and t[0] in known:
                        fields_used.add(t[0])

    for nf in normalized.values():
        collect_fields(nf)
    scan = ScanSpec({f: [] for f in sorted(fields_used)}, {})
    terms_by_field: dict[str, set[str]] = {f: set() for f in fields_used}

    def collect_terms(node: flt.Filter):
        f = fld(node)
        if isinstance(node, flt.Term):
            if f in known:
                terms_by_field[f].add(node.term)
        elif isinstance(node, flt.Terms):
            if f in known:
                terms_by_field[f].update(node.terms)
        elif isinstance(node, (flt.Phrase, flt.SamePosition)):
            for t in node.terms:
                if isinstance(t, tuple):  # cross-field (field, term) slot
                    if t[0] in known:
                        terms_by_field[t[0]].add(t[1])
                elif f not in known:
                    continue
                elif isinstance(t, str):
                    terms_by_field[f].add(t)
                elif isinstance(t, flt.Terms):
                    terms_by_field[f].update(t.terms)
        elif isinstance(node, flt.NgramSimilarity):
            if f in known:
                terms_by_field[f].update(node.ngrams)  # df for planned postings only
        elif isinstance(node, (flt.And, flt.Or)):
            for p in node.parts:
                collect_terms(p)
        elif isinstance(node, flt.Not):
            collect_terms(node.part)

    for nf in normalized.values():
        collect_terms(nf)
    tstats: dict[tuple[str, str], tuple[int, int]] = {}
    for f, ts in terms_by_field.items():
        if ts:
            for t, st in reader.term_stats(sorted(ts), field=f).items():
                tstats[(f, t)] = st
    n_by_field = {f: reader.field_stats(f)["docs_with_field"] for f in fields_used}
    expansion_cache: dict[str, tuple] = {}

    def df_of(f: str, term: str) -> int:
        return tstats.get((f, term), (0, 0))[0]

    def idf_of(f: str, term: str) -> float:
        df = df_of(f, term)
        if df == 0:
            return 0.0
        return model.term_const(df, n_by_field[f], dt)

    def all_leg(boost: float, op: str = "all", **leaf) -> dict:
        # an all-docs (or stored-column) leg enumerates every stored doc
        scan.planned_postings += sum(reader.segment_docs_counts().values())
        return {"op": op, "boost": boost, **leaf}

    def build(node: flt.Filter) -> dict:
        f = fld(node)
        if isinstance(node, flt.Term):
            if f not in known:
                return {"op": "empty"}
            scan.field_terms[f].append(node.term)
            scan.planned_postings += df_of(f, node.term)
            return {
                "op": "term", "term": scan.key(f, node.term),
                "idf": idf_of(f, node.term), "boost": node.boost, "field": f,
            }
        if isinstance(node, flt.Terms):
            if f not in known:
                return {"op": "empty"}
            # terms_filter.cpp:117-133: an empty term set or min_match above
            # the set size is unreachable (prepared::empty); min_match == 0
            # matches EVERY doc — the reference rewrites to
            # Or(AllDocs(boost 0), by_terms(min_match=1)) so docs hitting a
            # term still contribute the term score while every other doc
            # scores 0 (terms_filter_test.cpp "match all" with an invalid
            # term and min_match=0 expects all 32 docs).
            # Known divergence: the reference prepares that disjunction with
            # kNoBoost (terms_filter.cpp:123-133), dropping any boost a
            # boosted ancestor passes down; here the rewritten Or is an
            # ordinary child, so an ancestor's boost still multiplies the
            # term legs' scores. Without a boosted ancestor the two agree.
            if len(node.terms) == 0 or node.min_match > len(node.terms):
                return {"op": "empty"}
            if node.min_match == 0:
                return build(
                    flt.Or(
                        parts=(
                            flt.All(boost=0.0),
                            _dataclasses.replace(node, min_match=1),
                        ),
                        min_match=1,
                    )
                )
            boosts = node.boosts or (1.0,) * len(node.terms)
            members = [
                (scan.key(f, t), idf_of(f, t), float(b))
                for t, b in zip(node.terms, boosts)
            ]
            scan.field_terms[f].extend(node.terms)
            scan.planned_postings += sum(df_of(f, t) for t in node.terms)
            return {
                "op": "mterm", "terms": members, "min_match": node.min_match,
                "merge": getattr(node, "merge", "sum"),
                "boost": node.boost, "field": f,
            }
        if isinstance(node, (flt.Prefix, flt.Range, flt.Wildcard, flt.Fuzzy)):
            if f not in known:
                return {"op": "empty"}
            ckey = repr(node) + FIELD_SEP + f
            if ckey not in expansion_cache:
                expansion_cache[ckey] = expand_multiterm(node, reader, field=f)
            expanded, tail_spec = expansion_cache[ckey]
            members = []
            for ent in expanded:
                t, df = ent[0], ent[1]
                tb = float(ent[2]) if len(ent) > 2 else 1.0
                scan.field_terms[f].append(t)
                scan.planned_postings += df
                members.append(
                    (scan.key(f, t), model.term_const(df, n_by_field[f], dt), tb)
                )
            # one spec per field, however many nodes repeat it
            if tail_spec is not None and tail_spec not in scan.field_specs.get(f, []):
                scan.field_specs.setdefault(f, []).append(tail_spec)
            return {
                "op": "mterm",
                "terms": members,
                "unscored_spec": tail_spec,
                "key_prefix": scan.key_prefix(f),
                "min_match": 1,
                "boost": node.boost,
                "field": f,
            }
        if isinstance(node, (flt.Phrase, flt.SamePosition)):
            # a scored leaf whose tf is the phrase frequency and whose idf is
            # the SUM of the member terms' idfs — the reference's aggregated
            # phrase stats (phrase_filter.cpp:231-318 term_stats.finish per
            # slot; bm25.cpp:495-497 `stats.idf +=`), i.e. `sum_of_terms`.
            # Nested phrases always score so; Searcher unbinds a ROOT
            # phrase's idf under `exact_df` (see Searcher._compile).
            slots: list[list[str]] = []
            slot_flds: list[str] = []
            idf_sum = 0.0
            for t in node.terms:
                sf = f
                if isinstance(node, flt.SamePosition) and isinstance(t, tuple):
                    # cross-field slot: (field, term) — resolves in its OWN
                    # field (same_position_filter.cpp options)
                    sf, t = t[0], t[1]
                if sf not in known:
                    return {"op": "empty"}
                if isinstance(t, str):
                    slot_terms = [t]
                    idf_sum += idf_of(sf, t)
                    slot_df = df_of(sf, t)
                elif isinstance(t, flt.Terms):
                    slot_terms = sorted(set(t.terms))
                    idf_sum += sum(idf_of(sf, w) for w in slot_terms)
                    slot_df = sum(df_of(sf, w) for w in slot_terms)
                else:  # variadic multiterm slot (phrase_filter.cpp variadic)
                    ckey = repr(t) + FIELD_SEP + sf + "#slot"
                    if ckey not in expansion_cache:
                        expansion_cache[ckey] = expand_multiterm(t, reader, field=sf)
                    expanded, _tail = expansion_cache[ckey]
                    slot_terms = [e[0] for e in expanded]
                    idf_sum += sum(
                        model.term_const(e[1], n_by_field[sf], dt) for e in expanded
                    )
                    slot_df = sum(e[1] for e in expanded)
                if not slot_terms:
                    return {"op": "empty"}  # unexpandable slot matches nothing
                scan.planned_postings += slot_df
                scan.field_terms[sf].extend(slot_terms)
                scan.pos_terms.setdefault(sf, []).extend(slot_terms)
                slots.append(slot_terms)
                slot_flds.append(sf)
            scan.need_positions = True
            shifts = (
                [0] * len(slots)
                if isinstance(node, flt.SamePosition)
                else _phrase_shifts(node)
            )
            return {
                "op": "phrase",
                "slots": [
                    [scan.key(sf, w) for w in slot]
                    for sf, slot in zip(slot_flds, slots)
                ],
                "shifts": shifts,
                "idf": idf_sum,
                "boost": node.boost,
                # norms and stats context = the FIRST slot's field
                # (cross-field slots share the doc space)
                "field": slot_flds[0] if slot_flds else f,
            }
        if isinstance(node, flt.NgramSimilarity):
            if f not in known or not node.ngrams:
                return {"op": "empty"}
            scan.field_terms[f].extend(node.ngrams)
            scan.planned_postings += sum(df_of(f, t) for t in node.ngrams)
            scan.pos_terms.setdefault(f, []).extend(node.ngrams)
            scan.need_positions = True
            n = len(node.ngrams)
            return {
                "op": "ngram", "ngrams": [scan.key(f, t) for t in node.ngrams],
                "min_match": max(1, math.ceil(node.threshold * n)),
                "boost": node.boost, "field": f,
            }
        if isinstance(node, flt.Not):
            # standalone negation (Not::prepare, boolean_filter.cpp:455-485):
            # all docs minus the negated set, constant all-docs score
            return build(flt.And(parts=(node,), boost=node.boost))
        if isinstance(node, flt.And):
            if not node.parts:
                # empty conjunction is unreachable (boolean_filter_tests.cpp
                # and_sequential: CheckQuery(irs::And(), Docs{}))
                return {"op": "empty"}
            incl, excl = [], []
            for p in node.parts:
                if isinstance(p, flt.Not):
                    excl.append(build(p.part))  # Not grouped into exclusion set
                else:
                    incl.append(build(p))
            if not incl:
                # only negations: implicit all-docs base, constant score
                # (boolean_filter.cpp:352-401 MakeAllDocsFilter grouping)
                incl = [all_leg(1.0)]
            return {"op": "and", "parts": incl, "exclude": excl, "merge": node.merge, "boost": node.boost}
        if isinstance(node, flt.Or):
            # Or::prepare (boolean_filter.cpp:492-511): an EXPLICIT
            # min_match_count of 0 means "all conditions are satisfied" —
            # the whole disjunction collapses to all-docs at the Or's own
            # boost, regardless of its parts (boolean_filter_tests.cpp
            # "min match count == 0": even Or(name=V) matches all 32).
            if node.min_match == 0:
                return all_leg(node.boost)
            # min_match above the part count is unreachable
            # (MinMatchQuery::prepare, boolean_filter.cpp:270-272)
            if node.min_match > len(node.parts):
                return {"op": "empty"}
            # Not under Or: each Not(B) contributes an all-docs leg at boost 0
            # to the disjunction and B to the exclusion set — group_filters
            # semantics (boolean_filter.cpp:366-411: `excl.push_back` +
            # `incl.push_back(all_docs_zero_boost)` when is_or)
            incl, excl = [], []
            for p in node.parts:
                if isinstance(p, flt.Not):
                    excl.append(build(p.part))
                    incl.append(all_leg(0.0))
                else:
                    incl.append(build(p))
            return {
                "op": "or",
                "parts": incl,
                "exclude": excl,
                "min_match": node.min_match,
                "merge": node.merge,
                "boost": node.boost,
            }
        if isinstance(node, flt.All):
            return all_leg(node.boost)
        if isinstance(node, (flt.ColumnExists, flt.NumericRange)):
            leaf = _stored_leaf(node, reader)
            if leaf is None:
                return {"op": "empty"}
            scan.stored[str(leaf[1])] = leaf
            return all_leg(node.boost, "column", key=str(leaf[1]))
        if isinstance(node, flt.Empty):
            return {"op": "empty"}
        raise TypeError(f"unsupported filter: {node}")

    def annotate(plan: dict) -> dict:
        """Root field tag: the plan's single field, or None when leaves mix
        fields (→ exact per-leaf-norms evaluation instead of pruned kernels)."""
        fs = _plan_fields(plan)
        plan["field"] = next(iter(fs)) if len(fs) == 1 else plan.get("field")
        if len(fs) > 1:
            plan["field"] = None
        return plan

    plans = {name: annotate(build(nf)) for name, nf in normalized.items()}
    for f in list(scan.field_terms):
        scan.field_terms[f] = sorted(set(scan.field_terms[f]))
    return plans, scan


def _stored_leaf(node: flt.Filter, reader: IndexReader) -> tuple | None:
    """(docs columns, pyarrow predicate) of a ColumnExists
    (column_existence_filter.cpp: any of its columns non-null) or
    NumericRange leaf (by_granular_range, granular_range_filter.cpp:42-91:
    non-null and within bounds), or None when no column resolves. A
    NumericRange column that is not integer or floating point raises."""
    names = reader.meta["doc_cols"]
    if isinstance(node, flt.ColumnExists) and node.prefix_match:
        reserved = {"doc_key", "segment_id", "doc_id", "doc_len"}
        cols = [c for c in names if c.startswith(node.column) and c not in reserved]
    else:
        cols = [node.column] if node.column in names else []
    if not cols:
        return None
    if isinstance(node, flt.ColumnExists):
        return tuple(cols), _functools.reduce(operator.or_, [pc.field(c).is_valid() for c in cols])
    for d in table_datasets(reader.meta["tables"]["docs"]):
        t = d.schema.field(node.column).type if node.column in d.schema.names else None
        if t is not None and not (pa.types.is_integer(t) or pa.types.is_floating(t)):
            raise ValueError(
                f"NumericRange over stored column {node.column!r} of type {t}: "
                "the column must be integer or floating point"
            )
    c = pc.field(node.column)
    pred = c.is_valid()
    if node.low is not None:
        pred = pred & (c >= node.low if node.include_low else c > node.low)
    if node.high is not None:
        pred = pred & (c <= node.high if node.include_high else c < node.high)
    return (node.column,), pred


def _plan_fields(plan: dict) -> set[str]:
    """Set of index fields a compiled plan's scoring leaves touch."""
    out: set[str] = set()
    if plan.get("field") and plan["op"] in ("term", "mterm", "phrase", "ngram"):
        out.add(plan["field"])
    for p in plan.get("parts", ()):  # boolean composites
        out |= _plan_fields(p)
    for p in plan.get("exclude", ()):
        out |= _plan_fields(p)
    return out


def compile_plan(
    f: flt.Filter,
    reader: IndexReader,
    k1: float = K_DEFAULT,
    b: float = B_DEFAULT,
    dtype: str = "float64",
    model: ScoreModel | None = None,
) -> tuple[dict, ScanSpec]:
    """Single-query convenience wrapper over :func:`compile_plans`."""
    plans, scan = compile_plans({"q": f}, reader, k1, b, dtype, model)
    return plans["q"], scan


# --------------------------------------------------------------------------
# Per-segment kernel
# --------------------------------------------------------------------------


class PostingsView:
    """One (term, segment) posting list over its decoded doc ids and freqs.

    The doc_iterator/skip-list analogue (formats_10.cpp:1667-1725): block j
    holds values ``[128·j, min(128·j + 128, n))``; ``block_last`` (each
    block's last doc) and ``block_maxf`` (its largest freq, the WAND block
    bound) come from the decoded arrays. ``seek`` is ``np.searchsorted``
    over ``block_last``, and :meth:`decode_blocks` gathers only the chosen
    blocks' values. A kernel's views come from :class:`_SegmentViews`, which
    decodes the whole segment's postings in one pass
    (:func:`decode_postings`) and builds each with :meth:`decoded`.
    """

    __slots__ = (
        "docs_count", "max_freq", "block_last", "block_maxf", "_ids", "_tfs",
        "_positions", "_full", "_pos",
    )

    @classmethod
    def decoded(cls, ids: np.ndarray, tfs: np.ndarray, positions) -> "PostingsView":
        """A view over one list's already-decoded ``ids``/``tfs``;
        ``positions()`` returns its flat position stream."""
        view = cls.__new__(cls)
        view._bind(ids, tfs, positions)
        return view

    def _bind(self, ids: np.ndarray, tfs: np.ndarray, positions) -> None:
        n = ids.size
        self.docs_count = n
        self.max_freq = int(tfs.max()) if n else 0
        starts = np.arange(0, n, BLOCK_SIZE)
        self.block_last = ids[np.minimum(starts + BLOCK_SIZE, n) - 1]
        self.block_maxf = np.maximum.reduceat(tfs, starts) if n else tfs[:0]
        self._ids, self._tfs = ids, tfs
        self._positions = positions
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        self._pos: np.ndarray | None = None

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        # _full records that a kernel took the whole list: later block
        # requests in this segment get it whole, and WAND scores it whole
        if self._full is None:
            self._full = (self._ids, self._tfs)
        return self._full

    def decode_blocks(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if self._full is not None:
            return self._full
        blocks = np.asarray(blocks, dtype=np.int64)
        idx = (blocks[:, None] * BLOCK_SIZE + np.arange(BLOCK_SIZE)).ravel()
        if blocks.size and blocks[-1] == self.block_last.size - 1:
            idx = idx[idx < self.docs_count]  # only the last block is short
        return self._ids[idx], self._tfs[idx]

    def blocks_for(self, cand_ids: np.ndarray) -> np.ndarray:
        """Sorted block indexes that may contain any of the candidate doc ids
        (in any order)."""
        b = np.searchsorted(self.block_last, cand_ids, side="left")
        b = b[b < self.block_last.size]
        return np.unique(b)

    def positions(self) -> np.ndarray:
        if self._pos is None:
            self._pos = self._positions()
        return self._pos


class _SegmentViews:
    """One segment's postings rows (a pyarrow table of ``term``,
    ``doc_ids_enc``, ``freqs_enc`` and, for phrase terms, ``pos_enc``),
    decoded in one pass (:func:`decode_postings`): term → row index, and a
    :class:`PostingsView` of a row's slices built only when a kernel asks
    for that term. Positions decode once too, for every positional row, on
    the first request. Tail specs (:meth:`spec_keys`) are evaluated once per
    segment. ``stored``: :func:`_stored_matches`."""

    def __init__(self, table: pa.Table, stored: dict | None = None):
        self._table = table
        self.stored = stored or {}
        terms = table.column("term").to_numpy(zero_copy_only=False)
        self._rows = dict(zip(terms.tolist(), range(len(terms))))
        self._terms = terms
        self._ids, self._tfs, self._off = decode_postings(
            table.column("doc_ids_enc"), table.column("freqs_enc")
        )
        self._views: dict[str, PostingsView] = {}
        self._pos: tuple[np.ndarray, np.ndarray] | None = None
        self._sorted: np.ndarray | None = None
        self._specs: dict[tuple, list[str]] = {}

    def view(self, term: str) -> PostingsView | None:
        v = self._views.get(term)
        if v is None:
            r = self._rows.get(term)
            if r is None:
                return None
            lo, hi = self._off[r], self._off[r + 1]
            v = self._views[term] = PostingsView.decoded(
                self._ids[lo:hi], self._tfs[lo:hi], lambda: self._positions(r)
            )
        return v

    def get(self, term: str, default=None):
        v = self.view(term)
        return v.decode_all() if v is not None else default

    def _positions(self, r: int) -> np.ndarray:
        """Row ``r``'s flat positions. Rows without position bytes (a
        non-phrase read) add nothing to the stream, so one
        :func:`decode_positions` over every row's bytes and the freqs of the
        rows that have them decodes the segment."""
        if self._pos is None:
            n = len(self._terms)
            t = self._table
            col = t.column("pos_enc") if "pos_enc" in t.column_names else pa.nulls(n, pa.binary())
            buf, bounds = _flat_bytes(pc.fill_null(col, b""))
            has = np.diff(bounds) > 0
            tf_pre = np.zeros(self._tfs.size + 1, np.int64)
            np.cumsum(self._tfs, out=tf_pre[1:])
            bnd = np.zeros(n + 1, np.int64)
            np.cumsum(np.where(has, np.diff(tf_pre[self._off]), 0), out=bnd[1:])
            tfs = self._tfs[np.repeat(has, np.diff(self._off))]
            self._pos = (decode_positions(buf, tfs), bnd)
        flat, bnd = self._pos
        return flat[bnd[r] : bnd[r + 1]]

    def spec_keys(self, key_prefix: str, spec: tuple) -> list[str]:
        """This segment's keys of ``key_prefix`` whose term satisfies
        ``spec`` (:func:`spec_match`), from binary searches over the
        segment's sorted keys (:func:`_spec_slice`), once per segment and
        spec. Without a prefix, composite ``field\\x1fterm`` keys of another
        field's slice never match."""
        got = self._specs.get((key_prefix, spec))
        if got is None:
            if self._sorted is None:
                self._sorted = np.sort(self._terms)
            got = self._sorted[_spec_slice(self._sorted, spec, key_prefix)].tolist()
            if not key_prefix:
                got = [t for t in got if FIELD_SEP not in t]
            self._specs[(key_prefix, spec)] = got
        return got


def _tail_terms(plan: dict, sv: _SegmentViews) -> list[str]:
    """Unscored-tail members for an overflowed multiterm plan: terms present
    in THIS segment's scanned postings that match the tail spec and are not
    already scored (multiterm_query.cpp unscored bitset, evaluated in-kernel
    instead of via a driver-collected term list). On mixed-field scans the
    kernel keys are ``field\\x1fterm`` composites; the plan's ``key_prefix``
    scopes the tail to its own field."""
    tails = list(plan.get("unscored", ()))
    spec = plan.get("unscored_spec")
    if spec is not None:
        skip = {m[0] for m in plan["terms"]} | set(tails)
        tails += [t for t in sv.spec_keys(plan.get("key_prefix", ""), spec) if t not in skip]
    return tails


def _kth_threshold(scores: np.ndarray, k: int) -> float:
    if scores.size < k:
        return -np.inf
    return float(np.partition(scores, scores.size - k)[scores.size - k])


def _mask_deleted(
    ids: np.ndarray, vals: np.ndarray, dels: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray]:
    """Drop deleted ids (sorted searchsorted membership test) from an (ids,
    companion) pair. The pruned kernels call it on each decoded list BEFORE
    any top-k threshold is computed — the docs_mask must be applied inside
    every doc iterator (segment_reader.hpp:92-93), not after pruning: a
    deleted doc that ranks in the provisional top-k would otherwise inflate
    theta and cause live-doc blocks to be skipped."""
    if dels is None or ids.size == 0:
        return ids, vals
    pos = np.searchsorted(dels, ids)
    pos_c = np.minimum(pos, dels.size - 1)
    keep = dels[pos_c] != ids
    return ids[keep], vals[keep]


def _wand_single_term(
    view: PostingsView, idf: float, boost: float, k: int, dl, avgdl, model: ScoreModel, dt,
    dels: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max WAND for one term: descending-bound block order, early stop."""
    dl_min = float(dl.min()) if dl.size else 1.0
    n_blocks = view.block_last.size
    if view._full is not None or n_blocks <= 2:
        ids, tfs = view.decode_all()
        ids, tfs = _mask_deleted(ids, tfs, dels)
        return ids, model.score(tfs, dl[ids - 1], idf, avgdl, boost, dt)
    block_ub = np.array(
        [model.ub(int(m), idf, dl_min, avgdl, boost, dt) for m in view.block_maxf]
    )
    order = np.argsort(-block_ub, kind="stable")
    out_ids: list[np.ndarray] = []
    out_sc: list[np.ndarray] = []
    n_docs = 0
    theta = -np.inf
    chunk = max(1, (k + 127) // 128)
    i = 0
    while i < order.size:
        if block_ub[order[i]] < theta:
            break  # no later block (all ≤ this bound) can reach the k-th score
        sel = np.sort(order[i : i + chunk])
        ids, tfs = view.decode_blocks(sel)
        ids, tfs = _mask_deleted(ids, tfs, dels)
        sc = model.score(tfs, dl[ids - 1], idf, avgdl, boost, dt)
        out_ids.append(ids)
        out_sc.append(sc)
        n_docs += ids.size
        if n_docs >= k:
            theta = _kth_threshold(np.concatenate(out_sc).astype(np.float64), k)
        i += chunk
    ids = np.concatenate(out_ids) if out_ids else np.empty(0, np.int64)
    sc = np.concatenate(out_sc) if out_sc else np.empty(0, dt)
    order2 = np.argsort(ids, kind="stable")
    return ids[order2], sc[order2]


def _maxscore_union(
    legs: list[tuple[PostingsView, float, float]],
    k: int,
    dl,
    avgdl,
    model: ScoreModel,
    dt,
    dels: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """MaxScore over term legs [(view, idf, boost)] — rank-identical union.

    Terms in descending upper bound; when the remaining bound-sum cannot lift a
    NEW doc into the top-k, remaining lists are decoded only at blocks holding
    surviving candidates; candidates that cannot reach the k-th score are
    dropped. Strict comparisons keep exact ties intact.

    Scores add into a dense float64 accumulator over the segment's doc ids
    (block_disjunction's score window, disjunction.hpp:780-905), with a
    ``live`` mask of the candidates and their ids in first-seen order,
    sorted once, at return. Each doc's additions follow the leg order, so
    the sums are those of a pairwise merge.
    """
    dl_min = float(dl.min()) if dl.size else 1.0
    ubs = model.ub_batch(
        np.array([v.max_freq for v, _, _ in legs], dtype=np.int64),
        np.array([idf for _, idf, _ in legs]),
        np.array([boost for _, _, boost in legs]),
        dl_min, avgdl, dt,
    )
    order = np.argsort(-ubs, kind="stable")
    suffix = np.zeros(order.size + 1)
    suffix[:-1] = np.cumsum(ubs[order][::-1])[::-1]
    n = max((int(v.block_last[-1]) for v, _, _ in legs if v.docs_count), default=0) + 1
    acc = np.zeros(n, np.float64)
    live = np.zeros(n, bool)
    cand = np.empty(0, np.int64)
    theta = -np.inf
    for j, li in enumerate(order):
        view, idf, boost = legs[li]
        candidates_only = suffix[j] < theta  # no new doc can reach the k-th score
        if candidates_only:
            if cand.size == 0:
                break
            blocks = view.blocks_for(cand)
            if blocks.size == 0:
                continue
            ids, tfs = view.decode_blocks(blocks)
        else:
            ids, tfs = view.decode_all()
        ids, tfs = _mask_deleted(ids, tfs, dels)
        sc = model.score(tfs, dl[ids - 1], idf, avgdl, boost, dt)
        seen = live[ids]
        if candidates_only:
            ids, sc = ids[seen], sc[seen]
        else:
            fresh = ids[~seen]
            live[fresh] = True
            cand = np.concatenate([cand, fresh])
        acc[ids] += sc
        cand_scores = acc[cand]
        theta = _kth_threshold(cand_scores, k)
        if suffix[j + 1] < theta:
            keep = cand_scores + suffix[j + 1] >= theta
            live[cand[~keep]] = False
            cand = cand[keep]
    cand = np.sort(cand)
    return cand, acc[cand].astype(dt)


def _conjunction_selective(
    term_legs: list[tuple[PostingsView, float, float]],
    dl,
    avgdl,
    model: ScoreModel,
    dt,
    dels: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Cost-ordered conjunction (conjunction.hpp:112-124): rarest list decoded
    fully, every other list decoded only at blocks covering the running
    intersection (galloping via searchsorted)."""
    term_legs = sorted(term_legs, key=lambda t: t[0].docs_count)
    view0, idf0, boost0 = term_legs[0]
    ids, tfs = view0.decode_all()
    # mask the driving leg (docs_mask inside the iterator): intersections
    # with later legs can only shrink the set, never reintroduce deleted docs
    ids, tfs = _mask_deleted(ids, tfs, dels)
    scores = model.score(tfs, dl[ids - 1], idf0, avgdl, boost0, dt)
    for view, idf, boost in term_legs[1:]:
        if ids.size == 0:
            break
        blocks = view.blocks_for(ids)
        if blocks.size == 0:
            return np.empty(0, np.int64), np.empty(0, dt)
        oids, otfs = view.decode_blocks(blocks)
        common, ia, ib = np.intersect1d(ids, oids, assume_unique=True, return_indices=True)
        osc = model.score(otfs[ib], dl[common - 1], idf, avgdl, boost, dt)
        scores = scores[ia] + osc
        ids = common
    return ids, scores


def _eval_root(
    plan: dict,
    sv: "_SegmentViews",
    k: int,
    dl: np.ndarray,
    avgdl: float,
    model: ScoreModel,
    dt,
    dels: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k-aware root dispatch: pruned kernels where rank-identity allows,
    full evaluation otherwise (ExecutionMode::kTop selection,
    formats_10.cpp:3257-3282 analogue). ``dels`` is the segment's sorted
    document_mask — applied INSIDE the pruned iterators (before any theta
    update), matching the reference's per-iterator docs_mask."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=dt))
    op = plan["op"]
    if op == "term":
        v = sv.view(plan["term"])
        if v is None:
            return empty
        return _wand_single_term(v, plan["idf"], plan["boost"], k, dl, avgdl, model, dt, dels)
    if (
        op == "mterm"
        and plan.get("min_match", 1) <= 1
        and plan.get("merge", "sum") == "sum"
    ):
        legs = [(sv.view(m[0]), m[1], plan["boost"] * (m[2] if len(m) > 2 else 1.0)) for m in plan["terms"]]
        legs = [(v, i, bo) for v, i, bo in legs if v is not None]
        ids, sc = _maxscore_union(legs, k, dl, avgdl, model, dt, dels) if legs else empty
        unscored = _tail_terms(plan, sv) if ids.size < k else ()
        if unscored:
            # fill the tail with unscored matches at score 0 (smallest doc ids
            # win ties, same as the reference's doc-order heap insertion)
            tails = [sv.view(t).decode_all()[0] for t in unscored if sv.view(t) is not None]
            if tails:
                live = np.unique(np.concatenate(tails))
                live, _ = _mask_deleted(live, live, dels)
                extra = np.setdiff1d(live, ids)[: k - ids.size]
                ids = np.concatenate([ids, extra])
                sc = np.concatenate([sc, np.zeros(extra.size, dtype=dt)])
        return ids, sc
    if (
        op == "or"
        and plan.get("min_match", 1) <= 1
        and plan.get("merge", "sum") == "sum"
        and not plan.get("exclude")
        and all(p["op"] == "term" for p in plan["parts"])
    ):
        legs = [(sv.view(p["term"]), p["idf"], p["boost"]) for p in plan["parts"]]
        legs = [(v, i, bo) for v, i, bo in legs if v is not None]
        if not legs:
            return empty
        ids, sc = _maxscore_union(legs, k, dl, avgdl, model, dt, dels)
        if plan["boost"] != 1.0:
            sc = sc * dt(plan["boost"])
        return ids, sc
    if (
        op == "and"
        and plan.get("merge", "sum") == "sum"
        and all(p["op"] == "term" for p in plan["parts"])
    ):
        legs = []
        for p in plan["parts"]:
            v = sv.view(p["term"])
            if v is None:
                return empty
            legs.append((v, p["idf"], p["boost"]))
        ids, sc = _conjunction_selective(legs, dl, avgdl, model, dt, dels)
        for ex in plan.get("exclude", []):
            eids, _ = _eval_plan(ex, sv, dl, avgdl, model, dt)
            keep = ~np.isin(ids, eids, assume_unique=True)
            ids, sc = ids[keep], sc[keep]
        if plan["boost"] != 1.0:
            sc = sc * dt(plan["boost"])
        return ids, sc
    return _eval_plan(plan, sv, dl, avgdl, model, dt)


def _eval_root_dispatch(
    plan: dict,
    sv: "_SegmentViews",
    k: int,
    model: ScoreModel,
    dt,
    dels: np.ndarray | None,
    dl,
    avgdl: float,
    dl_map: dict | None = None,
    avg_map: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Field-aware kernel entry. Single-field batches (``dl_map=None``) go
    straight to the pruned :func:`_eval_root`. On mixed-field batches a plan
    whose leaves share one field still runs pruned against that field's norms;
    a plan mixing fields inside one boolean tree evaluates exact with per-leaf
    norms (rank-identical; pruning needs one norm space per bound)."""
    if dl_map is None:
        return _eval_root(plan, sv, k, dl, avgdl, model, dt, dels)
    pf = plan.get("field")
    if pf is not None and pf in dl_map:
        return _eval_root(plan, sv, k, dl_map[pf], avg_map[pf], model, dt, dels)
    if len(_plan_fields(plan)) > 1:
        return _eval_plan(plan, sv, dl, avgdl, model, dt, (dl_map, avg_map))
    return _eval_root(plan, sv, k, dl, avgdl, model, dt, dels)


#: packed position key ``doc_rank * 2^32 + pos`` of the positional kernels
_PACK = np.int64(1) << np.int64(32)


def _positions_of(view: PostingsView, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(candidate rank, position) of every occurrence of ``view``'s term in
    the sorted candidate docs ``cand``, rank-major and position-ascending:
    one flat gather of each present doc's position run."""
    t_ids, t_tfs = view.decode_all()
    row = np.minimum(np.searchsorted(t_ids, cand), t_ids.size - 1)
    present = t_ids[row] == cand
    rows_sel = row[present]
    starts = np.zeros(t_ids.size + 1, dtype=np.int64)
    np.cumsum(t_tfs, out=starts[1:])
    lens = t_tfs[rows_sel]
    out_off = np.zeros(rows_sel.size, np.int64)
    np.cumsum(lens[:-1], out=out_off[1:])
    rep = np.repeat(np.arange(rows_sel.size), lens)
    flat_idx = np.arange(int(lens.sum()), dtype=np.int64) - out_off[rep] + starts[rows_sel][rep]
    return np.flatnonzero(present).astype(np.int64)[rep], view.positions()[flat_idx]


def _phrase_seg_tfs(
    sv: "_SegmentViews", slot_list: list[list[str]], shift_list: list[int]
) -> tuple[np.ndarray, np.ndarray]:
    """One segment's (possibly variadic) phrase evaluation → (sorted doc
    ids, phrase frequency per doc). FULLY vectorized, zero per-doc Python:
    per slot, candidate docs' positions gather into one flat array, pack as
    ``doc_rank * 2^32 + (pos - shift)`` keys, and the slots' key sets
    intersect with ``np.intersect1d`` (phrase_iterator's position
    conjunction, collapsed to the flattened-stream trick). A slot with
    several terms (variadic) unions its terms' keys first (disjunction of
    position iterators, phrase_query.cpp VariadicPhraseQuery)."""
    max_shift = max(shift_list) if shift_list else 0
    empty = (np.empty(0, np.int64), np.empty(0, np.int64))
    slot_views = []
    for slot in slot_list:
        views = [v for v in map(sv.view, slot) if v is not None]
        if not views:
            return empty  # some slot matches nothing in this segment
        slot_views.append(views)
    # conjunction of per-slot doc-id unions
    cand = None
    for views in slot_views:
        slot_ids = (
            views[0].decode_all()[0]
            if len(views) == 1
            else np.unique(np.concatenate([v.decode_all()[0] for v in views]))
        )
        cand = slot_ids if cand is None else np.intersect1d(cand, slot_ids, assume_unique=True)
        if cand.size == 0:
            return empty
    cur_keys = None
    for views, shift in zip(slot_views, shift_list):
        parts = []
        for v in views:
            ranks, pos = _positions_of(v, cand)
            parts.append(ranks * _PACK + (pos - np.int64(shift) + np.int64(max_shift)))
        # single-term keys are already sorted+unique (ranks asc, pos asc
        # within rank); unions go through np.unique
        slot_keys = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
        cur_keys = (
            slot_keys
            if cur_keys is None
            else np.intersect1d(cur_keys, slot_keys, assume_unique=True)
        )
        if cur_keys.size == 0:
            return empty
    tf = np.bincount(cur_keys // _PACK, minlength=cand.size)
    hit = np.flatnonzero(tf)
    return cand[hit], tf[hit].astype(np.int64)


def _ngram_seg_scores(plan: dict, sv: "_SegmentViews") -> tuple[np.ndarray, np.ndarray]:
    """by_ngram_similarity (ngram_similarity_query.cpp) in one segment: the
    candidates are the docs holding ANY query ngram (a distinct-count
    prefilter would be unsafe when the query repeats an ngram); each gets
    the longest in-order increasing-position chain L
    (:func:`_ngram_chain_lengths` over the merged occurrence stream), and
    docs with L ≥ ``min_match`` score boost * L/N — a float64 ratio, like
    the reference's filter_boost, whatever the searcher's dtype."""
    ngrams = plan["ngrams"]
    views = {t: v for t in sorted(set(ngrams)) if (v := sv.view(t)) is not None}
    if not views:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    cand = np.unique(np.concatenate([v.decode_all()[0] for v in views.values()]))
    keys, tvals = [], []
    for ti, v in enumerate(views.values()):
        ranks, pos = _positions_of(v, cand)
        keys.append(ranks * _PACK + pos)
        tvals.append(np.full(ranks.size, ti, np.int64))
    keys, tvals = np.concatenate(keys), np.concatenate(tvals)
    order = np.argsort(keys, kind="stable")
    keys, tvals = keys[order], tvals[order]
    slot_lists = [[i for i, g in enumerate(ngrams) if g == t] for t in views]
    docs_u, L = _ngram_chain_lengths(keys, keys // _PACK, tvals, slot_lists, len(ngrams))
    hit = L >= plan["min_match"]
    return cand[docs_u[hit]], float(plan["boost"]) * L[hit] / len(ngrams)


def _eval_plan(
    plan: dict,
    decoded: "_SegmentViews",
    dl: np.ndarray,
    avgdl: float,
    model: ScoreModel,
    dt,
    nctx: tuple[dict, dict] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Bottom-up evaluation → (sorted doc_ids, scores).

    ``nctx`` = (dl_by_field, avgdl_by_field) for MIXED-field plans: each term
    leaf scores against its OWN field's doc lengths and avgdl (per-field norms
    readers, bm25.cpp:283-299); ``None`` (single-field plan) uses the
    positional ``dl``/``avgdl``."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=dt))
    op = plan["op"]

    def leaf_norms(p: dict):
        if nctx is not None and p.get("field") in nctx[0]:
            return nctx[0][p["field"]], nctx[1][p["field"]]
        return dl, avgdl

    if op == "term":
        hit = decoded.get(plan["term"])
        if hit is None:
            return empty
        dl_l, avgdl_l = leaf_norms(plan)
        ids, tfs = hit[0], hit[1]
        scores = model.score(tfs, dl_l[ids - 1], plan["idf"], avgdl_l, plan["boost"], dt)
        return ids, scores
    if op == "mterm":
        dl_l, avgdl_l = leaf_norms(plan)
        legs = []
        for m in plan["terms"]:
            term, idf = m[0], m[1]
            tb = plan["boost"] * (m[2] if len(m) > 2 else 1.0)
            hit = decoded.get(term)
            if hit is None:
                continue
            ids, tfs = hit[0], hit[1]
            legs.append((ids, model.score(tfs, dl_l[ids - 1], idf, avgdl_l, tb, dt)))
        for term in _tail_terms(plan, decoded):  # bitset tail: matches, score 0
            hit = decoded.get(term)
            if hit is not None:
                legs.append((hit[0], np.zeros(hit[0].size, dtype=dt)))
        return _union(legs, plan.get("min_match", 1), dt, plan.get("merge", "sum"))
    if op == "phrase":
        # tf = phrase frequency (packed-key position intersect), idf = the
        # compile-time sum of member-term idfs (aggregated stats,
        # phrase_filter.cpp:231-318), or const 1 while unbound (exact_df:
        # the merge multiplies in the idf of the summed phrase df)
        dl_l, avgdl_l = leaf_norms(plan)
        ids, tfs = _phrase_seg_tfs(decoded, plan["slots"], plan["shifts"])
        if ids.size == 0:
            return empty
        idf = 1.0 if plan["idf"] is None else plan["idf"]
        return ids, model.score(tfs, dl_l[ids - 1], idf, avgdl_l, plan["boost"], dt)
    if op == "ngram":
        return _ngram_seg_scores(plan, decoded)
    if op == "and":
        merge = plan.get("merge", "sum")
        parts = [_eval_plan(p, decoded, dl, avgdl, model, dt, nctx) for p in plan["parts"]]
        # cost-ordered: smallest first (conjunction.hpp:112-124)
        parts.sort(key=lambda t: t[0].size)
        ids, scores = parts[0]
        mop = {"sum": np.add, "max": np.maximum, "min": np.minimum}[merge]
        for oids, oscores in parts[1:]:
            ids, ia, ib = np.intersect1d(ids, oids, assume_unique=True, return_indices=True)
            scores = mop(scores[ia], oscores[ib])
        for ex in plan.get("exclude", []):
            eids, _ = _eval_plan(ex, decoded, dl, avgdl, model, dt, nctx)
            keep = ~np.isin(ids, eids, assume_unique=True)
            ids, scores = ids[keep], scores[keep]
        if plan["boost"] != 1.0:
            scores = scores * dt(plan["boost"])
        return ids, scores
    if op == "or":
        legs = [_eval_plan(p, decoded, dl, avgdl, model, dt, nctx) for p in plan["parts"]]
        ids, scores = _union(legs, plan.get("min_match", 1), dt, plan.get("merge", "sum"))
        for ex in plan.get("exclude", []):
            eids, _ = _eval_plan(ex, decoded, dl, avgdl, model, dt, nctx)
            keep = ~np.isin(ids, eids, assume_unique=True)
            ids, scores = ids[keep], scores[keep]
        if plan["boost"] != 1.0:
            scores = scores * dt(plan["boost"])
        return ids, scores
    if op in ("all", "column"):
        ids = np.arange(1, dl.size + 1, dtype=np.int64) if op == "all" else decoded.stored[plan["key"]]
        return ids, np.full(ids.size, dt(plan["boost"]), dtype=dt)
    if op == "empty":
        return empty
    raise ValueError(f"bad plan op {op}")


def _union(legs, min_match: int, dt, merge: str = "sum") -> tuple[np.ndarray, np.ndarray]:
    """k-way disjunction: unique + score merge (kSum/kMax/kMin,
    sort.hpp:464-468) + match counting ≥ min_match
    (disjunction.hpp / min_match_disjunction.hpp analogue)."""
    legs = [(i, s) for i, s in legs if i.size]
    if not legs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=dt)
    all_ids = np.concatenate([i for i, _ in legs])
    all_scores = np.concatenate([s for _, s in legs])
    uniq, inv, counts = np.unique(all_ids, return_inverse=True, return_counts=True)
    if merge == "sum":
        sums = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(sums, inv, all_scores.astype(np.float64))
    elif merge == "max":
        sums = np.full(uniq.size, -np.inf)
        np.maximum.at(sums, inv, all_scores.astype(np.float64))
    elif merge == "min":
        sums = np.full(uniq.size, np.inf)
        np.minimum.at(sums, inv, all_scores.astype(np.float64))
    else:
        raise ValueError(f"bad merge type {merge!r}")
    sums = sums.astype(dt)
    if min_match > 1:
        keep = counts >= min_match
        return uniq[keep], sums[keep]
    return uniq, sums


class _SegmentNorms:
    """Lazy chunked Norm2 reader for one segment's norms rows, held for the
    generation in :data:`_SEGMENT_STATE` (so each chunk decodes once).

    The builder stores doc_len in fixed-size VByte chunks (one row per
    NORMS_CHUNK_DOCS docs — sparse_bitmap.hpp:62 block analogue); kernels
    index it like an ndarray (``dl[ids - 1]``) and only the chunks those ids
    touch are decoded. Exposes the minimal ndarray surface the scoring
    kernels use: fancy ``__getitem__`` (0-based int array), ``.size``,
    ``.min()``. ``.min()`` comes from the per-chunk ``min_len`` column (no
    decode)."""

    __slots__ = ("_enc", "_starts", "size", "_min", "_chunks")

    def __init__(self, norm_pdf: pd.DataFrame):
        norm_pdf = norm_pdf.sort_values("chunk_id")
        self._enc = list(norm_pdf["doc_len_enc"])
        counts = norm_pdf["docs_count"].to_numpy(np.int64)
        self._starts = np.zeros(counts.size + 1, dtype=np.int64)
        np.cumsum(counts, out=self._starts[1:])
        self.size = int(self._starts[-1])
        self._min = int(norm_pdf["min_len"].min())
        self._chunks: dict[int, np.ndarray] = {}

    def min(self) -> int:
        return self._min

    def _chunk(self, c: int) -> np.ndarray:
        a = self._chunks.get(c)
        if a is None:
            a = vbyte_decode(self._enc[c]).astype(np.int64)
            self._chunks[c] = a
        return a

    def __getitem__(self, idx) -> np.ndarray:
        idx = np.asarray(idx, dtype=np.int64)
        if len(self._enc) == 1:
            return self._chunk(0)[idx]
        out = np.empty(idx.size, dtype=np.int64)
        cid = np.searchsorted(self._starts, idx, side="right") - 1
        for c in np.unique(cid):
            m = cid == c
            out[m] = self._chunk(int(c))[idx[m] - self._starts[c]]
        return out


def _plan_has_all(plan: dict) -> bool:
    """True when the plan (or a sub-plan) matches docs without any postings —
    such plans must be evaluated from the norms or docs in every segment."""
    if plan["op"] in ("all", "column"):
        return True
    for p in plan.get("parts", ()):
        if _plan_has_all(p):
            return True
    return False


def _local_topk(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k under (score desc, doc_id asc), tie-safe."""
    if ids.size == 0:
        return ids, scores
    if ids.size > k:
        kth = np.partition(scores, ids.size - k)[ids.size - k]
        mask = scores >= kth
        ids, scores = ids[mask], scores[mask]
    order = np.lexsort((ids, -scores.astype(np.float64)))[:k]
    return ids[order], scores[order]


#: zero driver-side hits, typed like the kernel output
_NO_HITS = pd.DataFrame(
    {"segment_id": pd.Series([], dtype="int32"), "doc_id": pd.Series([], dtype="int32"),
     "score": pd.Series([], dtype="float64")}
)


def _driver_topk(
    pdf: pd.DataFrame, k: int, by: str | None = None, scores: tuple[str, ...] = ("score",)
) -> dict[str, np.ndarray]:
    """Driver-side top-k merge of per-segment candidate rows — the
    reference's heap loop (index-search.cpp:676-748): one ``np.lexsort`` by
    (``by``, each of ``scores`` desc, segment_id, doc_id), then a rank cut
    keeping ≤k rows (per ``by`` group when given). Returns the kept rows as
    ``{column: array}`` (``by``, segment_id, doc_id, *scores), in that
    order."""
    names = ([by] if by is not None else []) + ["segment_id", "doc_id", *scores]
    cols = {c: pdf[c].to_numpy() for c in names}
    keys = [cols["doc_id"], cols["segment_id"], *(-cols[c] for c in reversed(scores))]
    order = np.lexsort(keys if by is None else [*keys, cols[by]])
    if by is None:
        order = order[:k]
    elif order.size:
        group = cols[by][order]
        pos = np.arange(order.size)
        starts = np.flatnonzero(np.concatenate(([True], group[1:] != group[:-1])))
        rank = pos - np.repeat(starts, np.diff(np.append(starts, order.size)))
        order = order[rank < k]
    return {c: a[order] for c, a in cols.items()}


def _top(df: DataFrame, k: int | None, *order) -> DataFrame:
    """``df``'s first k rows under ``order``; every row, unordered, when ``k``
    is None (:meth:`Searcher.matches`)."""
    return df if k is None else df.orderBy(*order).limit(k)


def _unbound(plan: dict) -> bool:
    """A root phrase plan whose idf the merge binds (``exact_df``)."""
    return plan["op"] == "phrase" and plan["idf"] is None


#: zero segment-kernel rows, typed like ``_SEGMENT_OUT_SCHEMA``
_NO_SEGMENT_ROWS = _NO_HITS.assign(
    query=pd.Series([], dtype=object), seg_matches=pd.Series([], dtype="int64")
)[["query", "segment_id", "doc_id", "score", "seg_matches"]]


# --------------------------------------------------------------------------
# Searcher
# --------------------------------------------------------------------------


def pack_segments(counts: dict[int, int], p: int) -> list[list[int]]:
    """Live segments (``segment_id → docs_count``) packed into ``p`` task
    groups: largest segment first, each into the group holding the fewest
    docs so far (greedy longest-processing-time scheduling). Every segment
    lands in exactly one group; empty groups are dropped; members are sorted
    by segment id."""
    heap = [(0, g) for g in range(p)]
    groups: list[list[int]] = [[] for _ in range(p)]
    for sid, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        load, g = _heapq.heappop(heap)
        groups[g].append(sid)
        _heapq.heappush(heap, (load + n, g))
    return [sorted(g) for g in groups if g]


#: the postings columns a kernel reads: block bounds and max freqs come
#: from the decoded lists (:class:`PostingsView`)
_POSTINGS_COLS = ["segment_id", "term", "doc_ids_enc", "freqs_enc"]
#: no postings rows read
_NO_POSTINGS = pa.table(
    {"segment_id": pa.array([], pa.int32()), "term": pa.array([], pa.string()),
     "doc_ids_enc": pa.array([], pa.binary()), "freqs_enc": pa.array([], pa.binary())}
)
_NORMS_COLS = ["field", "segment_id", "chunk_id", "docs_count", "doc_len_enc", "min_len"]
_TYPES = {
    "int": (pa.int32(), _T.IntegerType()), "long": (pa.int64(), _T.LongType()),
    "double": (pa.float64(), _T.DoubleType()), "string": (pa.string(), _T.StringType()),
}


@_functools.lru_cache(maxsize=None)
def _schemas(ddl: str) -> tuple[pa.Schema, "_T.StructType"]:
    """(pyarrow, Spark) schemas of a flat ``name type, ...`` kernel output
    schema, built without a JVM round trip."""
    cols = [c.split() for c in ddl.split(",")]
    return (
        pa.schema([(n, _TYPES[t][0]) for n, t in cols]),
        _T.StructType([_T.StructField(n, _TYPES[t][1]) for n, t in cols]),
    )


# A driver-merged result's ≤k rows already sit in pandas on the driver: pushing
# them into the JVM only for collect() to pull them back was half a search.
class _LocalResult(_ClassicDataFrame):
    """A search result DataFrame over driver-side rows: ``ddl``'s columns, in
    order, with the dtypes Spark's ``toPandas`` gives them (int32, int64,
    float64, object). ``collect``, ``toPandas``, ``count`` and ``take`` (so
    ``head`` and ``first``) answer from the rows, exactly as Spark would;
    ``schema``, ``columns`` and ``dtypes`` come from ``ddl``. Any other
    operation reads ``_jdf``, which builds the Spark plan
    (``createDataFrame`` of the rows) on first use."""

    def __new__(cls, *args, **kwargs):
        # classic DataFrame.__new__ would call __init__(jdf, sql_ctx) itself
        return object.__new__(cls)

    def __init__(self, spark, rows: pd.DataFrame, ddl: str):
        self.__dict__["schema"] = _schemas(ddl)[1]  # the parent's cached_property
        self._rows = rows
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False

    @_functools.cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._rows, self.schema)._jdf

    def collect(self) -> list:
        cols = [self._rows[c].tolist() for c in self.schema.names]
        return [self.schema.fromInternal(values) for values in zip(*cols)]

    def toPandas(self) -> pd.DataFrame:
        return self._rows.reset_index(drop=True)

    def count(self) -> int:
        return len(self._rows)

    def take(self, num: int) -> list:
        if num < 0:
            return super().take(num)  # Spark's own error for a negative limit
        return self.collect()[:num]


@dataclass(frozen=True)
class _SegmentRead:
    """What :func:`_segment_frames` reads for one compiled batch from the
    committed generation's parquet (:meth:`Searcher._segment_read`)."""

    index: str  # the index directory, which keys _SEGMENT_STATE
    generation: int
    tables: dict  # the generation's state tables (IndexReader.state_tables)
    reads: list  # postings reads, :func:`scan_reads`
    mixed: bool  # composite field\x1fterm keys
    fields: tuple  # the fields whose norms the kernels read
    multifield: bool
    stored: dict = _dc_field(default_factory=dict)  # ScanSpec.stored


def _load_segment_state(sids: list[int], read: _SegmentRead, norms: dict, dels: dict) -> None:
    """Read ``sids``' norms rows (of ``read.fields``) and delete ids into
    the generation maps; a field a segment has no norms for maps to None."""
    seg = pc.field("segment_id").isin(sids)
    pred = seg & pc.field("field").isin(list(read.fields)) if read.multifield else seg
    rows = read_frame(read.tables["norms"], _NORMS_COLS, pred)
    by = ["segment_id", "field"] if read.multifield else "segment_id"
    groups = dict(tuple(rows.groupby(by))) if len(rows) else {}
    for sid in sids:
        for f in read.fields:
            g = groups.get((sid, f) if read.multifield else sid)
            norms[(sid, f)] = _SegmentNorms(g) if g is not None else None
        dels[sid] = None
    if "deletes" in read.tables:
        d = read_frame(read.tables["deletes"], ["segment_id", "doc_id"], seg)
        for sid, g in d.groupby("segment_id"):
            dels[int(sid)] = np.sort(g["doc_id"].to_numpy(np.int64))


def _postings_table(sids: list[int], read: _SegmentRead) -> pa.Table:
    """``sids``' postings rows of ``read.reads`` as one pyarrow table sorted
    by segment, keyed ``field\\x1fterm`` on mixed-field scans; rows of a
    read without positions carry a null ``pos_enc`` when another read has
    them. Each read takes only the row groups its terms and tail specs
    select (:func:`_row_groups`, over the generation's held
    ``TableParts``), then applies its filter to the rows read."""
    parts = held_parts(read.index, read.generation, read.tables, "postings", ("field", "term"))
    seg = pc.field("segment_id").isin(sids)
    cols = _POSTINGS_COLS + ["field"] * read.multifield  # the filter reads field too
    any_pos = any(pos for _, pos, _ in read.reads)
    out = []
    for pred, pos, selects in read.reads:
        t = parts.read(_row_groups(parts, selects, read.multifield), cols + ["pos_enc"] * pos)
        if t is None:
            continue
        t = t.filter(pred & seg)
        if read.multifield and not read.mixed:
            t = t.drop_columns("field")
        if any_pos and not pos:
            t = t.append_column("pos_enc", pa.nulls(len(t), pa.binary()))
        out.append(t)
    if not out:
        return _NO_POSTINGS
    post = out[0] if len(out) == 1 else pa.concat_tables(out, promote_options="default")
    if read.mixed:
        key = pc.binary_join_element_wise(post["field"], post["term"], FIELD_SEP)
        post = post.set_column(post.schema.get_field_index("term"), "term", key)
    return post.take(np.argsort(post["segment_id"].to_numpy(), kind="stable"))


def _stored_matches(sid: int, read: _SegmentRead) -> dict[str, np.ndarray]:
    """Each stored leaf's (``read.stored``) sorted matching doc ids in segment
    ``sid``, deleted ones included, from its docs row groups (picked by their
    held segment_id ranges); columns the segment lacks are null."""
    if not read.stored:
        return {}
    parts = held_parts(read.index, read.generation, read.tables, "docs", ("segment_id", "doc_id"))
    cols = sorted({c for cs, _ in read.stored.values() for c in cs})
    groups = np.flatnonzero(parts.overlaps("segment_id", sid, sid))
    docs = parts.read(groups, ["segment_id", "doc_id", *cols], use_threads=False)
    if docs is None:
        return dict.fromkeys(read.stored, np.empty(0, np.int64))
    docs = docs.filter(pc.field("segment_id") == sid)
    for c in set(cols) - set(docs.column_names):
        docs = docs.append_column(c, pa.nulls(len(docs), pa.float64()))
    return {
        key: np.sort(docs.filter(pred)["doc_id"].to_numpy().astype(np.int64))
        for key, (_, pred) in read.stored.items()
    }


def _segment_frames(sids: list[int], read: _SegmentRead):
    """Yield ``(segment_id, postings, norms, deletes, stored)`` per segment of
    ``sids``: its postings rows (a pyarrow table, :func:`_postings_table`),
    ``{field: _SegmentNorms}`` of the fields with norms in it (empty when it
    has none), its sorted deleted doc ids (the document_mask,
    segment_reader.hpp:92-93) or None, and :func:`_stored_matches`. Norms
    and deletes come from the generation's process-wide state
    (:data:`_SEGMENT_STATE`); only segments it does not hold yet read them,
    with pyarrow."""
    with _SEGMENT_STATE_LOCK:
        norms, dels, _ = generation_state(read.index, read.generation, read.tables)
        miss = [sid for sid in sids if any((sid, f) not in norms for f in read.fields)]
        if miss:
            _load_segment_state(miss, read, norms, dels)
    post = _postings_table(sids, read)
    seg_col = post["segment_id"].to_numpy()
    for sid in sids:
        lo, hi = np.searchsorted(seg_col, [sid, sid + 1])
        dl_map = {f: n for f in read.fields if (n := norms[(sid, f)]) is not None}
        yield sid, post.slice(int(lo), int(hi - lo)), dl_map, dels[sid], _stored_matches(sid, read)


def _segment_loop(sids: list[int], read: _SegmentRead, kernel):
    """The per-segment reader loop (segment_reader.hpp:35-110) of both
    placements: one pyarrow read of ``sids``' postings (norms and deletes
    once per generation, :func:`_segment_frames`), then ``kernel(segment_id,
    postings, norms, deletes, stored)`` per segment, serially. Yields each
    kernel output that has rows (a ``{column: numpy array}`` dict)."""
    for args in _segment_frames(sids, read):
        out = kernel(*args)
        if out is not None:
            yield out


def _segment_task(groups, read: tuple, kernel, schema: pa.Schema):
    """The ``mapInArrow`` body of :meth:`Searcher._segment_job`: for each
    group id arriving in the input, run :func:`_segment_loop` over that
    group's segments and emit its rows."""

    def run(batches):
        for batch in batches:
            for gid in batch.column(0).to_pylist():
                for out in _segment_loop(groups[gid], read, kernel):
                    yield pa.RecordBatch.from_pydict(out, schema=schema)

    return run


class Searcher:
    # kernel placement for k-bounded batches: at or under this many
    # planned postings (ScanSpec.planned_postings — the df sum over every
    # plan's scored leaves; unscored multiterm tails do not count, top-k
    # prunes their 0-score matches) the segment loop runs serially in the
    # driver with no Spark job, above it as the Spark job. Rule: the driver
    # takes any batch its serial loop finishes within the Spark job floor,
    # the smallest job median of examples/placement_sweep.py. The floor is a
    # job's fixed cost, which no number of executor cores lowers, so the
    # bound does not depend on the core count. It is the sweep's printed
    # crossing, median over repeated sweeps, rounded to 0.1M: on a
    # 5,000-page perfbench index at 4 cores, nine sweeps read 0.84–1.26M
    # (median 1.14M).
    # Instance-overridable for tests / unusual deployments.
    DRIVER_MAX_POSTINGS = 1_100_000

    def __init__(
        self,
        reader: IndexReader,
        k1: float = K_DEFAULT,
        b: float = B_DEFAULT,
        scorer: str = "bm25",
        phrase_scoring: str = "exact_df",
    ):
        """``phrase_scoring`` picks the stats of a ROOT Phrase/SamePosition;
        either way the phrase frequency plugs into the scorer as tf:

        * ``"exact_df"`` (default, this engine's documented historical mode) —
          idf from the exact phrase document frequency. That df is known only
          after the kernel ran, so the idf is bound on the driver: each
          segment reports its match count, and the merge sums them and
          multiplies the idf into the (const-1) kernel scores. A batch
          (:meth:`prepare`) binds each root phrase's idf the same way.
        * ``"sum_of_terms"`` — REFERENCE PARITY: the aggregated stats blob sums
          every member term's idf (phrase_filter.cpp:231-318
          ``term_stats.finish`` per slot term; bm25.cpp:495-497 / tfidf.cpp:380
          ``idf +=``). Variadic slots sum ALL expanded terms' idfs, like the
          reference's per-slot collectors (phrase_filter.cpp:418-427).

        Phrases nested under And/Or always score as ``sum_of_terms``.
        """
        self.reader = reader
        self.k1 = k1
        self.b = b
        self.model = get_model(scorer, k1, b)
        if phrase_scoring not in ("exact_df", "sum_of_terms"):
            raise ValueError(f"unknown phrase_scoring {phrase_scoring!r}")
        self.phrase_scoring = phrase_scoring
        self._groups: list[list[int]] | None = None  # segment task groups

    def _segment_groups(self) -> list[list[int]]:
        """The live segments packed into ``P = min(#live,
        defaultParallelism)`` task groups (:func:`pack_segments`); read once
        per Searcher from the norms table, no Spark job."""
        if self._groups is None:
            counts = self.reader.segment_docs_counts()
            p = min(len(counts), self.reader.spark.sparkContext.defaultParallelism)
            self._groups = pack_segments(counts, p)
        return self._groups

    def _segment_read(self, scan: ScanSpec) -> _SegmentRead:
        """What :func:`_segment_frames` reads for ``scan`` from the committed
        generation: its tables, the postings reads (:func:`scan_reads`) and
        the norms of the scan's fields (the default field when it has none;
        a single-field index's norms are all the default field's)."""
        reader = self.reader
        multi = reader.is_multifield
        fields = (scan.fields or [reader.default_field]) if multi else [reader.default_field]
        return _SegmentRead(
            os.path.abspath(reader.index_path), int(reader.meta["generation"]),
            reader.state_tables, scan_reads(scan, multi), scan.mixed, tuple(fields), multi,
            scan.stored,
        )

    def _segment_job(self, kernel, scan: ScanSpec) -> DataFrame:
        """The Spark placement: ONE shuffle-free Spark job running
        ``kernel(segment_id, postings, norms, deletes, stored)`` once per
        live segment →
        ``_SEGMENT_OUT_SCHEMA`` rows.

        ``range(P).mapInArrow``: task i runs :func:`_segment_loop` over group
        i's segments (see :meth:`_segment_groups`). Nothing is redistributed
        and nothing is cached in Spark; the plan is one Range → MapInArrow
        node."""
        reader = self.reader
        groups = self._segment_groups()
        if not groups:
            return reader.spark.createDataFrame([], _SEGMENT_OUT_SCHEMA)
        arrow_schema, spark_schema = _schemas(_SEGMENT_OUT_SCHEMA)
        task = _segment_task(groups, self._segment_read(scan), kernel, arrow_schema)
        return reader.spark.range(len(groups), numPartitions=len(groups)).mapInArrow(
            task, spark_schema
        )

    def _segment_rows(self, kernel, scan: ScanSpec) -> pd.DataFrame:
        """The driver placement: the same ``_SEGMENT_OUT_SCHEMA`` rows as
        :meth:`_segment_job`, from one :func:`_segment_loop` over every live
        segment in this process — no Spark job."""
        sids = sorted(self.reader.segment_docs_counts())
        outs = list(_segment_loop(sids, self._segment_read(scan), kernel))
        if not outs:
            return _NO_SEGMENT_ROWS.copy()
        return pd.DataFrame({c: np.concatenate([o[c] for o in outs]) for c in outs[0]})

    def unpersist(self) -> None:
        """No-op, kept for callers: a Searcher caches nothing in Spark (each
        search's segment tasks read the index parquet directly)."""

    def search(
        self,
        f: flt.Filter,
        k: int = 10,
        dtype: str = "float64",
        with_keys: bool = True,
    ) -> DataFrame:
        """Top-k matches, ordered by (score desc, segment_id, doc_id).

        Returns a DataFrame (doc_key?, segment_id, doc_id, score) of ≤k rows.
        Scored queries run their kernel when ``search()`` is called — in the
        driver with no Spark job when the query plans at most
        ``DRIVER_MAX_POSTINGS`` postings, else as one Spark job (see
        :meth:`_execute_batch`): each segment's ≤k rows are merged on the
        driver and the doc keys are read from the docs table without Spark
        (:meth:`IndexReader.fetch_docs`). The result holds those ≤k rows on
        the driver (:class:`_LocalResult`): ``collect`` and ``toPandas`` make
        no JVM call. ``All`` is scored from the norms by the same kernel:
        every live doc at its boost, in (segment_id, doc_id) order, and so
        are ColumnExists and NumericRange from the docs. A root Nested stays a
        lazy Spark plan.
        """
        nf = flt.normalize(f)
        if isinstance(nf, flt.Nested):
            return self._search_nested(nf, k, with_keys)
        plans, scan = self._compile({"": nf}, dtype)
        if plans[""]["op"] == "empty":
            return self._hits_frame(_NO_HITS, with_keys)
        # a batch of one: the batch kernel, merged on the driver
        return self._hits_frame(self._execute_batch(plans, scan, k, dtype), with_keys)

    def _compile(
        self, filters: dict[str, flt.Filter], dtype: str, model: ScoreModel | None = None
    ) -> tuple[dict[str, dict], ScanSpec]:
        """:func:`compile_plans` of root filters under ``model``
        (the searcher's when None) — the one compile of ``search``,
        ``matches``, ``prepare`` and ``search_ordered``. Under ``exact_df``
        each root Phrase/SamePosition gets ``"idf": None``: the kernel scores
        it at const 1 and reports its per-segment match counts, and
        :meth:`_bind_phrase_idf` multiplies in the phrase-df idf."""
        model = model or self.model
        plans, scan = compile_plans(filters, self.reader, self.k1, self.b, dtype, model=model)
        if self.phrase_scoring == "exact_df":
            for plan in plans.values():
                if plan["op"] == "phrase":
                    plan["idf"] = None
        return plans, scan

    def _phrase_idf(self, plan: dict, dfp: int, dtype: str, model: ScoreModel | None = None) -> float:
        """The idf under ``model`` (the searcher's when None) of an unbound
        phrase plan matched by ``dfp`` live docs, from the stats of the
        plan's (first slot's) field."""
        n = self.reader.field_stats(plan["field"])["docs_with_field"]
        return (model or self.model).term_const(int(dfp), n, _dtype(dtype))

    def search_ordered(
        self,
        f: flt.Filter,
        k: int = 10,
        scorers: tuple[str, ...] = ("bm25",),
        dtype: str = "float64",
        with_keys: bool = True,
    ) -> DataFrame:
        """Multi-scorer Order (sort.hpp:218-349 bucket list): every scorer in
        ``scorers`` produces one score bucket and results order
        LEXICOGRAPHICALLY by the bucket values (desc), doc order last — the
        reference's multi-bucket sort semantics.

        Returns (doc_key?, segment_id, doc_id, score0..scoreN).

        Scale shape: placed, merged and keyed like :meth:`search`. The
        filter compiles once per scorer (that scorer's model), and one
        per-segment loop runs a kernel that evaluates every scorer's plan
        exact on each segment and keeps the segment's lexicographic top-k
        (an exact cut: the order is total). Pruning (WAND/MaxScore) is
        single-bucket-bound in the reference too. A root Nested joins one
        lazy :meth:`matches` plan per scorer on (segment_id, doc_id)."""
        if not scorers:
            raise ValueError("scorers must name at least one scorer")
        score_cols = tuple(f"score{i}" for i in range(len(scorers)))
        nf = flt.normalize(f)
        if isinstance(nf, flt.Nested):
            legs = [
                Searcher(self.reader, self.k1, self.b, scorer=name, phrase_scoring=self.phrase_scoring)
                .matches(nf, dtype=dtype)
                .withColumnRenamed("score", col)
                for name, col in zip(scorers, score_cols)
            ]
            out = legs[0]
            for leg in legs[1:]:
                # identical boolean structure → identical match sets; inner join
                out = out.join(leg, ["segment_id", "doc_id"])
            order = [F.desc(c) for c in score_cols] + [F.asc("segment_id"), F.asc("doc_id")]
            return self._hits_frame(out.orderBy(*order).limit(k).toPandas(), with_keys, score_cols)
        models = {c: get_model(name, self.k1, self.b) for c, name in zip(score_cols, scorers)}
        plans: dict[str, dict] = {}
        for c, model in models.items():
            compiled, scan = self._compile({c: nf}, dtype, model)
            plans.update(compiled)
        root = plans[score_cols[0]]
        dt = _dtype(dtype)
        mixed, avgdl, avg_map = self._norms_ctx(scan)
        # every scorer's plan has the same boolean structure, so the same
        # matches; an unbound idf scales a bucket alike, yet its ULP
        # rounding may reorder near-ties: 16 rows of slack
        cut = k + 16 if _unbound(root) else k
        legs = [(plans[c], models[c]) for c in score_cols]

        def kernel(sid: int, postings: pa.Table, norms: dict, dels, stored: dict) -> dict | None:
            if not norms:
                return None  # postings may be empty: All plans use norms only
            dl = next(iter(norms.values()))
            nctx = (norms, avg_map) if mixed else None
            sv = _SegmentViews(postings, stored)
            evals = [
                _mask_deleted(*_eval_plan(plan, sv, dl, avgdl, model, dt, nctx), dels)
                for plan, model in legs
            ]
            ids = evals[0][0]
            if not ids.size:
                return None
            scores = [sc.astype(np.float64) for _, sc in evals]
            top = np.lexsort([ids, *(-sc for sc in reversed(scores))])[:cut]
            n = top.size * len(legs)
            # one block of rows per scorer, each in the same doc order
            return {
                "query": np.repeat(np.array(score_cols, dtype=object), top.size),
                "segment_id": np.full(n, sid, np.int32),
                "doc_id": np.tile(ids[top].astype(np.int32), len(legs)),
                "score": np.concatenate([sc[top] for sc in scores]),
                "seg_matches": np.full(n, ids.size if _unbound(root) else 0, np.int64),
            }

        if scan.planned_postings <= self.DRIVER_MAX_POSTINGS:
            pdf = self._segment_rows(kernel, scan)
        else:
            pdf = self._segment_job(kernel, scan).toPandas()
        self._bind_phrase_idf(pdf, plans, dtype, models)
        # the scorers' row blocks arrive aligned: one column per scorer
        query, score = pdf["query"].to_numpy(), pdf["score"].to_numpy()
        wide = pdf.loc[query == score_cols[0], ["segment_id", "doc_id"]].assign(
            **{c: score[query == c] for c in score_cols}
        )
        return self._hits_frame(_driver_topk(wide, k, scores=score_cols), with_keys, score_cols)

    def matches(self, f: flt.Filter, dtype: str = "float64") -> DataFrame:
        """ALL matching (segment_id, doc_id, score) rows — no top-k, no global
        sort, output stays partitioned by segment. This is the composition
        path (nested child legs, pre-materialization): a downstream fold
        shuffles only the match set, never sorts the corpus. Filters but Nested
        are the search kernel without its top-k; nothing is collected. An
        ``exact_df`` root phrase first counts its matches (one more job, one
        row back) to bind its idf."""
        nf = flt.normalize(f)
        if isinstance(nf, flt.Nested):
            return self._search_nested(nf, None, with_keys=False)
        plans, scan = self._compile({"": nf}, dtype)
        plan = plans[""]
        if plan["op"] == "empty":
            return self.reader.spark.createDataFrame([], KERNEL_OUT_SCHEMA)
        local = self._execute_batch(plans, scan, None, dtype)
        score = F.col("score")
        if _unbound(plan):
            # the same dtype product as _bind_phrase_idf's numpy one
            ftype = "float" if dtype == "float32" else "double"
            idf = self._phrase_idf(plan, local.count(), dtype)
            score = (score.cast(ftype) * F.lit(idf).cast(ftype)).cast("double").alias("score")
        return local.select("segment_id", "doc_id", score)

    # ------------------------------------------------------------- batched
    def prepare(
        self,
        queries: dict[str, flt.Filter],
        dtype: str = "float64",
    ) -> "PreparedBatch":
        """The ``filter::prepare`` phase for a query batch (filter.hpp:53-110):
        normalize, expand multiterm leaves, collect global stats ONCE, bake
        per-term constants. The returned :class:`PreparedBatch` can be
        ``execute()``d repeatedly without touching the driver-side stats again
        — the exact analogue of the reference's prepared-query reuse.

        Compiled like :meth:`search` (:meth:`_compile`): under ``exact_df``
        a root Phrase/SamePosition's idf is bound at each execute's merge,
        so every query scores exactly as its own ``search()``."""
        plans, scan = self._compile(queries, dtype)
        return PreparedBatch(self, plans, scan, dtype)

    def search_many(
        self,
        queries: dict[str, flt.Filter],
        k: int = 10,
        dtype: str = "float64",
    ) -> DataFrame:
        """Evaluate a batch of queries in ONE pass over the segments, placed
        like :meth:`search`; each query's rows and scores equal its own
        ``search()``'s.

        Postings for the union of every query's terms are scanned once per
        segment; each plan is pruned independently (WAND/MaxScore) in-kernel;
        the driver merges the per-query top-k. Returns
        (query, segment_id, doc_id, score) — ≤ k rows per query, ordered by
        (query, score desc, segment_id, doc_id). This is the batched query
        evaluation shape of the north rule: per-query driver overhead is
        amortized, throughput scales with executors. The result keeps its
        rows on the driver (see :meth:`PreparedBatch.execute`).
        """
        return self.prepare(queries, dtype).execute(k)

    def _norms_ctx(self, scan: ScanSpec):
        """(mixed, default avgdl, avgdl-by-field) for a compiled batch. Mixed
        batches read every referenced field's norms rows and the kernels
        build a per-field map."""
        flds = scan.fields
        if scan.mixed:
            avg_map = {f: self.reader.field_stats(f)["avgdl"] for f in flds}
            return True, avg_map[flds[0]], avg_map
        f = flds[0] if flds else None
        return False, self.reader.field_stats(f)["avgdl"], None

    def _execute_batch(
        self,
        plans: dict[str, dict],
        scan: ScanSpec,
        k: int | None,
        dtype: str,
    ):
        """Per-query top-k of a compiled batch as ``{column: array}`` rows
        (query, segment_id, doc_id, score), ordered by (query, score desc,
        segment_id, doc_id): the one merge of every k-bounded call, on the
        driver (:func:`_driver_topk`, after :meth:`_bind_phrase_idf`). At
        most #segments × #plans × (k + 16) kernel rows reach it.

        Placement: a batch planning at most ``DRIVER_MAX_POSTINGS`` postings
        runs the per-segment loop in this process (:meth:`_segment_rows`, no
        Spark job); a larger one runs it as the Spark job
        (:meth:`_segment_job`). Both run the same loop and kernel, so the
        rows are identical.

        ``k=None`` is :meth:`matches`: every plan evaluates exact with no
        top-k, and the result is the kernel job's lazy DataFrame, unmerged
        (unbound phrase idfs are left to the caller)."""
        model = self.model
        dt = _dtype(dtype)
        if scan.is_empty() and not any(_plan_has_all(p) for p in plans.values()):
            if k is not None:
                return _driver_topk(_NO_SEGMENT_ROWS, k, by="query")
            empty = _NO_SEGMENT_ROWS.drop(columns="seg_matches")
            return _LocalResult(self.reader.spark, empty, BATCH_OUT_SCHEMA)

        in_driver = k is not None and scan.planned_postings <= self.DRIVER_MAX_POSTINGS
        mixed, avgdl, avg_map = self._norms_ctx(scan)
        # the plans ride in the kernel's closure: PySpark itself broadcasts a
        # pickled command larger than PythonUtils.getBroadcastThreshold
        items = list(plans.items())

        def kernel(sid: int, postings: pa.Table, norms: dict, dels, stored: dict) -> dict | None:
            if not norms:
                return None  # postings may be empty: All plans use norms only
            dl = next(iter(norms.values()))
            dl_map = norms if mixed else None
            sv = _SegmentViews(postings, stored)
            names, sizes, matches, id_parts, score_parts = [], [], [], [], []
            for name, plan in items:
                if k is None:
                    nctx = (dl_map, avg_map) if mixed else None
                    ids, scores = _eval_plan(plan, sv, dl, avgdl, model, dt, nctx)
                else:
                    ids, scores = _eval_root_dispatch(
                        plan, sv, k, model, dt, dels, dl, avgdl, dl_map, avg_map
                    )
                ids, scores = _mask_deleted(ids, scores, dels)
                n_matches = ids.size if _unbound(plan) else 0
                if k is not None:
                    # an unbound idf scales every score alike, yet its ULP
                    # rounding may reorder near-ties: 16 rows of slack
                    ids, scores = _local_topk(ids, scores, k + 16 if _unbound(plan) else k)
                if ids.size:
                    names.append(name)
                    sizes.append(ids.size)
                    matches.append(n_matches)
                    id_parts.append(ids.astype(np.int32))
                    score_parts.append(scores.astype(np.float64))
            if not sizes:
                return None
            # one set of columns per segment: every plan's rows, in plan order
            return {
                "query": np.repeat(np.array(names, dtype=object), sizes),
                "segment_id": np.full(sum(sizes), sid, np.int32),
                "doc_id": np.concatenate(id_parts),
                "score": np.concatenate(score_parts),
                "seg_matches": np.repeat(np.array(matches, dtype=np.int64), sizes),
            }

        if in_driver:
            pdf = self._segment_rows(kernel, scan)
        else:
            local = self._segment_job(kernel, scan)
            if k is None:
                return local
            pdf = local.toPandas()
        self._bind_phrase_idf(pdf, plans, dtype)
        return _driver_topk(pdf, k, by="query")

    def _bind_phrase_idf(
        self, pdf: pd.DataFrame, plans: dict[str, dict], dtype: str, models: dict | None = None
    ) -> None:
        """Bind each unbound phrase plan's idf into its kernel rows: the
        per-segment match counts sum to the exact phrase df (the
        phrase_query.cpp one-pass stats collection), and every const-1 score
        is multiplied by that df's idf in ``dtype``, under the plan's model
        in ``models`` (the searcher's when absent). Replaces ``pdf``'s score
        column when a plan is unbound."""
        unbound = [(name, plan) for name, plan in plans.items() if _unbound(plan)]
        if not unbound:
            return
        dt = _dtype(dtype)
        models = models or {}
        query, seg = pdf["query"].to_numpy(), pdf["segment_id"].to_numpy()
        matches = pdf["seg_matches"].to_numpy()
        score = pdf["score"].to_numpy(np.float64, copy=True)
        for name, plan in unbound:
            rows = np.flatnonzero(query == name)
            _, first = np.unique(seg[rows], return_index=True)  # one count per segment
            dfp = matches[rows[first]].sum()
            idf = dt(self._phrase_idf(plan, dfp, dtype, models.get(name)))
            score[rows] = (score[rows].astype(dt) * idf).astype(np.float64)
        pdf["score"] = score

    def _hits_frame(self, hits, with_keys: bool, score_cols: tuple[str, ...] = ("score",)) -> DataFrame:
        """The ≤k ranked driver-side hits (a pandas frame or a ``{column:
        array}`` dict), in their order, as the search result: a
        :class:`_LocalResult` of (doc_key?, segment_id, doc_id, *score_cols)
        that keeps the rows on the driver. Doc keys come from
        :meth:`IndexReader.fetch_docs` — no Spark job — and attach by
        position."""
        cols = {c: np.asarray(hits[c]) for c in ("segment_id", "doc_id", *score_cols)}
        schema = "segment_id int, doc_id int, " + ", ".join(f"{c} double" for c in score_cols)
        if with_keys:
            keys = self.reader.fetch_docs(cols["segment_id"], cols["doc_id"])
            found = keys.index.to_numpy()
            cols = {"doc_key": keys["doc_key"].to_numpy(), **{c: a[found] for c, a in cols.items()}}
            schema = "doc_key string, " + schema
        return _LocalResult(self.reader.spark, pd.DataFrame(cols), schema)

    def _search_nested(self, node: flt.Nested, k: int | None, with_keys: bool) -> DataFrame:
        """ChildToParentJoin (nested_filter.cpp:99-305) as a relational plan:
        ALL child matches (un-truncated kernel pass) → broadcast-light
        groupBy(parent_key) fold → join onto the parent docs. The aggregate
        replaces the reference's parent-bitset seek; at scale the fold
        shuffles only the child MATCH set, not the corpus."""
        pk = node.parent_key_col
        docs = self.reader.live_docs()
        if pk not in docs.columns:
            return self._hits_frame(_NO_HITS, with_keys)
        parents = docs.where(F.col(pk).isNull()).select(
            "doc_key", "segment_id", "doc_id"
        )
        # matches-only child pass: no global orderBy/limit over the child
        # match set (the old search(k=2^30) leg globally sorted every child
        # match — pure waste, the fold below is order-free)
        child_rows = self.matches(node.child)
        keyed = child_rows.join(
            docs.select("segment_id", "doc_id", pk), ["segment_id", "doc_id"]
        ).where(F.col(pk).isNotNull())
        fold = {
            "sum": F.sum("score"),
            "max": F.max("score"),
            "min": F.min("score"),
            "avg": F.avg("score"),
        }[node.merge]
        grouped = keyed.groupBy(F.col(pk).alias("doc_key")).agg(
            F.count("*").alias("n_children"), fold.alias("child_score")
        )
        if node.match == "none":
            out = parents.join(grouped.select("doc_key"), "doc_key", "left_anti").select(
                "doc_key", "segment_id", "doc_id", F.lit(float(node.boost)).alias("score")
            )
            topk = _top(out, k, "segment_id", "doc_id")
        else:
            min_c = node.min_children if node.match == "min" else 1
            max_c = getattr(node, "max_children", None)
            if min_c <= 0:
                # Match{0, ...}: EVERY parent satisfies the lower bound, even
                # with zero matching children (nested_filter_test.cpp "Match
                # all parents" expects {6, 8, 13, 20} for Match{0}); parents
                # without matches fold to score 0
                out = parents.join(grouped, "doc_key", "left")
                if max_c is not None:
                    out = out.where(
                        F.coalesce(F.col("n_children"), F.lit(0)) <= int(max_c)
                    )
                out = out.select(
                    "doc_key", "segment_id", "doc_id",
                    (
                        F.coalesce(F.col("child_score"), F.lit(0.0))
                        * F.lit(float(node.boost))
                    ).alias("score"),
                )
                topk = _top(out, k, F.desc("score"), "segment_id", "doc_id")
                return topk if with_keys else topk.drop("doc_key")
            matched = grouped.where(F.col("n_children") >= min_c)
            # Match.Max upper bound (nested_filter.hpp:35-52: a Match is a
            # [Min, Max] RANGE; kMatchAny = {1, eof} i.e. no cap)
            if max_c is not None:
                matched = matched.where(F.col("n_children") <= int(max_c))
            out = parents.join(matched, "doc_key").select(
                "doc_key", "segment_id", "doc_id",
                (F.col("child_score") * F.lit(float(node.boost))).alias("score"),
            )
            topk = _top(out, k, F.desc("score"), "segment_id", "doc_id")
        return topk if with_keys else topk.drop("doc_key")

    def _hit_occurrences(
        self,
        f: flt.Filter,
        k: int,
        dtype: str,
        table: str,
        streams: tuple[str, ...],
        surface: str,
        first_only: bool = False,
    ) -> pd.DataFrame:
        """Shared :meth:`highlight` / :meth:`payloads` read, on the driver:
        the ≤k hits of :meth:`search`, then one pyarrow read of the sidecar
        ``table``'s rows of the query's terms (Term/Terms/And/Or) in the hit
        segments, decoded in one pass (:func:`decode_postings`; ``pay_enc``
        by :func:`vbyte_decode`, a positional stream by
        :func:`decode_positions`); the hit docs' occurrences are gathered in
        numpy, as the reference reads stored values by doc id from the open
        reader (index-search.cpp:676-748).

        Returns (doc_key, segment_id, doc_id, score, term, *streams): one row
        per occurrence of a query term in a hit doc (only its first with
        ``first_only``), ordered by (hit rank, term, occurrence) — the hit
        rank is the search order (score desc, segment_id, doc_id). Raises if
        the index lacks the sidecar table."""
        if table not in self.reader.meta.get("tables", {}):
            raise ValueError(
                f"index has no {table} sidecar: build with "
                f"IndexBuilder(..., with_{table}=True)"
            )

        def terms_of(node: flt.Filter) -> set[str]:
            if isinstance(node, flt.Term):
                return {node.term}
            if isinstance(node, flt.Terms):
                return set(node.terms)
            if isinstance(node, (flt.And, flt.Or)):
                out: set[str] = set()
                for p in node.parts:
                    out |= terms_of(p)
                return out
            raise TypeError(
                f"{surface}() supports Term/Terms/And/Or filters, "
                f"got {type(node).__name__}"
            )

        terms = sorted(terms_of(flt.normalize(f)))
        hits = self.search(f, k=k, dtype=dtype).toPandas()  # ≤ k
        sids = hits["segment_id"].to_numpy().astype(np.int64)
        want = (sids << 32) | hits["doc_id"].to_numpy().astype(np.int64)
        pred = pc.field("term").isin(terms) & pc.field("segment_id").isin(np.unique(sids).tolist())
        cols = ["term", "segment_id", "doc_ids_enc", "freqs_enc", *streams]
        t = read_table(self.reader.meta["tables"][table], cols, pred)
        ids, tfs, off = decode_postings(t.column("doc_ids_enc"), t.column("freqs_enc"))
        row = np.repeat(np.arange(t.num_rows), np.diff(off))  # each posting's row
        have = (t.column("segment_id").to_numpy().astype(np.int64)[row] << 32) | ids
        # the postings of hit docs, and each one's hit rank
        by_key = np.argsort(want)
        at = np.searchsorted(want, have, sorter=by_key)
        found = at < want.size
        found[found] = want[by_key[at[found]]] == have[found]
        sel = np.flatnonzero(found)
        rank = by_key[at[sel]]
        # their occurrences: indexes into the flat per-occurrence streams
        occ_pre = np.zeros(tfs.size + 1, np.int64)
        np.cumsum(tfs, out=occ_pre[1:])
        n = np.minimum(tfs[sel], 1) if first_only else tfs[sel]
        of = np.repeat(np.arange(sel.size), n)  # each occurrence's posting in sel
        ordinal = np.arange(of.size) - (np.cumsum(n) - n)[of]
        occ = occ_pre[sel][of] + ordinal
        values = {}
        for name in streams:
            buf, _ = _flat_bytes(t.column(name))
            flat = vbyte_decode(buf).astype(np.int64) if name == "pay_enc" else decode_positions(buf, tfs)
            values[name] = flat[occ]
        term = t.column("term").to_numpy(zero_copy_only=False)[row[sel][of]]
        hit = rank[of]
        _, term_rank = np.unique(term, return_inverse=True)
        order = np.lexsort((ordinal, term_rank, hit))
        hit = hit[order]
        return pd.DataFrame(
            {
                "doc_key": hits["doc_key"].to_numpy()[hit],
                "segment_id": hits["segment_id"].to_numpy()[hit],
                "doc_id": hits["doc_id"].to_numpy()[hit],
                "score": hits["score"].to_numpy()[hit],
                "term": term[order],
                **{name: v[order] for name, v in values.items()},
            }
        )

    def highlight(self, f: flt.Filter, k: int = 10, dtype: str = "float64") -> DataFrame:
        """First-occurrence token offsets of the query's terms in the top-k
        docs (the OFFS highlighting surface; offset attribute
        token_attributes.hpp:39-47, persisted streams formats_10.cpp:345-353).

        Requires the index built with ``IndexBuilder(..., with_offsets=True)``.
        The term set is extracted from the normalized filter (Term / Terms /
        And / Or over those). Returns one row per (top-k doc, query term
        occurring in it): ``(doc_key, segment_id, doc_id, score, term, start,
        end)`` where ``start`` is the 0-based byte offset of the term's FIRST
        occurrence in the doc's lowercased text and ``end = start +
        len(term)`` (simple-analyzer tokens are verbatim substrings), ordered
        by (score desc, segment_id, doc_id, term).

        Scale shape: top-k is :meth:`search`, placed as usual; the offsets
        of its ≤k hits are one pyarrow read of the query terms' sidecar rows
        in the hit segments, decoded and gathered on the driver
        (:meth:`_hit_occurrences`), with no Spark job. The result keeps its
        rows on the driver (:class:`_LocalResult`).
        """
        occ = self._hit_occurrences(f, k, dtype, "offsets", ("offs_enc",), "highlight", True)
        occ = occ.rename(columns={"offs_enc": "start"})
        occ["end"] = occ["start"] + np.fromiter(map(len, occ["term"]), np.int64, len(occ))
        ddl = "doc_key string, segment_id int, doc_id int, score double, term string, start long, end long"
        return _LocalResult(self.reader.spark, occ, ddl)

    def payloads(self, f: flt.Filter, k: int = 10, dtype: str = "float64") -> DataFrame:
        """Per-occurrence payloads of the query's terms in the top-k docs —
        the PAY stream query surface (payload attribute,
        token_attributes.hpp; `.pay` stream formats_10.cpp:345-353).

        Requires an index built with ``IndexBuilder(..., with_payloads=True)``
        and a payload-emitting analyzer (``payload:<sep>``). Returns one row
        per (top-k doc, query-term occurrence): ``(doc_key, segment_id,
        doc_id, score, term, pos, payload)``, ordered by (score desc,
        segment_id, doc_id, term, pos).

        Scale shape mirrors :meth:`highlight`: top-k is :meth:`search`; the
        positions and payloads of its ≤k hits are one pyarrow read of the
        sidecar rows, decoded and gathered on the driver with no Spark job."""
        occ = self._hit_occurrences(f, k, dtype, "payloads", ("pos_enc", "pay_enc"), "payloads")
        occ = occ.rename(columns={"pos_enc": "pos", "pay_enc": "payload"})
        ddl = "doc_key string, segment_id int, doc_id int, score double, term string, pos long, payload long"
        return _LocalResult(self.reader.spark, occ, ddl)

class PreparedBatch:
    """A compiled query batch (``filter::prepared`` analogue): stats baked
    and multiterm leaves expanded once. Each ``execute`` re-reads the
    batch's postings and norms from the index parquet — in the driver when
    the batch plans at most ``Searcher.DRIVER_MAX_POSTINGS`` postings, else
    in one Spark job — and merges on the driver
    (:meth:`Searcher._execute_batch`). Nothing is persisted or broadcast, so
    no other Searcher or batch can share or drop this one's state."""

    def __init__(
        self,
        searcher: Searcher,
        plans: dict[str, dict],
        scan: ScanSpec,
        dtype: str,
    ):
        self._searcher = searcher
        self.plans = plans
        self.scan = scan
        self.dtype = dtype

    def execute(self, k: int = 10) -> DataFrame:
        """Per-query top-k of the batch, (query, segment_id, doc_id, score),
        each query's rows and scores those of its own ``search()``. The
        result holds its merged rows on the driver (:class:`_LocalResult`:
        ``collect`` makes no JVM call)."""
        s = self._searcher
        rows = s._execute_batch(self.plans, self.scan, k, self.dtype)
        return _LocalResult(s.reader.spark, pd.DataFrame(rows), BATCH_OUT_SCHEMA)

    def unpersist(self) -> None:
        """No-op, kept for callers: a batch holds nothing in Spark (each
        execute pickles its plans into the kernel's closure)."""
