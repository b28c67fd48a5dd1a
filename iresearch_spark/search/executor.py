"""Query execution: filter tree → distributed per-segment kernels → global top-k.

The reference lifecycle (SURVEY.md §3.2) maps as:

* ``prepare`` — :func:`compile_plan`: expand multiterm leaves against the
  ``term_dict`` table (pruned scans), collect global stats (field_stats +
  per-term df) once, bake per-term idf into the plan (collectors.cpp analogue).
* ``execute`` — one ``cogroup(postings_q, norms).applyInPandas`` pass: each
  segment's kernel decodes only the needed posting lists (VByte blocks), runs
  the boolean algebra vectorized in numpy (conjunction = sorted-array
  intersection ≙ conjunction.hpp; disjunction = unique+bincount ≙
  disjunction.hpp; exclusion ≙ exclusion.hpp), scores BM25, and emits its local
  top-k under (score desc, doc_id asc).
* driver top-k — union of per-segment top-k rows is tiny; final global order
  (score desc, segment_id asc, doc_id asc) ≙ the min-heap loop of
  utils/index-search.cpp:676-748.

Top-k pruning (the wanderator, formats_10.cpp:2239-2578):

* single term — **block-max WAND**: per-128-doc-block score upper bounds from
  ``block_max_freq`` + the segment's min doc length; blocks are processed in
  descending upper bound and decoding stops once the running k-th score beats
  the next block's bound.
* disjunction / multiterm — **MaxScore**: per-term upper bounds, terms
  processed in descending bound; once the suffix bound-sum drops below the
  running threshold, later (cheap) terms are decoded only for the blocks that
  contain surviving candidates (skip-list seek ≙ ``np.searchsorted`` into
  ``block_last_doc``), and candidates that can no longer reach the k-th score
  are dropped.
* conjunction — cost-ordered: the rarest term is decoded fully, every other
  term decodes only the blocks containing the current intersection.

All bounds are conservative (most favorable norm, strict comparisons), so
results stay rank-identical to the unpruned evaluation.

``Searcher.search_many`` evaluates a BATCH of queries in one distributed pass:
postings for the union of all query terms are scanned once per segment, each
plan is pruned independently in-kernel, and a single window takes the global
per-query top-k. This amortizes job/scan overhead across queries — the shape
batched query serving takes on a real cluster.

Scale notes: stats collects are O(#query terms); the postings scan is pruned
by parquet min/max stats over the (field, term)-sorted range layout (field
equality plus exact, prefix and range term predicates all push down);
per-segment kernels are independent tasks; the only driver-side data is
#segments × #queries × k candidate rows.

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
import os
from dataclasses import dataclass, field as _dc_field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.builder import FIELD_SEP
from ..index.codec import (
    decode_doc_ids,
    decode_freqs,
    decode_positions,
    vbyte_decode,
)
from ..index.reader import IndexReader
from . import filters as flt
from .bm25 import (
    B_DEFAULT,
    K_DEFAULT,
    BM25Model,
    BoostModel,
    ScoreModel,
    TFIDFModel,
    bm25_idf,
    get_model,
    phrase_score,
    tfidf_idf,
)

KERNEL_OUT_SCHEMA = "segment_id int, doc_id int, score double"
BATCH_OUT_SCHEMA = "query string, " + KERNEL_OUT_SCHEMA
MATCH_OUT_SCHEMA = "segment_id int, doc_id int, tf long, dl long"


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
# Multiterm expansion (prefix/range/wildcard/fuzzy) over the term_dict table
# --------------------------------------------------------------------------


def _fuzzy_distances(
    cands: list[str], query: str, maxd: int, transpose: bool = False
) -> np.ndarray:
    """Edit distance per candidate, with a vectorized character-count
    prefilter before the DP (the parametric-automaton role of
    levenshtein_utils.cpp done with set arithmetic instead of FST states):

    * every occurrence in the candidate of a character outside the query's
      alphabet costs ≥1 edit (insert or substitute) — occurrence count ≤ d;
    * every query character entirely absent from the candidate costs ≥1 edit
      (delete or substitute) — absent-char count ≤ d.

    Both tests are O(batch × len) numpy ops; the O(batch × len × |q|) DP runs
    only on survivors. Transpositions keep the character multiset, so the
    bounds hold for the Damerau/OSA variant too. Returns ``maxd + 1`` for
    candidates ruled out by either test or the DP."""
    import re as _re

    n = len(cands)
    out = np.full(n, maxd + 1, dtype=np.int64)
    if n == 0:
        return out
    q_cp = np.frombuffer(query.encode("utf-32-le"), dtype=np.uint32)
    # both prefilter tests run as C-regex ops over the WHOLE candidate batch
    # (no per-candidate Python): the matrix encode below happens only for the
    # few survivors, which is what makes the expansion vocab-scan cheap
    s = pd.Series(cands, dtype="object").astype(str)
    alphabet = "".join(sorted(set(query)))
    outside = s.str.count(f"[^{_re.escape(alphabet)}]") if alphabet else s.str.len()
    keep = (outside <= maxd).to_numpy()
    missing = np.zeros(n, dtype=np.int64)
    for ch in sorted(set(query)):
        missing += (~s.str.contains(_re.escape(ch), regex=True)).to_numpy()
    keep &= missing <= maxd
    idx = np.flatnonzero(keep)
    if idx.size:
        d = _levenshtein_leq([cands[i] for i in idx], query, maxd, transpose=transpose)
        out[idx] = np.minimum(d, maxd + 1)
    return out


def _levenshtein_leq(
    cands: list[str], query: str, maxd: int, transpose: bool = False
) -> np.ndarray:
    """Vectorized Levenshtein over a candidate batch (numpy DP; the parametric
    automaton of levenshtein_utils.cpp replaced by a batched matrix).
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


def spec_pred(spec: tuple):
    """Spark Column predicate for a spec — pushable into the term-sorted
    parquet scan (StartsWith / range comparisons reach row-group stats)."""
    kind = spec[0]
    if kind == "prefix":
        return F.col("term").startswith(spec[1])
    if kind == "range":
        _, lo, hi, il, ih = spec
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col("term") >= lo if il else F.col("term") > lo)
        if hi is not None:
            pred = pred & (F.col("term") <= hi if ih else F.col("term") < hi)
        return pred
    if kind == "wildcard":
        return F.col("term").like(spec[1])
    raise ValueError(f"bad spec {spec}")


def specs_pred(specs) -> "F.Column | None":
    """OR of spec predicates (None when no specs)."""
    pred = None
    for s in specs:
        p = spec_pred(s)
        pred = p if pred is None else (pred | p)
    return pred


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
    """Python twin of :func:`spec_pred` for kernel-side tail identification."""
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


#: wildcard slices larger than this fall back to the distributed RLIKE scan
#: (JVM codegen beats a driver-side regex loop at this size)
_VOCAB_WILDCARD_MAX = 500_000


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


def _prefix_block(terms_a: np.ndarray, p: str) -> tuple[int, int]:
    """[lo, hi) bounds of the block of terms carrying prefix ``p`` in an
    ascending-sorted term array (two binary searches)."""
    lo = int(np.searchsorted(terms_a, p, side="left"))
    succ = _prefix_successor(p)
    hi = len(terms_a) if succ is None else int(np.searchsorted(terms_a, succ, side="left"))
    return lo, hi


def _vocab_expand(reader: IndexReader, fname: str, spec: tuple, limit: int):
    """Driver-cached expansion of prefix/range/wildcard specs — the same
    in-memory term-dictionary fast path fuzzy uses (reader.fuzzy_vocab_sorted,
    the reference's node-local FST: formats_burst_trie.cpp:857-861), so the
    common multiterm filters cost ZERO extra Spark jobs beyond the postings
    scan.  Prefix and range become two binary searches on the sorted vocab;
    wildcard slices its literal prefix block, then regex-matches only the
    slice.  Selection parity with the distributed job
    (``orderBy(df desc, term) limit(limit+1)``): the slice is term-ascending,
    so a STABLE argsort on -df yields df-desc with term-asc tie-breaks.

    Returns (scored, overflow) or None to fall back to the distributed scan
    (vocab above the cache cap, over-large wildcard slice, or
    IRS_MULTITERM_VOCAB=0)."""
    if os.environ.get("IRS_MULTITERM_VOCAB", "1") == "0":
        return None
    vocab = reader.fuzzy_vocab_sorted(fname)
    if vocab is None:
        return None
    terms_a, df_a = vocab[0], vocab[1]
    n = len(terms_a)
    kind = spec[0]
    if kind == "prefix":
        lo, hi = _prefix_block(terms_a, spec[1])
    elif kind == "range":
        _, rlo, rhi, il, ih = spec
        lo = 0 if rlo is None else int(np.searchsorted(terms_a, rlo, side="left" if il else "right"))
        hi = n if rhi is None else int(np.searchsorted(terms_a, rhi, side="right" if ih else "left"))
    elif kind == "wildcard":
        pat = spec[1]
        if "\\" in pat:
            # the literal-prefix cut below is not escape-aware (an escaped
            # \% is a literal, not a wildcard) — keep escaped patterns on
            # the distributed path (_like_regex itself handles LIKE escapes,
            # so the kernel tail stays consistent either way)
            return None
        cut = min(
            (i for i, c in enumerate(pat) if c in "%_"), default=len(pat)
        )
        lo, hi = _prefix_block(terms_a, pat[:cut])
        if hi - lo > _VOCAB_WILDCARD_MAX:
            return None
    else:
        return None
    if hi <= lo:
        return [], False
    seg_terms, seg_df = terms_a[lo:hi], df_a[lo:hi]
    if kind == "wildcard":
        rx = _like_regex(spec[1])
        mask = np.fromiter(
            (rx.match(t) is not None for t in seg_terms), bool, len(seg_terms)
        )
        seg_terms, seg_df = seg_terms[mask], seg_df[mask]
    m = len(seg_terms)
    if m == 0:
        return [], False
    if m > limit:
        order = np.argsort(-seg_df, kind="stable")[:limit]
        return sorted((str(seg_terms[i]), int(seg_df[i])) for i in order), True
    return sorted((str(t), int(d)) for t, d in zip(seg_terms, seg_df)), False


def expand_multiterm(
    node: flt.Filter, reader: IndexReader, field: str | None = None
) -> tuple[list[tuple[str, int]], tuple | None]:
    """Term-dict expansion for multiterm filters → (scored, tail_spec).

    Mirrors the reference: at most ``scored_terms_limit`` terms (highest df)
    are scored; the remaining matches are still MATCHED but contribute no
    score — the unscored-bitset union of multiterm_query.cpp:36-168 /
    limited_sample_collector. The driver collect is BOUNDED at
    ``scored_terms_limit + 1`` rows (a distributed df-ranked top-k job over
    the pruned term_dict scan); when the expansion overflows, the tail is
    returned as a predicate spec that the postings scan + kernels evaluate
    in place — no unbounded ``collect`` anywhere on this path.
    """
    fname = getattr(node, "field", None) or field or reader.default_field
    if fname not in reader.field_names:
        return [], None  # unknown field matches nothing (reference semantics)
    td = reader.term_dict(fname)
    limit = getattr(node, "scored_terms_limit", 1 << 30)
    if isinstance(node, flt.Fuzzy):
        q, maxd, max_terms = node.term, node.max_distance, node.max_terms
        transpose = getattr(node, "with_transpositions", False)
        # The reference's default parametric-description provider only covers
        # distances [0..4], and distance 4 only WITHOUT transpositions
        # (levenshtein_default_pdp.hpp:24-28); an unsupported distance yields
        # an invalid description and the filter matches nothing
        # (levenshtein_filter.cpp:71-75, levenshtein_filter_test.cpp "default
        # provider doesn't support" cases).
        if maxd > (3 if transpose else 4):
            return [], None
        # max_terms == 0 means UNLIMITED, not zero: limited_sample_collector
        # treats a 0 cap as "collect everything" (top_terms_collector use in
        # multiterm_query; levenshtein_filter_test.cpp pairs every (d, 1024)
        # case with an identical (d, 0) expectation).
        if max_terms <= 0:
            max_terms = 1 << 30
        from ..index.termfeat import fuzzy_prefilter_np, fuzzy_prefilter_pred

        # FAST PATH — driver-cached term dictionary (reader.fuzzy_vocab, the
        # reference's in-memory FST role): candidate enumeration + DP +
        # selection are pure Python/numpy, so fuzzy costs ZERO extra Spark
        # jobs beyond the postings scan.  Candidate enumeration is the
        # Levenshtein-automaton intersect walk over the SORTED vocabulary
        # (search/lev_automaton.py — the automaton×FST arc walk of
        # levenshtein_filter.cpp:139-310, sublinear in |vocab|) for
        # max_distance <= 2 (the reference's common parametric tables); the
        # linear tlen/charmask prefilter scan remains for larger distances
        # and as the IRS_FUZZY_AUTOMATON=0 escape hatch.  Both enumerators
        # feed the SAME exact-DP + selection code, so the expansion is
        # candidate-set- and selection-identical either way.
        # Selection parity: top max_terms by boost = 1 - d/min(|term|, |q|)
        # (levenshtein_filter.cpp:48-55, 158-165), ties towards the LARGER
        # term (top_terms_collector.hpp:64-69); NOT first-max_terms in term
        # order.
        pfx = getattr(node, "prefix", "") or ""
        # similarity length incl. the prefix, clamped to >= 1 exactly like
        # the reference (levenshtein_filter.cpp collect_terms:
        # max(1, utf8_length(prefix) + utf8_length(term))) — an empty target
        # otherwise divides by zero in the boost
        qlen_full = max(1, len(pfx) + len(q))
        use_automaton = maxd <= 2 and os.environ.get("IRS_FUZZY_AUTOMATON", "1") != "0"
        vocab = (
            reader.fuzzy_vocab_sorted(fname) if (use_automaton or pfx)
            else reader.fuzzy_vocab(fname)
        )
        if vocab is not None:
            terms_a, df_a, _ttf_a, tlen_a, mask_a = vocab
            if pfx:
                # exact-prefix variant (levenshtein_filter.cpp:241-265): the
                # sorted vocabulary gives the prefix run in two searchsorted
                # probes; only the run's SUFFIXES (still sorted — shared
                # prefix preserves order) enter the automaton/DP.
                lo = int(np.searchsorted(terms_a, pfx, side="left"))
                hi = int(np.searchsorted(terms_a, pfx + "\U0010ffff", side="right"))
                terms_a, df_a = terms_a[lo:hi], df_a[lo:hi]
                if terms_a.size == 0:
                    return [], None
                match_a = np.array([t[len(pfx):] for t in terms_a], dtype=object)
            else:
                match_a = terms_a
            if use_automaton:
                from .lev_automaton import LevAutomaton

                idx = LevAutomaton(q, maxd, transpose=transpose).intersect(match_a)
            elif pfx:
                idx = np.arange(match_a.size)  # the prefix run IS the prefilter
            else:
                sel = fuzzy_prefilter_np(tlen_a, mask_a, q, maxd)
                idx = np.flatnonzero(sel)
            if idx.size == 0:
                return [], None
            cand_terms = terms_a[idx]
            d = _fuzzy_distances(list(match_a[idx]), q, maxd, transpose=transpose)
            keep = d <= maxd
            if not keep.any():
                return [], None
            kt, kd, kdf = cand_terms[keep], d[keep], df_a[idx][keep]
            lens = np.minimum(
                np.fromiter((len(t) for t in kt), np.int64, len(kt)), qlen_full
            )
            fboost = 1.0 - kd / lens.astype(np.float64)
            # sort by (fboost desc, term desc): lexsort is stable, keys last-major
            order = np.lexsort((kt.astype("U"), fboost))[::-1][:max_terms]
            # triples: the similarity is a SCORING boost too — each scored
            # state's score is entry.boost * query boost
            # (multiterm_query.cpp:150-157; ::similarity collected per term)
            return (
                sorted((str(kt[i]), int(kdf[i]), float(fboost[i])) for i in order),
                None,
            )

        # DISTRIBUTED PATH (vocabulary above the driver-cache cap): the
        # build-amortized prefilter (index/termfeat.py) — length window + two
        # bit_count set-arithmetic lower bounds — evaluates JVM-side over the
        # PERSISTED tlen/charmask columns (whole-stage codegen over ints); only
        # the survivor set reaches the exact-DP pandas UDF below.
        if pfx:
            # the exact-prefix clause replaces the tlen/charmask prefilter:
            # startswith pushes down to the SORTED term_dict parquet (range
            # stats prune row groups), and only the run's suffixes reach the
            # exact-DP UDF
            cand = td.where(F.col("term").startswith(pfx))
            match_col = F.expr(f"substring(term, {len(pfx) + 1})")
        else:
            cand = td.where(fuzzy_prefilter_pred(q, maxd))
            match_col = F.col("term")

        def dists(batch: pd.Series) -> pd.Series:
            d = _fuzzy_distances(batch.tolist(), q, maxd, transpose=transpose)
            return pd.Series(d, index=batch.index)

        from pyspark.sql.functions import pandas_udf

        dist_udf = pandas_udf(dists, "long")
        matched = (
            cand.withColumn("dist", dist_udf(match_col))
            .where(F.col("dist") <= maxd)
            .withColumn(
                "fboost",
                F.lit(1.0)
                - F.col("dist")
                / F.least(
                    F.length("term"), F.lit(max(1, len(pfx) + len(q)))
                ).cast("double"),
            )
            .orderBy(F.desc("fboost"), F.desc("term"))
            .limit(max_terms)
        )
        rows = matched.collect()
        return (
            sorted((r["term"], int(r["df"]), float(r["fboost"])) for r in rows),
            None,
        )
    spec = _spec_of(node)
    if spec is None:
        raise TypeError(f"not a multiterm filter: {node}")
    fast = _vocab_expand(reader, fname, spec, limit)
    if fast is not None:
        scored, overflow = fast
        return scored, (spec if overflow else None)
    rows = (
        td.where(spec_pred(spec))
        .select("term", "df")
        .orderBy(F.desc("df"), "term")
        .limit(limit + 1)
        .collect()
    )
    if len(rows) > limit:
        scored = sorted((r["term"], int(r["df"])) for r in rows[:limit])
        return scored, spec
    return sorted((r["term"], int(r["df"])) for r in rows), None


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
    dt = np.float32 if dtype == "float32" else np.float64

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
             flt.Fuzzy, flt.Phrase, flt.SamePosition),
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

    def idf_of(f: str, term: str) -> float:
        df = tstats.get((f, term), (0, 0))[0]
        if df == 0:
            return 0.0
        return model.term_const(df, n_by_field[f], dt)

    def build(node: flt.Filter) -> dict:
        f = fld(node)
        if isinstance(node, flt.Term):
            if f not in known:
                return {"op": "empty"}
            scan.field_terms[f].append(node.term)
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
                members.append(
                    (scan.key(f, t), model.term_const(df, n_by_field[f], dt), tb)
                )
            if tail_spec is not None:
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
            # Phrase/SamePosition NESTED under And/Or (root-level nodes go to
            # search()'s two-pass path before this compiler runs): evaluated
            # in-kernel as a scored leaf whose tf is the phrase frequency and
            # whose idf is the SUM of the member terms' idfs — exactly the
            # reference's aggregated phrase stats (phrase_filter.cpp:231-318
            # term_stats.finish per slot; bm25.cpp:495-497 `stats.idf +=`),
            # i.e. nested phrases always score in `sum_of_terms` mode.
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
                elif isinstance(t, flt.Terms):
                    slot_terms = sorted(set(t.terms))
                    idf_sum += sum(idf_of(sf, w) for w in slot_terms)
                else:  # variadic multiterm slot (phrase_filter.cpp variadic)
                    ckey = repr(t) + FIELD_SEP + sf + "#slot"
                    if ckey not in expansion_cache:
                        expansion_cache[ckey] = expand_multiterm(t, reader, field=sf)
                    expanded, _tail = expansion_cache[ckey]
                    slot_terms = [e[0] for e in expanded]
                    idf_sum += sum(
                        model.term_const(e[1], n_by_field[sf], dt) for e in expanded
                    )
                if not slot_terms:
                    return {"op": "empty"}  # unexpandable slot matches nothing
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
                # norms context = the FIRST slot's field (cross-field slots
                # share the doc space; dl/avgdl follow the root path's choice)
                "field": slot_flds[0] if slot_flds else f,
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
                incl = [{"op": "all", "boost": 1.0}]
            return {"op": "and", "parts": incl, "exclude": excl, "merge": node.merge, "boost": node.boost}
        if isinstance(node, flt.Or):
            # Or::prepare (boolean_filter.cpp:492-511): an EXPLICIT
            # min_match_count of 0 means "all conditions are satisfied" —
            # the whole disjunction collapses to all-docs at the Or's own
            # boost, regardless of its parts (boolean_filter_tests.cpp
            # "min match count == 0": even Or(name=V) matches all 32).
            if node.min_match == 0:
                return {"op": "all", "boost": node.boost}
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
                    incl.append({"op": "all", "boost": 0.0})
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
            return {"op": "all", "boost": node.boost}
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


def _plan_fields(plan: dict) -> set[str]:
    """Set of index fields a compiled plan's scoring leaves touch."""
    out: set[str] = set()
    if plan.get("field") and plan["op"] in ("term", "mterm", "phrase"):
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
    """Lazy per-(term, segment) posting list: block-resolution decode.

    The doc_iterator/skip-list analogue (formats_10.cpp:1667-1725): ``seek`` is
    ``np.searchsorted`` over ``block_last_doc``; only the blocks a caller needs
    are VByte-decoded.
    """

    __slots__ = (
        "docs_count", "max_freq", "block_last", "doc_off", "freq_off",
        "block_maxf", "doc_enc", "freq_enc", "pos_enc", "_full", "_pos",
        "_block_cache",
    )

    def __init__(self, row):
        self.docs_count = int(row.docs_count)
        self.max_freq = int(row.max_freq)
        self.block_last = np.asarray(row.block_last_doc, dtype=np.int64)
        self.doc_off = np.asarray(row.block_doc_off, dtype=np.int64)
        self.freq_off = np.asarray(row.block_freq_off, dtype=np.int64)
        self.block_maxf = np.asarray(row.block_max_freq, dtype=np.int64)
        self.doc_enc = row.doc_ids_enc
        self.freq_enc = row.freqs_enc
        # None from the split batch scan (non-positional rows) → b""
        self.pos_enc = getattr(row, "pos_enc", b"") or b""
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        self._pos: np.ndarray | None = None
        self._block_cache: dict[bytes, tuple[np.ndarray, np.ndarray]] = {}

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        if self._full is None:
            ids = decode_doc_ids(self.doc_enc, self.doc_off, self.block_last)
            tfs = decode_freqs(self.freq_enc, self.freq_off)
            self._full = (ids, tfs)
        return self._full

    def decode_blocks(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if self._full is not None:
            return self._full  # already fully decoded — cheaper than re-slicing
        # memoize per block-set: a query fleet repeats hot terms (the bench's
        # replicated plans are the extreme case), and re-decoding the same
        # competitive blocks per plan is pure memory-bandwidth burn — the
        # resource that caps 2→8 scaling on one box. The cache lives only for
        # this kernel invocation (one segment × one execute).
        key = blocks.tobytes()
        hit = self._block_cache.get(key)
        if hit is not None:
            return hit
        ids = decode_doc_ids(self.doc_enc, self.doc_off, self.block_last, blocks=blocks)
        tfs = decode_freqs(self.freq_enc, self.freq_off, blocks=blocks)
        if len(self._block_cache) < 64:  # bound the per-term footprint
            self._block_cache[key] = (ids, tfs)
        return ids, tfs

    def blocks_for(self, cand_ids: np.ndarray) -> np.ndarray:
        """Block indexes that may contain any of the sorted candidate doc ids."""
        b = np.searchsorted(self.block_last, cand_ids, side="left")
        b = b[b < self.block_last.size]
        return np.unique(b)

    def positions(self) -> np.ndarray:
        if self._pos is None:
            _, tfs = self.decode_all()
            self._pos = decode_positions(self.pos_enc, tfs)
        return self._pos


class _SegmentViews:
    """term → :class:`PostingsView` with full-decode dict compatibility."""

    def __init__(self, pdf: pd.DataFrame):
        self.views: dict[str, PostingsView] = {
            row.term: PostingsView(row) for row in pdf.itertuples(index=False)
        }

    def view(self, term: str) -> PostingsView | None:
        return self.views.get(term)

    def get(self, term: str, default=None):
        v = self.views.get(term)
        return v.decode_all() if v is not None else default


def _tail_terms(plan: dict, sv) -> list[str]:
    """Unscored-tail members for an overflowed multiterm plan: terms present
    in THIS segment's scanned postings that match the tail spec and are not
    already scored (multiterm_query.cpp unscored bitset, evaluated in-kernel
    instead of via a driver-collected term list). On mixed-field scans the
    kernel keys are ``field\\x1fterm`` composites; the plan's ``key_prefix``
    scopes the tail to its own field before the term-level spec match."""
    tails = list(plan.get("unscored", ()))
    spec = plan.get("unscored_spec")
    if spec is not None:
        prefix = plan.get("key_prefix", "")
        scored = {m[0] for m in plan["terms"]}
        seen = set(tails)
        keys = sv.views.keys() if hasattr(sv, "views") else sv.keys()
        for t in keys:
            if t in scored or t in seen:
                continue
            base = t
            if prefix:
                if not t.startswith(prefix):
                    continue
                base = t[len(prefix):]
            elif FIELD_SEP in t:
                continue  # composite key from another field's scan slice
            if spec_match(spec, base):
                tails.append(t)
    return tails


def _merge_scores(
    cand_ids: np.ndarray, cand_scores: np.ndarray, ids: np.ndarray, scores: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    merged = np.concatenate([cand_ids, ids])
    msc = np.concatenate([cand_scores, scores.astype(np.float64)])
    uniq, inv = np.unique(merged, return_inverse=True)
    acc = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(acc, inv, msc)
    return uniq, acc


def _add_to_candidates(
    cand_ids: np.ndarray, cand_scores: np.ndarray, ids: np.ndarray, scores: np.ndarray
) -> None:
    """Add contributions to existing candidates only (in place)."""
    if cand_ids.size == 0 or ids.size == 0:
        return
    pos = np.searchsorted(cand_ids, ids)
    pos_c = np.minimum(pos, cand_ids.size - 1)
    valid = cand_ids[pos_c] == ids
    np.add.at(cand_scores, pos_c[valid], scores[valid].astype(np.float64))


def _kth_threshold(scores: np.ndarray, k: int) -> float:
    if scores.size < k:
        return -np.inf
    return float(np.partition(scores, scores.size - k)[scores.size - k])


def _mask_del_pair(
    ids: np.ndarray, vals: np.ndarray, dels: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray]:
    """Drop deleted ids from a decoded (ids, companion) pair BEFORE any top-k
    threshold is computed — the docs_mask must be applied inside every doc
    iterator (segment_reader.hpp:92-93), not after pruning: a deleted doc that
    ranks in the provisional top-k would otherwise inflate theta and cause
    live-doc blocks to be skipped."""
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
        ids, tfs = _mask_del_pair(ids, tfs, dels)
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
        ids, tfs = _mask_del_pair(ids, tfs, dels)
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
    cand_ids = np.empty(0, np.int64)
    cand_scores = np.empty(0, np.float64)
    theta = -np.inf
    for j, li in enumerate(order):
        view, idf, boost = legs[li]
        candidates_only = suffix[j] < theta  # no new doc can reach the k-th score
        if candidates_only:
            if cand_ids.size == 0:
                break
            blocks = view.blocks_for(cand_ids)
            if blocks.size == 0:
                continue
            ids, tfs = view.decode_blocks(blocks)
        else:
            ids, tfs = view.decode_all()
        ids, tfs = _mask_del_pair(ids, tfs, dels)
        sc = model.score(tfs, dl[ids - 1], idf, avgdl, boost, dt)
        if candidates_only:
            _add_to_candidates(cand_ids, cand_scores, ids, sc)
        else:
            cand_ids, cand_scores = _merge_scores(cand_ids, cand_scores, ids, sc)
        theta = _kth_threshold(cand_scores, k)
        if theta > -np.inf and suffix[j + 1] < theta:
            keep = cand_scores + suffix[j + 1] >= theta
            cand_ids, cand_scores = cand_ids[keep], cand_scores[keep]
    return cand_ids, cand_scores.astype(dt)


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
    ids, tfs = _mask_del_pair(ids, tfs, dels)
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
        unscored = _tail_terms(plan, sv)
        if not legs and not unscored:
            return empty
        ids, sc = (
            _maxscore_union(legs, k, dl, avgdl, model, dt, dels)
            if legs
            else (np.empty(0, np.int64), np.empty(0, dtype=dt))
        )
        if unscored and ids.size < k:
            # fill the tail with unscored matches at score 0 (smallest doc ids
            # win ties, same as the reference's doc-order heap insertion)
            tails = [sv.view(t).decode_all()[0] for t in unscored if sv.view(t) is not None]
            if tails:
                live = np.unique(np.concatenate(tails))
                live, _ = _mask_del_pair(live, live, dels)
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


def _norms_views(norm_pdf: pd.DataFrame, mixed: bool):
    """(default dl, dl_map) for one segment's norms rows. Mixed batches carry
    several fields' chunk rows per segment; each field's rows become one
    :class:`_SegmentNorms` (all fields cover the same docs, so any entry
    serves as the size/all-docs reference)."""
    if not mixed:
        return _SegmentNorms(norm_pdf), None
    dl_map = {str(f): _SegmentNorms(g) for f, g in norm_pdf.groupby("field")}
    return next(iter(dl_map.values())), dl_map


def _phrase_seg_tfs(
    sv: "_SegmentViews",
    slot_list: list[list[str]],
    shift_list: list[int],
    dels: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One segment's (possibly variadic) phrase evaluation → (sorted doc
    ids, phrase frequency per doc). FULLY vectorized, zero per-doc Python:
    per slot, candidate docs' positions gather into one flat array, pack as
    ``doc_rank * 2^32 + (pos - shift)`` keys, and the slots' key sets
    intersect with ``np.intersect1d`` (phrase_iterator's position
    conjunction, collapsed to the flattened-stream trick). Shared by
    :meth:`Searcher.phrase_matches` (the root two-pass path) and the
    in-kernel ``{"op": "phrase"}`` leaf for Phrase nested under And/Or."""
    PACK = np.int64(1) << np.int64(32)
    max_shift = max(shift_list) if shift_list else 0
    empty = (np.empty(0, np.int64), np.empty(0, np.int64))
    slot_views = []
    for slot in slot_list:
        views = [sv.view(t) for t in slot]
        views = [v for v in views if v is not None]
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
    cand, _ = _mask_deleted(cand, cand, dels)  # document_mask
    if cand.size == 0:
        return empty
    # rank of each candidate doc (dense 0..m-1) for key packing
    n_cand = cand.size
    cur_keys = None
    for j, views in enumerate(slot_views):
        parts = []
        for v in views:
            t_ids, t_tfs = v.decode_all()
            t_pos = v.positions()
            # rows of this term present among candidates
            row = np.searchsorted(t_ids, cand)
            row_c = np.minimum(row, t_ids.size - 1)
            present = t_ids[row_c] == cand
            rows_sel = row_c[present]
            ranks_sel = np.flatnonzero(present).astype(np.int64)
            if rows_sel.size == 0:
                continue
            starts = np.zeros(t_ids.size + 1, dtype=np.int64)
            np.cumsum(t_tfs, out=starts[1:])
            lens = t_tfs[rows_sel]
            total = int(lens.sum())
            if total == 0:
                continue
            # flat gather of each selected row's position run
            out_off = np.zeros(rows_sel.size, np.int64)
            np.cumsum(lens[:-1], out=out_off[1:])
            rep = np.repeat(np.arange(rows_sel.size), lens)
            flat_idx = np.arange(total, dtype=np.int64) - out_off[rep] + starts[rows_sel][rep]
            pos = t_pos[flat_idx]
            ranks = ranks_sel[rep]
            keys = ranks * PACK + (pos - np.int64(shift_list[j]) + np.int64(max_shift))
            parts.append(keys)
        if not parts:
            return empty
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
    doc_rank = (cur_keys // PACK).astype(np.int64)
    tf = np.bincount(doc_rank, minlength=n_cand)
    hit = np.flatnonzero(tf)
    return cand[hit], tf[hit].astype(np.int64)


def _eval_plan(
    plan: dict,
    decoded: dict[str, Any],
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
        # nested Phrase/SamePosition leaf: tf = phrase frequency (packed-key
        # position intersect, _phrase_seg_tfs), idf = the compile-time sum of
        # member-term idfs (aggregated stats, phrase_filter.cpp:231-318)
        if not hasattr(decoded, "view"):
            raise ValueError(
                "nested phrase evaluation needs positional segment views"
            )
        dl_l, avgdl_l = leaf_norms(plan)
        ids, tfs = _phrase_seg_tfs(decoded, plan["slots"], plan["shifts"])
        if ids.size == 0:
            return empty
        scores = model.score(tfs, dl_l[ids - 1], plan["idf"], avgdl_l, plan["boost"], dt)
        return ids, scores
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
    if op == "all":
        ids = np.arange(1, dl.size + 1, dtype=np.int64)
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
    """Lazy chunked Norm2 reader for one segment's norms rows.

    The builder stores doc_len in fixed-size VByte chunks (one row per
    NORMS_CHUNK_DOCS docs — sparse_bitmap.hpp:62 block analogue); kernels
    index it like an ndarray (``dl[ids - 1]``) and only the chunks those ids
    touch are decoded. Exposes the minimal ndarray surface the scoring
    kernels use: fancy ``__getitem__`` (0-based int array), ``.size``,
    ``.min()``. ``.min()`` comes from the per-chunk ``min_len`` column (no
    decode); legacy single-cell rows (no chunk_id) degrade gracefully to one
    chunk."""

    __slots__ = ("_enc", "_starts", "size", "_min", "_chunks")

    def __init__(self, norm_pdf: pd.DataFrame):
        if "chunk_id" in norm_pdf.columns:
            norm_pdf = norm_pdf.sort_values("chunk_id")
        self._enc = list(norm_pdf["doc_len_enc"])
        counts = norm_pdf["docs_count"].to_numpy(np.int64)
        self._starts = np.zeros(counts.size + 1, dtype=np.int64)
        np.cumsum(counts, out=self._starts[1:])
        self.size = int(self._starts[-1])
        mv = norm_pdf["min_len"].min() if "min_len" in norm_pdf.columns else None
        self._min = int(mv) if mv is not None and not pd.isna(mv) else None
        self._chunks: dict[int, np.ndarray] = {}

    def min(self) -> int:
        if self._min is not None:
            return self._min
        return int(self[np.arange(self.size)].min()) if self.size else 1

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


def _deleted_of(norm_pdf: pd.DataFrame) -> np.ndarray | None:
    """Per-segment sorted delete array from the norms row (document_mask)."""
    if "del_ids" not in norm_pdf.columns:
        return None
    v = norm_pdf["del_ids"].iloc[0]
    if v is None or len(v) == 0:
        return None
    return np.asarray(v, dtype=np.int64)


def _mask_deleted(
    ids: np.ndarray, scores: np.ndarray, dels: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray]:
    """Drop deleted doc ids (sorted searchsorted membership test)."""
    if dels is None or ids.size == 0:
        return ids, scores
    pos = np.searchsorted(dels, ids)
    pos_c = np.minimum(pos, dels.size - 1)
    keep = dels[pos_c] != ids
    return ids[keep], scores[keep]


def _plan_has_all(plan: dict) -> bool:
    """True when the plan (or a sub-plan) matches docs without any postings —
    such plans must be evaluated from the norms side in every segment."""
    if plan["op"] == "all":
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


def _driver_topk(pdf: pd.DataFrame, k: int, by: str | None = None) -> pd.DataFrame:
    """Driver-side top-k merge of per-segment candidate rows — the
    reference's heap loop (index-search.cpp:676-748): order by (score desc,
    segment_id, doc_id) and keep ≤k rows (per ``by`` group when given)."""
    keys = ["score", "segment_id", "doc_id"]
    asc = [False, True, True]
    if by is not None:
        keys, asc = [by, *keys], [True, *asc]
    pdf = pdf.sort_values(keys, ascending=asc, kind="stable")
    top = pdf.groupby(by, sort=False).head(k) if by is not None else pdf.head(k)
    return top.reset_index(drop=True)


# --------------------------------------------------------------------------
# Searcher
# --------------------------------------------------------------------------


# Spark HashPartitioning hash replica + collision-free partition-count scan
# (pytest asserts parity with F.hash) — shared with the index builder's
# segment invert job, which has the same one-kernel-per-task placement need.
from ..partition import (  # noqa: E402
    collision_free_partition_count as _collision_free_partition_count,
    segment_routing_keys as _segment_routing_keys,
    spark_murmur3_int32 as _spark_murmur3_int32,
)

#: sentinel for Searcher._routing "not built yet" (None means "fall back")
_ROUTING_UNSET = object()


class Searcher:
    # batch-merge gate: candidate rows reaching the driver merge are bounded
    # by n_segments × n_plans × k (each segment kernel pre-top-k's to ≤k rows
    # per (segment, query) via _local_topk); at or under this many rows the
    # driver heap-merge (reference index-search.cpp:676-748) is one stage,
    # above it the distributed Window-per-query fallback runs instead.
    # Instance-overridable for tests / unusual deployments.
    BATCH_MERGE_MAX = int(os.environ.get("IRS_BATCH_MERGE_MAX", "2000000"))

    def __init__(
        self,
        reader: IndexReader,
        k1: float = K_DEFAULT,
        b: float = B_DEFAULT,
        scorer: str = "bm25",
        phrase_scoring: str = "exact_df",
    ):
        """``phrase_scoring`` picks the Phrase/SamePosition stats semantics:

        * ``"exact_df"`` (default, this engine's documented historical mode) —
          idf from the exact phrase document frequency;
        * ``"sum_of_terms"`` — REFERENCE PARITY: the aggregated stats blob sums
          every member term's idf (phrase_filter.cpp:231-318
          ``term_stats.finish`` per slot term; bm25.cpp:495-497 / tfidf.cpp:380
          ``idf +=``), and the phrase frequency plugs into the scorer as tf.
          Variadic slots sum ALL expanded terms' idfs, like the reference's
          per-slot collectors (phrase_filter.cpp:418-427).
        """
        self.reader = reader
        self.k1 = k1
        self.b = b
        self.model = get_model(scorer, k1, b)
        if phrase_scoring not in ("exact_df", "sum_of_terms"):
            raise ValueError(f"unknown phrase_scoring {phrase_scoring!r}")
        self.phrase_scoring = phrase_scoring
        self._part_n: int | None = None  # collision-free segment partitioning
        self._routing = _ROUTING_UNSET  # (map expr, n) | None, lazily built
        self._norms_parts: dict = {}  # field-set -> persisted routed norms

    def _segment_ids(self) -> list[int]:
        """Superset of live segment ids (cheap, no Spark job on current meta)."""
        nsi = self.reader.meta.get("next_segment_id")
        if nsi is not None:
            return list(range(max(1, int(nsi))))
        # Legacy meta (pre-next_segment_id): a consolidated index can hold
        # live ids ≥ num_segments (e.g. {0, 4} with num_segments=2), so
        # range(num_segments) would NOT cover them. Read the real live ids
        # once (tiny norms collect, cached for the Searcher's lifetime).
        return sorted(self.reader.segment_docs_counts()) or [0]

    #: above this many segments the routing map literal starts to weigh on
    #: every plan (2 literals per segment); fall back to the modulus scheme
    ROUTED_MAX_SEGMENTS = int(os.environ.get("IRS_ROUTED_MAX_SEGMENTS", "1024"))

    def _seg_routing(self):
        """Zero-empty-task placement: ``(route map expr, n)`` or None.

        See :func:`iresearch_spark.partition.segment_routing_keys` — each
        segment id gets a substitute routing int whose murmur3 lands in its
        own bucket with EXACTLY n partitions, so every kernel stage runs one
        task per segment and nothing else (the collision-free-modulus scheme
        needed 250 partitions for 32 segments — 218 empty tasks per query,
        measured ~130 ms of the interactive floor at local[32])."""
        if self._routing is _ROUTING_UNSET:
            ids = self._segment_ids()
            routed = None
            if len(ids) <= self.ROUTED_MAX_SEGMENTS:
                rk = _segment_routing_keys(ids)
                if rk is not None:
                    keys, n = rk
                    mapping = F.create_map(
                        *[F.lit(x) for kv in keys.items() for x in kv]
                    )
                    routed = (mapping, n)
            self._routing = routed
        return self._routing

    def _seg_groupkey(self) -> str:
        """Cogroup key matched to the placement: the route column when routed
        (grouping by segment_id over a route-partitioned child would fail
        Catalyst's clustered-distribution check and re-exchange), else the
        raw segment_id."""
        return "segment_id" if self._seg_routing() is None else "__seg_route"

    def _seg_norms(self, norms: DataFrame, key) -> DataFrame:
        """Seg-partitioned norms, PERSISTED and cached per field-set key for
        the Searcher's lifetime — the BM25 working set, held hot exactly as
        the reference keeps norms in memory per open reader
        (segment_reader.hpp:35-110). Norms depend only on the immutable
        index snapshot and the referenced field set, never on the query, so
        every search after the first skips the norms scan + exchange
        entirely (one shuffle stage less per interactive query).
        ``key`` must pin the field selection (("ctx", fields, mixed) or
        ("field", f)). Release with :meth:`unpersist`."""
        ent = self._norms_parts.get(key)
        if ent is None:
            ent = self._seg_partitioned(norms).persist()
            self._norms_parts[key] = ent
        return ent

    @staticmethod
    def _norms_key(scan: ScanSpec):
        return ("ctx", tuple(scan.fields), scan.mixed)

    def unpersist(self) -> None:
        """Release the cached norms partitions (idempotent)."""
        for df in self._norms_parts.values():
            df.unpersist()
        self._norms_parts.clear()

    def _seg_partition_count(self) -> int:
        """Smallest partition count that hash-places every POSSIBLE segment
        id in its own bucket (collision-free by construction).

        Hash partitioning with a fixed over-provision factor still collides
        (8 segments → a [2,1,1,1,1,1,1] bucket occupancy, measured): the
        collided task runs two segments' kernels SERIALLY while other cores
        idle — doubling the stage critical path at high parallelism, the
        dominant N→4N scaling loss for batch serving. Spark's
        ``repartition(n, col)`` routes by ``pmod(murmur3(col), n)``;
        :func:`_spark_murmur3_int32` replicates that hash exactly (pytest
        asserts parity with ``F.hash``), so scanning n upward finds a count
        where all ids land 1:1 — exactly one segment per task, the
        reference's per-segment execute loop in parallel, with no sampling
        (range partitioning samples rows and merges small segments
        nondeterministically) and no extra jobs."""
        if self._part_n is None:
            self._part_n = _collision_free_partition_count(self._segment_ids())
        return self._part_n

    def _seg_partitioned(self, df: DataFrame) -> DataFrame:
        """Explicit one-kernel-per-task placement before the cogroup kernels.
        Without an explicit repartition, AQE sees a tiny shuffle (the encoded
        postings are a few MB) and coalesces to ~1 partition — which
        serializes the CPU-heavy per-segment kernels.

        Routed scheme (default, :meth:`_seg_routing`): a ``__seg_route``
        column maps each segment id to a routing int placed alone in its own
        bucket at EXACTLY n partitions — one task per segment, zero empty
        tasks. Unknown ids (defensive; the id set is a superset by
        construction) fall through to a distinct out-of-band key so two
        segments can never share a group. Fallback scheme: hash partitioning
        on segment_id with a collision-free modulus
        (see :meth:`_seg_partition_count`)."""
        routing = self._seg_routing()
        if routing is None:
            return df.repartition(self._seg_partition_count(), "segment_id")
        mapping, n = routing
        # try_element_at: NULL (not an ANSI error) on a key outside the map
        route = F.coalesce(
            F.try_element_at(mapping, F.col("segment_id").cast("int")),
            F.col("segment_id") + F.lit(1 << 20),
        )
        return df.withColumn("__seg_route", route).repartition(n, "__seg_route")

    def search(
        self,
        f: flt.Filter,
        k: int = 10,
        dtype: str = "float64",
        with_keys: bool = True,
    ) -> DataFrame:
        """Top-k matches, ordered by (score desc, segment_id, doc_id).

        Returns a DataFrame (doc_key?, segment_id, doc_id, score) of ≤k rows.
        Scored queries run their kernel job when ``search()`` is called: each
        segment's ≤k rows are merged on the driver and the doc keys are read
        from the docs table without Spark (:meth:`IndexReader.fetch_docs`), so
        the result is a DataFrame over ≤k local rows. Stored-column filters
        (All, ColumnExists, NumericRange, Nested) stay lazy Spark plans.
        """
        nf = flt.normalize(f)
        if isinstance(nf, flt.Phrase):
            return self._search_phrase(nf, list(nf.terms), _phrase_shifts(nf), k, dtype, with_keys)
        if isinstance(nf, flt.SamePosition):
            return self._search_phrase(nf, list(nf.terms), [0] * len(nf.terms), k, dtype, with_keys)
        if isinstance(nf, flt.ColumnExists):
            return self._search_column_exists(nf, k, with_keys)
        if isinstance(nf, flt.NumericRange):
            return self._search_numeric_range(nf, k, with_keys)
        if isinstance(nf, flt.NgramSimilarity):
            local = self._ngram_similarity_local(nf, k).toPandas()  # ≤ segments × k
            return self._hits_frame(_driver_topk(local, k), with_keys)
        if isinstance(nf, flt.Nested):
            return self._search_nested(nf, k, with_keys)
        plan, scan = compile_plan(nf, self.reader, self.k1, self.b, dtype, model=self.model)
        if plan["op"] == "all":
            docs = self.reader.live_docs()
            out = docs.select(
                "doc_key", "segment_id", "doc_id", F.lit(float(plan["boost"])).alias("score")
            ).orderBy("segment_id", "doc_id").limit(k)
            return out if with_keys else out.drop("doc_key")
        if plan["op"] == "empty":
            return self._hits_frame(_NO_HITS, with_keys)
        # a batch of one: the batch kernel, merged on the driver
        hits = self._execute_batch({"": plan}, scan, k, dtype, to_driver=True)
        return self._hits_frame(hits, with_keys)

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

        Scale shape: one full match pass per bucket (each a distributed
        kernel job over the pruned scan), joined on (segment_id, doc_id) —
        the join moves only the MATCH set, never the corpus — and the
        lexicographic top-k is a TakeOrdered (no global sort) whose ≤k rows
        are collected and keyed like :meth:`search`'s. Pruning
        (WAND/MaxScore) is single-bucket-bound in the reference too, so the
        exact per-bucket evaluation here is the honest equivalent."""
        if not scorers:
            raise ValueError("scorers must name at least one scorer")
        legs = []
        for i, name in enumerate(scorers):
            s = Searcher(
                self.reader, self.k1, self.b, scorer=name,
                phrase_scoring=self.phrase_scoring,
            )
            legs.append(
                s.matches(f, dtype=dtype).withColumnRenamed("score", f"score{i}")
            )
        out = legs[0]
        for leg in legs[1:]:
            # identical boolean structure → identical match sets; inner join
            out = out.join(leg, ["segment_id", "doc_id"])
        order = [F.desc(f"score{i}") for i in range(len(scorers))] + [
            F.asc("segment_id"), F.asc("doc_id"),
        ]
        score_cols = tuple(f"score{i}" for i in range(len(scorers)))
        return self._hits_frame(out.orderBy(*order).limit(k).toPandas(), with_keys, score_cols)

    def matches(self, f: flt.Filter, dtype: str = "float64") -> DataFrame:
        """ALL matching (segment_id, doc_id, score) rows — no top-k, no global
        sort, output stays partitioned by segment. This is the composition
        path (nested child legs, pre-materialization): a downstream fold
        shuffles only the match set, never sorts the corpus. Positional /
        stored-column filters fall back to the search() path."""
        nf = flt.normalize(f)
        if isinstance(nf, flt.NgramSimilarity):
            return self._ngram_similarity_local(nf, 1 << 30)
        if isinstance(
            nf,
            (flt.Phrase, flt.SamePosition, flt.ColumnExists, flt.NumericRange, flt.Nested),
        ):
            return self.search(nf, k=1 << 30, with_keys=False).select(
                "segment_id", "doc_id", "score"
            )
        plan, scan = compile_plan(nf, self.reader, self.k1, self.b, dtype, model=self.model)
        spark = self.reader.spark
        if plan["op"] == "all":
            docs = self.reader.live_docs()
            return docs.select(
                "segment_id", "doc_id", F.lit(float(plan["boost"])).alias("score")
            )
        if plan["op"] == "empty" or (scan.is_empty() and not _plan_has_all(plan)):
            return spark.createDataFrame([], KERNEL_OUT_SCHEMA)
        model = self.model
        dt = np.float32 if dtype == "float32" else np.float64
        pq = self._batch_postings(scan, with_pos=scan.need_positions)
        norms, mixed, avgdl, avg_map = self._norms_ctx(scan)

        def kernel(post_pdf: pd.DataFrame, norm_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(norm_pdf) == 0:
                return pd.DataFrame({"segment_id": [], "doc_id": [], "score": []}).astype(
                    {"segment_id": "int32", "doc_id": "int32", "score": "float64"}
                )
            sid = int(norm_pdf["segment_id"].iloc[0])
            dl, dl_map = _norms_views(norm_pdf, mixed)
            dels = _deleted_of(norm_pdf)
            sv = _SegmentViews(post_pdf)
            nctx = (dl_map, avg_map) if mixed else None
            ids, scores = _eval_plan(plan, sv, dl, avgdl, model, dt, nctx)
            ids, scores = _mask_deleted(ids, scores, dels)
            return pd.DataFrame(
                {
                    "segment_id": np.full(ids.size, sid, np.int32),
                    "doc_id": ids.astype(np.int32),
                    "score": scores.astype(np.float64),
                }
            )

        return (
            self._seg_partitioned(pq)
            .groupBy(self._seg_groupkey())
            .cogroup(self._seg_norms(norms, self._norms_key(scan)).groupBy(self._seg_groupkey()))
            .applyInPandas(kernel, KERNEL_OUT_SCHEMA)
        )

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
        — the exact analogue of the reference's prepared-query reuse."""
        normalized = {name: flt.normalize(f) for name, f in queries.items()}
        for name, nf in normalized.items():
            if isinstance(nf, flt.Phrase):
                raise ValueError(f"{name}: phrase queries need search() (two-pass stats)")
            if isinstance(nf, (flt.SamePosition, flt.ColumnExists)):
                raise ValueError(f"{name}: {type(nf).__name__} queries need search()")
        plans, scan = compile_plans(
            normalized, self.reader, self.k1, self.b, dtype, model=self.model
        )
        return PreparedBatch(self, plans, scan, dtype)

    def search_many(
        self,
        queries: dict[str, flt.Filter],
        k: int = 10,
        dtype: str = "float64",
    ) -> DataFrame:
        """Evaluate a batch of (non-phrase) queries in ONE distributed pass.

        Postings for the union of every query's terms are scanned once per
        segment; each plan is pruned independently (WAND/MaxScore) in-kernel;
        a single window takes the per-query global top-k. Returns
        (query, segment_id, doc_id, score) — ≤ k rows per query, ordered by
        (query, score desc, segment_id, doc_id). This is the batched query
        evaluation shape of the north rule: per-query driver overhead is
        amortized, throughput scales with executors.
        """
        return self.prepare(queries, dtype).execute(k)

    def _norms_ctx(self, scan: ScanSpec):
        """(norms_df, mixed, default avgdl, avgdl-by-field) for a compiled
        batch. Single-field batches get that field's norms rows only (the
        field clause pushes down with the parquet scan); mixed batches carry
        every referenced field's rows and the kernels build a per-field map."""
        flds = scan.fields
        if scan.mixed:
            norms = self.reader.norms(all_fields=True).where(F.col("field").isin(flds))
            avg_map = {f: self.reader.field_stats(f)["avgdl"] for f in flds}
            return norms, True, avg_map[flds[0]], avg_map
        f = flds[0] if flds else None
        return self.reader.norms(field=f), False, self.reader.field_stats(f)["avgdl"], None

    def _batch_postings(self, scan: ScanSpec, with_pos: bool = False) -> DataFrame:
        """Union pruned postings scan for a compiled batch: per field, the
        (range + In) term predicate OR the field's pushable tail specs, AND'd
        with the field equality (multi-field layout is sorted by
        (field, term), so both clauses reach parquet row-group stats); fields
        OR together into ONE scan. Mixed batches key rows by the composite
        ``field\\x1fterm`` so every kernel lookup stays a dict hit."""
        reader = self.reader
        pred = None
        for f in scan.fields:
            terms = scan.field_terms.get(f, [])
            specs = scan.field_specs.get(f, [])
            p = IndexReader._bare_term_pred(sorted(terms)) if terms else None
            sp = specs_pred(specs)
            if sp is not None:
                p = sp if p is None else (p | sp)
            if p is None:
                continue
            clause = reader._field_clause(f)
            if clause is not None:
                p = clause & p
            pred = p if pred is None else (pred | p)
        term_col = (
            F.concat_ws(FIELD_SEP, F.col("field"), F.col("term")).alias("term")
            if scan.mixed
            else F.col("term")
        )

        def select_cols(df: DataFrame, pos_col):
            return df.select(
                F.col("segment_id"),
                term_col,
                F.col("doc_ids_enc"),
                F.col("freqs_enc"),
                *([pos_col.alias("pos_enc")] if pos_col is not None else []),
                F.col("block_last_doc"),
                F.col("block_doc_off"),
                F.col("block_freq_off"),
                F.col("block_max_freq"),
                F.col("docs_count"),
                F.col("max_freq"),
            )

        base = reader.postings()
        full = base.where(pred if pred is not None else F.lit(False))
        if not with_pos:
            return select_cols(full, None)
        # positional-subset predicate: only the phrase slots' terms
        pos_pred = None
        split = False
        for f in scan.fields:
            pos_set = set(scan.pos_terms.get(f, []))
            if pos_set != set(scan.field_terms.get(f, [])) or scan.field_specs.get(f):
                split = True  # some non-positional rows exist in this field
            if not pos_set:
                continue
            p = IndexReader._bare_term_pred(sorted(pos_set))
            clause = reader._field_clause(f)
            if clause is not None:
                p = clause & p
            pos_pred = p if pos_pred is None else (pos_pred | p)
        if pos_pred is None:  # positions requested but no positional terms
            return select_cols(full, None)
        if not split:  # every scanned term is positional: one scan
            return select_cols(full, F.col("pos_enc"))
        # split scan: position bytes ONLY for the phrase slots' rows — the
        # rest of the batch's (typically largest) stream stays unread
        scan_pos = select_cols(base.where(pos_pred), F.col("pos_enc"))
        scan_rest = select_cols(
            full.where(~pos_pred), F.lit(None).cast("binary")
        )
        return scan_pos.unionByName(scan_rest)

    def _execute_batch(
        self,
        plans: dict[str, dict],
        scan: ScanSpec,
        k: int,
        dtype: str,
        pq: DataFrame | None = None,
        b_plans=None,
        norms_ctx=None,
        to_driver: bool = False,
    ):
        """Per-query top-k of a compiled batch: (query, segment_id, doc_id,
        score), ordered by (query, score desc, segment_id, doc_id). A
        DataFrame, or with ``to_driver`` the same rows as a pandas frame."""
        model = self.model
        dt = np.float32 if dtype == "float32" else np.float64
        spark = self.reader.spark
        if scan.is_empty() and not any(_plan_has_all(p) for p in plans.values()):
            empty = _NO_HITS.assign(query=pd.Series([], dtype=object))
            return empty if to_driver else spark.createDataFrame([], BATCH_OUT_SCHEMA)

        if pq is None:
            pq = self._seg_partitioned(
                self._batch_postings(scan, with_pos=scan.need_positions)
            )
        if norms_ctx is None:
            norms, mixed, avgdl, avg_map = self._norms_ctx(scan)
            norms = self._seg_norms(norms, self._norms_key(scan))
        else:
            norms, mixed, avgdl, avg_map = norms_ctx
        # large batches ship the plan list as a BROADCAST (PreparedBatch
        # caches one across executes): a 1000-plan dict pickled into every
        # task binary costs seconds of serialize/deserialize per stage. A
        # call without one (search: a single plan) captures the plans in the
        # closure instead — nothing is left to release after the job.
        items = list(plans.items()) if b_plans is None else None

        def kernel(post_pdf: pd.DataFrame, norm_pdf: pd.DataFrame) -> pd.DataFrame:
            plan_items = items if items is not None else b_plans.value
            empty = pd.DataFrame(
                {"query": [], "segment_id": [], "doc_id": [], "score": []}
            ).astype({"query": "object", "segment_id": "int32", "doc_id": "int32", "score": "float64"})
            if len(norm_pdf) == 0:
                return empty  # postings may be empty: All plans use norms only
            sid = int(norm_pdf["segment_id"].iloc[0])
            dl, dl_map = _norms_views(norm_pdf, mixed)
            dels = _deleted_of(norm_pdf)
            sv = _SegmentViews(post_pdf)
            frames = []
            for name, plan in plan_items:
                ids, scores = _eval_root_dispatch(
                    plan, sv, k, model, dt, dels, dl, avgdl, dl_map, avg_map
                )
                ids, scores = _mask_deleted(ids, scores, dels)
                ids, scores = _local_topk(ids, scores, k)
                if ids.size:
                    frames.append(
                        pd.DataFrame(
                            {
                                "query": name,
                                "segment_id": np.full(ids.size, sid, np.int32),
                                "doc_id": ids.astype(np.int32),
                                "score": scores.astype(np.float64),
                            }
                        )
                    )
            return pd.concat(frames, ignore_index=True) if frames else empty

        local = (
            pq.groupBy(self._seg_groupkey())
            .cogroup(norms.groupBy(self._seg_groupkey()))
            .applyInPandas(kernel, BATCH_OUT_SCHEMA)
        )
        n_segments = int(self.reader.meta.get("num_segments", 1))
        if n_segments * len(plans) * k <= self.BATCH_MERGE_MAX:
            # driver-side merge — the reference's own top-k heap loop
            # (index-search.cpp:676-748): candidate rows are tiny
            # (#segments × #queries × k), one Spark stage total; the windowed
            # path below is the scale fallback for huge batch×segment products.
            topk = _driver_topk(local.toPandas(), k, by="query")
            return topk if to_driver else spark.createDataFrame(topk, BATCH_OUT_SCHEMA)
        from pyspark.sql import Window

        w = Window.partitionBy("query").orderBy(
            F.desc("score"), F.asc("segment_id"), F.asc("doc_id")
        )
        out = (
            local.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
            .orderBy("query", F.desc("score"), F.asc("segment_id"), F.asc("doc_id"))
        )
        return out.toPandas() if to_driver else out

    def _hits_frame(
        self, hits: pd.DataFrame, with_keys: bool, score_cols: tuple[str, ...] = ("score",)
    ) -> DataFrame:
        """The ≤k ranked driver-side hits, in their order, as the search
        result DataFrame: (doc_key?, segment_id, doc_id, *score_cols). Doc
        keys come from :meth:`IndexReader.fetch_docs` — no Spark job."""
        hits = hits[["segment_id", "doc_id", *score_cols]]
        schema = "segment_id int, doc_id int, " + ", ".join(f"{c} double" for c in score_cols)
        if with_keys:
            keys = self.reader.fetch_docs(hits["segment_id"], hits["doc_id"])
            hits = hits.merge(keys, on=["segment_id", "doc_id"], how="inner")[
                ["doc_key", "segment_id", "doc_id", *score_cols]
            ]
            schema = "doc_key string, " + schema
        return self.reader.spark.createDataFrame(hits, schema)

    def _search_column_exists(self, node: flt.ColumnExists, k: int, with_keys: bool) -> DataFrame:
        """by_column_existence (column_existence_filter.cpp): docs whose stored
        column is non-null, constant score = boost. Catalyst pushes the
        IS NOT NULL to the parquet scan."""
        docs = self.reader.live_docs()
        reserved = {"doc_key", "segment_id", "doc_id", "doc_len"}
        if node.prefix_match:
            cols = [c for c in docs.columns if c.startswith(node.column) and c not in reserved]
        else:
            cols = [node.column] if node.column in docs.columns else []
        if not cols:
            schema = "doc_key string, segment_id int, doc_id int, score double"
            return self.reader.spark.createDataFrame([], schema if with_keys else schema.split(", ", 1)[1])
        pred = F.col(cols[0]).isNotNull()
        for c in cols[1:]:
            pred = pred | F.col(c).isNotNull()
        out = (
            docs.where(pred)
            .select("doc_key", "segment_id", "doc_id", F.lit(float(node.boost)).alias("score"))
            .orderBy("segment_id", "doc_id")
            .limit(k)
        )
        return out if with_keys else out.drop("doc_key")

    def _search_numeric_range(self, node: flt.NumericRange, k: int, with_keys: bool) -> DataFrame:
        """by_granular_range analogue: a native numeric predicate on a stored
        column — Catalyst pushes it to the parquet scan (min/max row-group
        pruning plays the role of the reference's multi-precision trie terms,
        granular_range_filter.cpp:42-91). Constant score = boost, doc order."""
        docs = self.reader.live_docs()
        if node.column not in docs.columns:
            schema = "doc_key string, segment_id int, doc_id int, score double"
            return self.reader.spark.createDataFrame(
                [], schema if with_keys else schema.split(", ", 1)[1]
            )
        c = F.col(node.column)
        pred = c.isNotNull()
        if node.low is not None:
            pred = pred & (c >= node.low if node.include_low else c > node.low)
        if node.high is not None:
            pred = pred & (c <= node.high if node.include_high else c < node.high)
        out = (
            docs.where(pred)
            .select("doc_key", "segment_id", "doc_id", F.lit(float(node.boost)).alias("score"))
            .orderBy("segment_id", "doc_id")
            .limit(k)
        )
        return out if with_keys else out.drop("doc_key")

    # ------------------------------------------------------------- phrase
    def _search_phrase(
        self, node: flt.Filter, terms: list, shifts: list[int], k: int, dtype: str, with_keys: bool
    ) -> DataFrame:
        """Positional query in ONE distributed kernel pass, scale-safe.

        The final score is ``boost * idf(dfp) * rank(tf, dl)`` where the
        global phrase-df ``dfp`` only scales every doc's score by the SAME
        positive constant — so the top-k SET and its order are decided by the
        dfp-independent rank key alone. The kernel therefore emits, per
        segment, (a) its top-(k + slack) matches by rank and (b) its exact
        match count; the driver sums the #segments counts into the exact dfp
        (the phrase_query.cpp one-pass stats collection), scores the
        ≤ (k+slack)·S surviving rows with the full expression in numpy
        (:func:`bm25.phrase_score`) and keeps the top k. No global
        shuffle of the match set, no single-partition Window — the old
        ``Window.partitionBy(lit(1))`` count moved every match row to one
        task, a driver-killer for a high-df phrase at 100× data.
        ``shifts`` = per-slot position offsets: ``0..n-1`` for a phrase,
        all-zero for SamePosition (same_position_filter.cpp). Slots may be
        multiterm filters (VariadicPhraseQuery, phrase_query.cpp:119-303)."""
        # cross-field SamePosition: slots given as (field, term) pairs
        # (same_position_filter.cpp options). Plain-string slots resolve in
        # the node's field as before.
        slot_fields: list[str] | None = None
        if any(isinstance(t, tuple) for t in terms):
            default_f = getattr(node, "field", None) or self.reader.default_field
            slot_fields = [
                t[0] if isinstance(t, tuple) else default_f for t in terms
            ]
            terms = [t[1] if isinstance(t, tuple) else t for t in terms]
            if any(f not in self.reader.field_names for f in slot_fields):
                return self._hits_frame(_NO_HITS, with_keys)  # unknown field
            fname = slot_fields[0]
        else:
            fname = getattr(node, "field", None) or self.reader.default_field
        if fname not in self.reader.field_names:
            return self._hits_frame(_NO_HITS, with_keys)
        stats = self.reader.field_stats(fname)
        n, avgdl = stats["docs_with_field"], stats["avgdl"]
        if isinstance(self.model, TFIDFModel):
            mode = "tfidf"
        elif isinstance(self.model, BoostModel):
            mode = "boost"
        else:
            mode = "bm25"
        rank_params = (
            mode,
            self.k1 * (1 - self.b),
            (self.k1 * self.b / avgdl) if avgdl else 0.0,
        )
        # reference-parity stats mode: the aggregated stats blob is the SUM of
        # every member term's idf (term_stats.finish per slot term,
        # phrase_filter.cpp:231-318; bm25.cpp:495-497 `idf +=`); the phrase
        # frequency plugs in as tf. The idf is a per-query constant, so the
        # dfp-independent rank key below already yields the exact top-k set.
        slots = self._expand_slots(list(terms), field=fname)
        idf_sum: float | None = None
        if self.phrase_scoring == "sum_of_terms" and mode in ("bm25", "tfidf"):
            idf_sum = 0.0
            # per-slot stats come from THAT slot's field (cross-field
            # same-position collects each term in its own field — "1 field
            # per term since treated as a disjunction",
            # same_position_filter_tests.cpp collector counts)
            per_slot_fields = slot_fields or [fname] * len(slots)
            stats_cache: dict[str, tuple[dict, float]] = {}
            for f, slot in zip(per_slot_fields, slots):
                if f not in stats_cache:
                    fs = self.reader.field_stats(f)
                    ts = self.reader.term_stats(
                        sorted({t for fl, sl in zip(per_slot_fields, slots)
                                if fl == f for t in sl}),
                        field=f,
                    )
                    stats_cache[f] = (ts, float(fs["docs_with_field"]))
                tstats, n_f = stats_cache[f]
                for t in slot:
                    df_t = tstats.get(t, (0, 0))[0]
                    if df_t == 0:
                        continue  # absent term: the phrase matches nothing anyway
                    idf_of = bm25_idf if mode == "bm25" else tfidf_idf
                    idf_sum += float(idf_of(df_t, n_f))
        # slack absorbs rank-vs-score FP boundary noise: the exact expression
        # re-ranks the survivors below, so only >16 docs inside one ULP of the
        # k-th rank could ever flip the set
        local = self.phrase_matches(
            slots, shifts, local_k=k + 16, rank_params=rank_params, field=fname,
            slot_fields=slot_fields,
        )
        pdf = local.toPandas()
        if mode == "boost":
            idf = 0.0
        elif idf_sum is not None:
            idf = idf_sum
        else:
            # exact phrase-df mode: per-segment exact match counts summed into
            # the global dfp (one-pass stats, no extra job)
            dfp = float(pdf.drop_duplicates("segment_id")["seg_matches"].sum())
            idf = tfidf_idf(dfp, n) if mode == "tfidf" else bm25_idf(dfp, n)
        pdf["score"] = phrase_score(
            mode, pdf["tf"].to_numpy(), pdf["dl"].to_numpy(), idf, avgdl,
            self.k1, self.b, node.boost,
        )
        return self._hits_frame(_driver_topk(pdf, k), with_keys)

    def _search_nested(self, node: flt.Nested, k: int, with_keys: bool) -> DataFrame:
        """ChildToParentJoin (nested_filter.cpp:99-305) as a relational plan:
        ALL child matches (un-truncated kernel pass) → broadcast-light
        groupBy(parent_key) fold → join onto the parent docs. The aggregate
        replaces the reference's parent-bitset seek; at scale the fold
        shuffles only the child MATCH set, not the corpus."""
        pk = node.parent_key_col
        docs = self.reader.live_docs()
        if pk not in docs.columns:
            schema = "doc_key string, segment_id int, doc_id int, score double"
            return self.reader.spark.createDataFrame(
                [], schema if with_keys else schema.split(", ", 1)[1]
            )
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
            topk = out.orderBy("segment_id", "doc_id").limit(k)
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
                topk = out.orderBy(F.desc("score"), "segment_id", "doc_id").limit(k)
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
            topk = out.orderBy(F.desc("score"), "segment_id", "doc_id").limit(k)
        return topk if with_keys else topk.drop("doc_key")

    def _ngram_similarity_local(self, node: flt.NgramSimilarity, k: int) -> DataFrame:
        """by_ngram_similarity (ngram_similarity_query.cpp): per segment,
        candidate docs (≥ min distinct matched ngrams, a cheap vectorized
        union-count prefilter ≙ the reference's potential/min_match cut) get
        the longest in-order increasing-position chain computed by an
        O(stream × N) DP over the doc's merged occurrence stream. Score =
        boost * L/N. Returns each segment's top-k (segment_id, doc_id,
        score) rows, unmerged."""
        import math

        ngrams = list(node.ngrams)
        n_total = len(ngrams)
        min_match = max(1, int(math.ceil(node.threshold * n_total)))
        boost = float(node.boost)
        uniq = sorted(set(ngrams))
        fname = getattr(node, "field", None)
        pq = self.reader.postings_for_terms(uniq, field=fname).select(
            "segment_id", "term", "doc_ids_enc", "freqs_enc", "pos_enc",
            "block_last_doc", "block_doc_off", "block_freq_off",
            "block_max_freq", "docs_count", "max_freq",
        )
        norms = self.reader.norms(field=fname)

        def kernel(post_pdf: pd.DataFrame, norm_pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"segment_id": [], "doc_id": [], "score": []}).astype(
                {"segment_id": "int32", "doc_id": "int32", "score": "float64"}
            )
            if len(post_pdf) == 0 or len(norm_pdf) == 0:
                return empty
            sid = int(norm_pdf["segment_id"].iloc[0])
            dels = _deleted_of(norm_pdf)
            sv = _SegmentViews(post_pdf)
            # (doc, pos, query-slot) streams per distinct matched ngram
            per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
            for t in uniq:
                v = sv.view(t)
                if v is None:
                    continue
                t_ids, t_tfs = v.decode_all()
                per_term[t] = (t_ids, t_tfs, v.positions())
            if not per_term:
                return empty
            # candidates = union of docs containing ANY query ngram (a
            # distinct-count >= min_match prefilter would be unsafe when the
            # query repeats an ngram; the DP below applies the real cut)
            leg_ids = [ids for ids, _, _ in per_term.values()]
            all_ids = np.concatenate(leg_ids)
            cand = np.unique(all_ids)
            cand, _ = _mask_deleted(cand, cand, dels)
            if cand.size == 0:
                return empty
            # merged stream per candidate: gather (doc_rank, pos, slot-set id)
            slots_of = {t: [i for i, g in enumerate(ngrams) if g == t] for t in per_term}
            streams = []  # (key = rank*2^32 + pos, term_index)
            PACK = np.int64(1) << np.int64(32)
            for ti, (t, (t_ids, t_tfs, t_pos)) in enumerate(per_term.items()):
                row = np.searchsorted(t_ids, cand)
                row_c = np.minimum(row, t_ids.size - 1)
                present = t_ids[row_c] == cand
                rows_sel = row_c[present]
                ranks_sel = np.flatnonzero(present).astype(np.int64)
                if rows_sel.size == 0:
                    continue
                starts = np.zeros(t_ids.size + 1, dtype=np.int64)
                np.cumsum(t_tfs, out=starts[1:])
                lens = t_tfs[rows_sel]
                total = int(lens.sum())
                out_off = np.zeros(rows_sel.size, np.int64)
                np.cumsum(lens[:-1], out=out_off[1:])
                rep = np.repeat(np.arange(rows_sel.size), lens)
                flat_idx = np.arange(total, dtype=np.int64) - out_off[rep] + starts[rows_sel][rep]
                keys = ranks_sel[rep] * PACK + t_pos[flat_idx]
                streams.append((keys, np.full(total, ti, np.int64)))
            keys = np.concatenate([s[0] for s in streams])
            tvals = np.concatenate([s[1] for s in streams])
            order = np.argsort(keys, kind="stable")
            keys, tvals = keys[order], tvals[order]
            doc_rank = (keys // PACK).astype(np.int64)
            # lockstep-across-docs chain DP (no per-event Python; see
            # _ngram_chain_lengths)
            term_list = list(per_term.keys())
            slot_lists = [slots_of[t] for t in term_list]
            docs_u, L = _ngram_chain_lengths(keys, doc_rank, tvals, slot_lists, n_total)
            hit = L >= min_match
            if not hit.any():
                return empty
            ids = cand[docs_u[hit]].astype(np.int64)
            scores = (boost * L[hit] / n_total).astype(np.float64)
            ids_k, scores_k = _local_topk(ids, scores, k)
            return pd.DataFrame(
                {
                    "segment_id": np.full(ids_k.size, sid, np.int32),
                    "doc_id": ids_k.astype(np.int32),
                    "score": scores_k,
                }
            )

        return (
            self._seg_partitioned(pq)
            .groupBy(self._seg_groupkey())
            .cogroup(self._seg_norms(norms, ("field", fname)).groupBy(self._seg_groupkey()))
            .applyInPandas(kernel, KERNEL_OUT_SCHEMA)
        )

    def _sidecar_targets(
        self,
        f: flt.Filter,
        k: int,
        dtype: str,
        table: str,
        cols: tuple[str, ...],
        surface: str,
        build_flag: str,
    ):
        """Shared :meth:`highlight` / :meth:`payloads` scaffolding: extract
        the query's term set from the normalized filter (Term/Terms/And/Or),
        run the normal pruned top-k search, broadcast the ≤k target docs and
        their (doc_key, score), and return the term+segment-pruned sidecar
        scan. Returns None when the search matches nothing; raises if the
        index lacks the sidecar table."""
        if table not in self.reader.meta.get("tables", {}):
            raise ValueError(
                f"index has no {table} sidecar: build with "
                f"IndexBuilder(..., {build_flag}=True)"
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
        hits = self.search(f, k=k, dtype=dtype, with_keys=True).collect()  # ≤ k
        if not hits:
            return None
        targets: dict[int, list] = {}
        keys: dict[tuple[int, int], tuple[str, float]] = {}
        for r in hits:
            sid, did = int(r["segment_id"]), int(r["doc_id"])
            targets.setdefault(sid, []).append(did)
            keys[(sid, did)] = (r["doc_key"], float(r["score"]))
        tgt = {s: np.asarray(sorted(d), dtype=np.int64) for s, d in targets.items()}
        sc = self.reader.spark.sparkContext
        scan = (
            self.reader._table(table)
            .where(F.col("term").isin(terms) & F.col("segment_id").isin(list(tgt)))
            .select(*cols)
        )
        return sc.broadcast(tgt), sc.broadcast(keys), scan

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
        len(term)`` (simple-analyzer tokens are verbatim substrings).

        Scale shape: top-k is the normal pruned search; the offsets decode is
        a mapInPandas over the term+segment-pruned sidecar scan with the ≤k
        target docs broadcast — per-occurrence work only for the touched
        (term, segment) rows, nothing unbounded at the driver.
        """
        out_schema = (
            "doc_key string, segment_id int, doc_id int, score double, "
            "term string, start long, end long"
        )
        prep = self._sidecar_targets(
            f, k, dtype, "offsets",
            ("term", "segment_id", "doc_ids_enc", "freqs_enc", "offs_enc"),
            "highlight", "with_offsets",
        )
        if prep is None:
            return self.reader.spark.createDataFrame([], out_schema)
        b_targets, b_keys, offs_scan = prep

        def kernel(batches):
            for pdf in batches:
                cols = {c: [] for c in (
                    "doc_key", "segment_id", "doc_id", "score", "term", "start", "end"
                )}
                for row in pdf.itertuples(index=False):
                    tgt = b_targets.value.get(int(row.segment_id))
                    if tgt is None:
                        continue
                    docs = np.cumsum(vbyte_decode(row.doc_ids_enc).astype(np.int64))
                    freqs = vbyte_decode(row.freqs_enc).astype(np.int64)
                    sel = np.flatnonzero(np.isin(docs, tgt))
                    if sel.size == 0:
                        continue
                    offs = decode_positions(row.offs_enc, freqs)
                    occ_start = np.zeros(docs.size, dtype=np.int64)
                    np.cumsum(freqs[:-1], out=occ_start[1:])
                    first = offs[occ_start[sel]]
                    for j, d in zip(first, docs[sel]):
                        dk, sc = b_keys.value[(int(row.segment_id), int(d))]
                        cols["doc_key"].append(dk)
                        cols["segment_id"].append(int(row.segment_id))
                        cols["doc_id"].append(int(d))
                        cols["score"].append(sc)
                        cols["term"].append(row.term)
                        cols["start"].append(int(j))
                        cols["end"].append(int(j) + len(row.term))
                yield pd.DataFrame(cols).astype(
                    {"segment_id": "int32", "doc_id": "int32", "score": "float64",
                     "start": "int64", "end": "int64"}
                )

        return (
            offs_scan.mapInPandas(kernel, out_schema)
            .orderBy(F.desc("score"), "segment_id", "doc_id", "term")
        )

    def payloads(self, f: flt.Filter, k: int = 10, dtype: str = "float64") -> DataFrame:
        """Per-occurrence payloads of the query's terms in the top-k docs —
        the PAY stream query surface (payload attribute,
        token_attributes.hpp; `.pay` stream formats_10.cpp:345-353).

        Requires an index built with ``IndexBuilder(..., with_payloads=True)``
        and a payload-emitting analyzer (``payload:<sep>``). Returns one row
        per (top-k doc, query-term occurrence): ``(doc_key, segment_id,
        doc_id, score, term, pos, payload)``.

        Scale shape mirrors :meth:`highlight`: top-k is the normal pruned
        search; the payload decode is a mapInPandas over the term+segment-
        pruned sidecar scan with the ≤k target docs broadcast."""
        out_schema = (
            "doc_key string, segment_id int, doc_id int, score double, "
            "term string, pos long, payload long"
        )
        prep = self._sidecar_targets(
            f, k, dtype, "payloads",
            ("term", "segment_id", "doc_ids_enc", "freqs_enc", "pos_enc", "pay_enc"),
            "payloads", "with_payloads",
        )
        if prep is None:
            return self.reader.spark.createDataFrame([], out_schema)
        b_targets, b_keys, pay_scan = prep

        def kernel(batches):
            for pdf in batches:
                frames = []
                for row in pdf.itertuples(index=False):  # one row per (term, segment)
                    tgt = b_targets.value.get(int(row.segment_id))
                    if tgt is None:
                        continue
                    docs = np.cumsum(vbyte_decode(row.doc_ids_enc).astype(np.int64))
                    freqs = vbyte_decode(row.freqs_enc).astype(np.int64)
                    sel = np.flatnonzero(np.isin(docs, tgt))
                    if sel.size == 0:
                        continue
                    poss = decode_positions(row.pos_enc, freqs)
                    pays = vbyte_decode(row.pay_enc).astype(np.int64)
                    # vectorized per-occurrence gather for the ≤k target docs
                    occ_start = np.zeros(docs.size, dtype=np.int64)
                    np.cumsum(freqs[:-1], out=occ_start[1:])
                    lens = freqs[sel]
                    out_off = np.zeros(sel.size, np.int64)
                    np.cumsum(lens[:-1], out=out_off[1:])
                    rep = np.repeat(np.arange(sel.size), lens)
                    occ_idx = (
                        np.arange(int(lens.sum()), dtype=np.int64)
                        - out_off[rep]
                        + occ_start[sel][rep]
                    )
                    d_ids = docs[sel][rep]
                    keymap = b_keys.value
                    dks, scs = zip(
                        *(keymap[(int(row.segment_id), int(d))] for d in docs[sel])
                    )
                    frames.append(
                        pd.DataFrame(
                            {
                                "doc_key": np.asarray(dks, dtype=object)[rep],
                                "segment_id": np.full(d_ids.size, int(row.segment_id), np.int32),
                                "doc_id": d_ids.astype(np.int32),
                                "score": np.asarray(scs, np.float64)[rep],
                                "term": row.term,
                                "pos": poss[occ_idx],
                                "payload": pays[occ_idx],
                            }
                        )
                    )
                empty = pd.DataFrame(
                    {
                        "doc_key": pd.Series([], dtype=object),
                        "segment_id": pd.Series([], dtype="int32"),
                        "doc_id": pd.Series([], dtype="int32"),
                        "score": pd.Series([], dtype="float64"),
                        "term": pd.Series([], dtype=object),
                        "pos": pd.Series([], dtype="int64"),
                        "payload": pd.Series([], dtype="int64"),
                    }
                )
                yield pd.concat(frames, ignore_index=True) if frames else empty

        return (
            pay_scan.mapInPandas(kernel, out_schema)
            .orderBy(F.desc("score"), "segment_id", "doc_id", "term", "pos")
        )

    def _expand_slots(self, terms: list, field: str | None = None) -> list[list[str]]:
        """Variadic slots: a str slot stays fixed; a multiterm filter slot
        (Prefix/Wildcard/Fuzzy/Range/Terms) expands against the term dict of
        the phrase's field, capped at its ``scored_terms_limit``
        (phrase_filter.cpp variadic parts)."""
        slots: list[list[str]] = []
        for t in terms:
            if isinstance(t, str):
                slots.append([t])
            elif isinstance(t, (list, tuple)):
                slots.append(list(t))  # already-expanded slot (pass-through)
            elif isinstance(t, flt.Terms):
                slots.append(sorted(set(t.terms)))
            else:
                expanded, _tail = expand_multiterm(t, self.reader, field=field)
                slots.append([e[0] for e in expanded])
        return slots

    def phrase_matches(
        self,
        terms: list,
        shifts: list[int] | None = None,
        local_k: int | None = None,
        rank_params: tuple[str, float, float] | None = None,
        field: str | None = None,
        slot_fields: list[str] | None = None,
    ) -> DataFrame:
        """All docs matching the (possibly variadic) phrase, with occurrence
        counts.

        ``slot_fields`` (cross-field SamePosition): per-slot field names —
        slot i's terms resolve in ``slot_fields[i]``. Postings are fetched
        per field and re-keyed with a ``field\\x1fterm`` composite so the
        SAME packed-key intersect kernel runs unchanged; positions align
        across fields because every field's tokens of one doc share the
        position space of that doc's respective value arrays
        (same_position_filter.cpp: options are (field, term) pairs).

        Kernel — FULLY vectorized, zero per-doc Python: for every slot the
        candidate docs' positions are gathered into one flat array, packed as
        ``doc_rank * 2^32 + (pos - shift)`` keys, and the slots' key sets are
        intersected with ``np.intersect1d`` in one pass (the flattened-stream
        trick the invert pass uses). tf per doc = bincount of the surviving
        keys' doc ranks. A slot with several terms (variadic) unions its
        terms' keys first (disjunction of position iterators,
        phrase_query.cpp VariadicPhraseQuery).

        With ``local_k`` set, each segment emits only its top-``local_k``
        matches under the dfp-independent rank key given by ``rank_params``
        (mode, A=k1(1-b), B=k1·b/avgdl; rank = tf/(A+B·dl+tf) for bm25, tf
        for tfidf, doc order for boost) plus a ``seg_matches`` column carrying
        the segment's exact total match count — the inputs the scale-safe
        phrase scorer needs without ever shuffling the full match set."""
        if shifts is None:
            shifts = list(range(len(terms)))
        _PQ_COLS = [
            "segment_id",
            "term",
            "doc_ids_enc",
            "freqs_enc",
            "pos_enc",
            "block_last_doc",
            "block_doc_off",
            "block_freq_off",
            "block_max_freq",
            "docs_count",
            "max_freq",
        ]
        if slot_fields is not None:
            slots = [[t] if isinstance(t, str) else list(t) for t in terms]
            by_field: dict[str, set] = {}
            for f, slot in zip(slot_fields, slots):
                by_field.setdefault(f, set()).update(slot)
            pq = None
            for f in sorted(by_field):
                pq_f = (
                    self.reader.postings_for_terms(sorted(by_field[f]), field=f)
                    .select(*_PQ_COLS)
                    .withColumn("term", F.concat(F.lit(f + FIELD_SEP), F.col("term")))
                )
                pq = pq_f if pq is None else pq.unionByName(pq_f)
            slots = [
                [f + FIELD_SEP + t for t in slot]
                for f, slot in zip(slot_fields, slots)
            ]
            norms = self.reader.norms(field=slot_fields[0])
            field = slot_fields[0]  # norms context tag below
        else:
            slots = self._expand_slots(list(terms), field=field)
            flat_terms = sorted({t for slot in slots for t in slot})
            pq = self.reader.postings_for_terms(flat_terms, field=field).select(
                *_PQ_COLS
            )
            norms = self.reader.norms(field=field)
        slot_list = [list(s) for s in slots]
        shift_list = list(shifts)
        out_schema = MATCH_OUT_SCHEMA + (", seg_matches long" if local_k is not None else "")

        def kernel(post_pdf: pd.DataFrame, norm_pdf: pd.DataFrame) -> pd.DataFrame:
            cols = {"segment_id": [], "doc_id": [], "tf": [], "dl": []}
            types = {"segment_id": "int32", "doc_id": "int32", "tf": "int64", "dl": "int64"}
            if local_k is not None:
                cols["seg_matches"] = []
                types["seg_matches"] = "int64"
            empty = pd.DataFrame(cols).astype(types)
            if len(post_pdf) == 0 or len(norm_pdf) == 0:
                return empty
            sid = int(norm_pdf["segment_id"].iloc[0])
            dl = _SegmentNorms(norm_pdf)
            dels = _deleted_of(norm_pdf)
            sv = _SegmentViews(post_pdf)
            out_ids, tf_v = _phrase_seg_tfs(sv, slot_list, shift_list, dels)
            if out_ids.size == 0:
                return empty
            dl_v = dl[out_ids - 1]
            seg_n = int(out_ids.size)
            if local_k is not None and out_ids.size > local_k:
                mode, A, Bc = rank_params
                if mode == "bm25":
                    tfd = tf_v.astype(np.float64)
                    rank = tfd / (A + Bc * dl_v.astype(np.float64) + tfd)
                elif mode == "tfidf":
                    rank = tf_v.astype(np.float64)
                else:  # boost: constant score → doc order
                    rank = np.zeros(out_ids.size)
                sel = np.lexsort((out_ids, -rank))[:local_k]
                sel.sort()
                out_ids, tf_v, dl_v = out_ids[sel], tf_v[sel], dl_v[sel]
            data = {
                "segment_id": np.full(out_ids.size, sid, np.int32),
                "doc_id": out_ids.astype(np.int32),
                "tf": tf_v,
                "dl": dl_v,
            }
            if local_k is not None:
                data["seg_matches"] = np.full(out_ids.size, seg_n, np.int64)
            return pd.DataFrame(data)

        return (
            self._seg_partitioned(pq)
            .groupBy(self._seg_groupkey())
            .cogroup(self._seg_norms(norms, ("field", field)).groupBy(self._seg_groupkey()))
            .applyInPandas(kernel, out_schema)
        )


class PreparedBatch:
    """A compiled query batch (``filter::prepared`` analogue): stats baked,
    multiterm leaves expanded, and the pruned postings scan **persisted** on
    first execute — the reference's per-segment seek-cookie / proxy_filter
    caching (term_filter.cpp:40-66, proxy_filter.cpp:34-54): repeated
    ``execute`` calls run only the scoring kernels over the cached postings."""

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
        self._pq: DataFrame | None = None
        self._norms_ctx = None  # persisted seg-partitioned norms + stats
        self._b_plans = None  # cached plan broadcast (reused across executes)

    def execute(self, k: int = 10) -> DataFrame:
        """Per-execute fixed cost is what batch-serving scaling charges, so
        everything reusable is cached here: the pruned postings scan and the
        norms rows persist ALREADY seg-partitioned (cogroup's clustered-
        distribution requirement is satisfied by the cached partitioning — no
        per-execute exchange of the postings), and the compiled plan list is
        broadcast once, not re-pickled per execute."""
        s = self._searcher
        if self._pq is None and not self.scan.is_empty():
            self._pq = s._seg_partitioned(
                s._batch_postings(self.scan, with_pos=self.scan.need_positions)
            ).persist()
        if self._norms_ctx is None:
            norms, mixed, avgdl, avg_map = s._norms_ctx(self.scan)
            # the Searcher-level norms cache owns the persist (shared with
            # interactive searches over the same field set)
            self._norms_ctx = (
                s._seg_norms(norms, s._norms_key(self.scan)), mixed, avgdl, avg_map
            )
        if self._b_plans is None:
            self._b_plans = s.reader.spark.sparkContext.broadcast(
                list(self.plans.items())
            )
        return s._execute_batch(
            self.plans, self.scan, k, self.dtype,
            pq=self._pq, b_plans=self._b_plans, norms_ctx=self._norms_ctx,
        )

    def unpersist(self) -> None:
        if self._pq is not None:
            self._pq.unpersist()
            self._pq = None
        if self._norms_ctx is not None:
            # norms persist is owned by the Searcher's cache (shared across
            # batches + interactive searches); released by Searcher.unpersist
            self._norms_ctx = None
        if self._b_plans is not None:
            self._b_plans.unpersist()
            self._b_plans = None
