"""Lazy-determinized Levenshtein automaton + sorted-dictionary intersection.

The reference expands ``by_edit_distance`` by intersecting a parametric
Levenshtein automaton (Schulz–Mihov) with the FST term dictionary, making the
expansion sublinear in vocabulary size (levenshtein_utils.cpp:1-775;
levenshtein_filter.cpp:139-310: ``visit`` walks automaton × FST arcs).  This
module is the Spark-repo analogue over the driver-held SORTED term
dictionary (index/reader.py ``fuzzy_vocab_sorted`` — the in-memory FST
role), and it enumerates every fuzzy expansion, at every distance the
reference's provider supports (0–4, 0–3 with transpositions):

* :class:`LevAutomaton` — an NFA for (query, max_distance, transpositions)
  determinized LAZILY into subset states, one transition table entry per
  (state, character-class).  Character classes collapse the unbounded Unicode
  alphabet to ``{each distinct query char} ∪ OTHER`` — every non-query
  character behaves identically in every state, so the DFA stays finite and
  tiny regardless of corpus alphabet.
* :meth:`LevAutomaton.intersect` — the Lucene-style ``seek``/``skip`` walk
  over a sorted term array: walk the DFA down the current term; on a dead
  prefix, compute the lexicographically smallest viable successor string and
  ``searchsorted`` straight to it.  Dictionary terms between the dead prefix
  and the successor are never touched — the walk is sublinear in |vocab|
  (O(#accepted + #explored prefix runs) instead of O(|vocab|)).

Distance semantics match ``_fuzzy_distances`` (executor.py): standard
Levenshtein, or the restricted Damerau/OSA variant when
``transpose=True`` — the NFA's transposition states consume exactly an
adjacent pair, the same restriction the OSA DP encodes.  The caller still
DP-verifies survivors, so the automaton only needs NO FALSE NEGATIVES; it is
in fact exact (property-tested against the DP in
tests/test_lev_automaton.py), which is what makes the seek walk sublinear.

NFA states (query length n, budget d = max_distance):

* plain ``(i, e)`` — consumed ``q[:i]`` with ``e`` edits.  Transitions on
  input char ``c``: match ``(i+1, e)`` when ``c == q[i]``; insertion
  ``(i, e+1)``; substitution ``(i+1, e+1)``; deletions are the
  epsilon-closure ``(i+k, e+k)``.  Accepting iff ``e + (n - i) <= d``
  (delete the unconsumed tail).
* transposition ``T(i, e)`` — consumed ``q[i+1]`` out of order (charged on
  entry); the only way forward is reading ``q[i]`` → ``(i+2, e)``.

Subset states are reduced by the standard subsumption rule
``(i, e) subsumes (j, f)  iff  f >= e + |i - j|`` (Schulz–Mihov §4) so the
lazy DFA state count stays flat in query length.
"""

from __future__ import annotations

import numpy as np

#: sentinel character class for "any character not occurring in the query"
_OTHER = "\0other"

#: one past the largest Unicode scalar — no dictionary char sorts >= this
_MAXCP = 0x110000


class LevAutomaton:
    """Levenshtein/OSA acceptor for one (query, max_distance) pair."""

    __slots__ = (
        "query", "maxd", "transpose", "n", "_qchars", "_qsorted",
        "_trans", "start",
    )

    def __init__(self, query: str, maxd: int, transpose: bool = False):
        self.query = query
        self.maxd = int(maxd)
        self.transpose = bool(transpose)
        self.n = len(query)
        self._qchars = set(query)
        self._qsorted = sorted(self._qchars)
        # transition cache: state -> {char_class -> state}
        self._trans: dict[frozenset, dict[str, frozenset]] = {}
        self.start = self._reduce(self._closure({(0, 0, False)}))

    # ---- NFA mechanics -------------------------------------------------
    # NFA state encoding: (i, e, is_transposition_pending)

    def _closure(self, states: set) -> set:
        """Add the deletion chain (i+k, e+k) for every plain state."""
        out = set(states)
        for (i, e, t) in states:
            if t:
                continue
            k = 1
            while e + k <= self.maxd and i + k <= self.n:
                out.add((i + k, e + k, False))
                k += 1
        return out

    def _reduce(self, states: set) -> frozenset:
        """Drop subsumed plain states: (j,f) subsumes (i,e) iff f < e and
        |i-j| <= e-f (Schulz–Mihov Lemma — the subsumer reaches every word
        the subsumed state can, with budget to spare).  Transposition states
        are kept as-is (conservative; they are few and short-lived)."""
        plain = [(i, e) for (i, e, t) in states if not t]
        keep: set = set()
        for (i, e, t) in states:
            if not t and any(
                f < e and abs(i - j) <= e - f for (j, f) in plain
            ):
                continue
            keep.add((i, e, t))
        return frozenset(keep)

    def _nfa_step(self, states: frozenset, ch: str | None) -> set:
        """One NFA step on an input char (``None`` = the OTHER class)."""
        q, n, d = self.query, self.n, self.maxd
        out: set = set()
        for (i, e, t) in states:
            if t:
                # pending transposition: must read q[i]
                if ch is not None and i < n and ch == q[i]:
                    out.add((i + 2, e, False))
                continue
            if ch is not None and i < n and ch == q[i]:
                out.add((i + 1, e, False))
            if e < d:
                out.add((i, e + 1, False))            # insertion
                if i < n:
                    out.add((i + 1, e + 1, False))    # substitution
                if (
                    self.transpose
                    and ch is not None
                    and i + 1 < n
                    and ch == q[i + 1]
                ):
                    out.add((i, e + 1, True))         # transposition entry
        return out

    # ---- lazy DFA ------------------------------------------------------

    def _class_of(self, ch: str) -> str:
        return ch if ch in self._qchars else _OTHER

    def step(self, state: frozenset, ch: str) -> frozenset:
        """DFA transition on a real character (lazily built + cached)."""
        row = self._trans.setdefault(state, {})
        key = self._class_of(ch)
        nxt = row.get(key)
        if nxt is None:
            # deletion moves are ε-transitions: re-expand the ε-closure
            # BEFORE consuming the character (subsumption-reduced states are
            # stored closed-modulo-reduction, and a reduced-away (i+k, e+k)
            # can still be the match source for this character)
            full = self._closure(set(state))
            raw = self._nfa_step(frozenset(full), None if key is _OTHER else key)
            nxt = self._reduce(self._closure(raw)) if raw else frozenset()
            row[key] = nxt
        return nxt

    def is_accepting(self, state: frozenset) -> bool:
        n, d = self.n, self.maxd
        return any(not t and e + (n - i) <= d for (i, e, t) in state)

    def accepts(self, term: str) -> bool:
        st = self.start
        for ch in term:
            st = self.step(st, ch)
            if not st:
                return False
        return self.is_accepting(st)

    # ---- sorted-dictionary intersection --------------------------------

    def _next_live_char(self, state: frozenset, ch: str) -> str | None:
        """Smallest character STRICTLY greater than ``ch`` whose transition
        from ``state`` is live, or None.  Only two kinds of candidate exist:
        the query's own characters, and the smallest non-query character
        > ``ch`` (every non-query char behaves identically)."""
        best: str | None = None
        for qc in self._qsorted:
            if qc > ch and self.step(state, qc):
                best = qc
                break
        # smallest OTHER-class char > ch: scan past any query chars that sit
        # immediately above ch (bounded by |query| probes)
        o = ord(ch) + 1
        while o < _MAXCP and chr(o) in self._qchars:
            o += 1
        if o < _MAXCP and self.step(state, chr(o)):
            c = chr(o)
            if best is None or c < best:
                best = c
        return best

    def intersect(self, terms: np.ndarray) -> np.ndarray:
        """Indices of accepted terms in an ASCENDING-sorted string array.

        The seek walk: run the DFA down ``terms[pos]``; when the prefix dies
        at depth k, every dictionary term sharing that dead prefix is skipped
        in one ``searchsorted`` jump to the smallest viable successor string
        (backtracking to the deepest ancestor state with a live character
        above the current one — exactly the automaton×FST arc walk of
        levenshtein_filter.cpp:139-310, with binary search standing in for
        FST arc seeks)."""
        out: list[int] = []
        npos, pos = len(terms), 0
        while pos < npos:
            t = terms[pos]
            states = [self.start]
            dead_at = -1
            for k in range(len(t)):
                nxt = self.step(states[-1], t[k])
                if not nxt:
                    dead_at = k
                    break
                states.append(nxt)
            if dead_at < 0:
                if self.is_accepting(states[-1]):
                    out.append(pos)
                pos += 1          # live prefix: successors may extend it
                continue
            seek = None
            for k in range(dead_at, -1, -1):
                c = self._next_live_char(states[k], t[k])
                if c is not None:
                    seek = t[:k] + c
                    break
            if seek is None:
                break             # automaton exhausted above every suffix
            j = int(np.searchsorted(terms, seek, side="left"))
            pos = j if j > pos else pos + 1
        return np.asarray(out, dtype=np.int64)
