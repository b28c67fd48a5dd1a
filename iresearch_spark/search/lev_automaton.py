"""Levenshtein automaton walked over a sorted term dictionary.

The reference expands ``by_edit_distance`` in one pass: a parametric
Levenshtein automaton (Schulz–Mihov) intersected with the FST term
dictionary, whose state gives each accepted term's edit distance
(levenshtein_utils.cpp:1-775; levenshtein_filter.cpp:139-310 ``visit``).
Here the dictionary is the driver-held SORTED term array (index/reader.py
``fuzzy_vocab_sorted``), at every distance the reference's provider
supports (0–4, 0–3 with transpositions):

* :class:`LevAutomaton` — an NFA for (query, max_distance, transpositions)
  determinized lazily into an integer table ``delta[state, class]``: only
  the (state, class) pairs the walk meets are built.  Class 0 is every
  character outside the query, classes 1..m its distinct characters — a
  non-query character behaves the same in every state.  ``dist[state] =
  min(e + n - i)`` over the state's plain ``(i, e)`` is the exact edit
  distance of the word read so far whenever it is ``<= max_distance``.
* :class:`SortedVocab` — the terms as UTF-32 code points with offsets, and
  the rows grouped by their longest common prefix (LCP) with the
  predecessor: the terms sharing a k-character prefix are one row range,
  whose children start at its rows of LCP k.
* :meth:`LevAutomaton.walk` — the live (row range, state) nodes advance one
  character depth at a time, in numpy; a dead state drops its whole range
  unread, so the walk is sublinear in |vocab|.

Distances are Levenshtein, or the restricted Damerau/OSA variant when
``transpose=True`` (a transposition state consumes exactly an adjacent
pair, as in the OSA DP).  tests/test_lev_automaton.py checks each accepted
term's distance against the DP (``executor._levenshtein_leq``).

NFA states (query length n, budget d = max_distance):

* plain ``(i, e)`` — consumed ``q[:i]`` with ``e`` edits.  Transitions on
  input char ``c``: match ``(i+1, e)`` when ``c == q[i]``; insertion
  ``(i, e+1)``; substitution ``(i+1, e+1)``; deletions are the
  epsilon-closure ``(i+k, e+k)``; deleting the unconsumed tail costs
  ``n - i``.
* transposition ``T(i, e)`` — consumed ``q[i+1]`` out of order (charged on
  entry); the only way forward is reading ``q[i]`` → ``(i+2, e)``.

Subset states are reduced by the standard subsumption rule
``(i, e) subsumes (j, f)  iff  f >= e + |i - j|`` (Schulz–Mihov §4), which
keeps the state count flat in query length and never drops the minimum of
``e + n - i`` (``f - e >= j - i``).
"""

from __future__ import annotations

import numpy as np


class SortedVocab:
    """A term-ascending string array laid out for :meth:`LevAutomaton.walk`:
    about 4 bytes per character plus 16 per term beside the terms."""

    __slots__ = ("terms", "cps", "off", "_by_lcp", "_lcp_at")

    def __init__(self, terms: np.ndarray):
        self.terms = terms
        n = len(terms)
        lens = np.fromiter(map(len, terms), np.int64, n)
        self.off = np.zeros(n + 1, np.int64)
        np.cumsum(lens, out=self.off[1:])
        self.cps = np.frombuffer("".join(terms).encode("utf-32-le"), np.uint32)
        # LCP of each row with its predecessor (row 0: 0): every row still
        # equal to its predecessor on [0, k) compares its k-th code point
        lcp = np.zeros(n, np.int64)
        alive, k = np.arange(1, n), 0
        while alive.size:
            same = np.minimum(lens[alive - 1], lens[alive]) > k
            at = alive[same]
            same[same] = self.cps[self.off[at] + k] == self.cps[self.off[at - 1] + k]
            lcp[alive[~same]] = k
            alive, k = alive[same], k + 1
        self._by_lcp = np.argsort(lcp, kind="stable")
        self._lcp_at = np.searchsorted(lcp[self._by_lcp], np.arange(lens.max(initial=0) + 2))

    def __len__(self) -> int:
        return len(self.terms)

    def chars_at(self, rows: np.ndarray, depth: int) -> np.ndarray:
        """The code point at ``depth`` of each row (every row is longer)."""
        return self.cps[self.off[rows] + depth]

    def children(self, lo: np.ndarray, hi: np.ndarray, depth: int):
        """Split the ascending, disjoint row ranges ``[lo, hi)``, each sharing
        its first ``depth`` characters, by the character at ``depth`` →
        (start, end, parent) per child range.  A range's first row is no
        child when it ends at ``depth``; every other child starts at a row
        whose LCP with its predecessor is ``depth``."""
        cuts = self._by_lcp[self._lcp_at[depth] : self._lcp_at[depth + 1]]
        a = np.searchsorted(cuts, lo, "right")
        cnt = np.searchsorted(cuts, hi, "left") - a
        at = np.arange(cnt.sum()) + np.repeat(a - np.cumsum(cnt) + cnt, cnt)
        first = lo[self.off[lo + 1] - self.off[lo] > depth]
        start = np.sort(np.concatenate([first, cuts[at]]))
        parent = np.searchsorted(lo, start, "right") - 1
        # a child ends where its parent's next child starts, the last at hi
        end = hi[parent]
        inner = parent[1:] == parent[:-1]
        end[:-1][inner] = start[1:][inner]
        return start, end, parent


class LevAutomaton:
    """Levenshtein/OSA acceptor for one (query, max_distance) pair."""

    __slots__ = (
        "query", "maxd", "transpose", "n", "_chars", "_cps", "_states",
        "_ids", "delta", "dist",
    )

    def __init__(self, query: str, maxd: int, transpose: bool = False):
        self.query = query
        self.maxd = int(maxd)
        self.transpose = bool(transpose)
        self.n = len(query)
        # class c >= 1 reads _chars[c - 1]; class 0 reads every other char
        self._chars = sorted(set(query))
        self._cps = np.array([ord(c) for c in self._chars], np.uint32)
        # state 0 is dead (the empty set), state 1 the start; a -1 entry of
        # delta is not determinized yet
        self._states: list[frozenset] = []
        self._ids: dict[frozenset, int] = {}
        self.delta = np.zeros((2, len(self._chars) + 1), np.int64)
        self.dist = np.zeros(2, np.int64)
        self._state_id(frozenset())
        self._state_id(self._reduce(self._closure({(0, 0, False)})))

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
        """One NFA step on an input char (``None`` = a non-query char)."""
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

    # ---- lazy DFA table ------------------------------------------------

    def _state_id(self, state: frozenset) -> int:
        sid = self._ids.get(state)
        if sid is None:
            sid = self._ids[state] = len(self._states)
            self._states.append(state)
            if sid == len(self.dist):  # double the table's capacity
                self.delta = np.concatenate([self.delta, self.delta])
                self.dist = np.concatenate([self.dist, self.dist])
            self.delta[sid] = -1 if state else 0
            self.dist[sid] = min(
                (e + self.n - i for (i, e, t) in state if not t), default=self.maxd + 1
            )
        return sid

    def _successor(self, sid: int, cls: int) -> int:
        # deletion moves are ε-transitions: re-expand the ε-closure BEFORE
        # consuming the character (subsumption-reduced states are stored
        # closed-modulo-reduction, and a reduced-away (i+k, e+k) can still
        # be the match source for this character)
        full = frozenset(self._closure(set(self._states[sid])))
        raw = self._nfa_step(full, self._chars[cls - 1] if cls else None)
        return self._state_id(self._reduce(self._closure(raw)) if raw else frozenset())

    def _next(self, states: np.ndarray, cps: np.ndarray) -> np.ndarray:
        """The table step of each state on its code point, determinizing the
        (state, class) pairs not in the table yet."""
        cls = np.zeros(len(cps), np.int64)
        if self._chars:
            at = np.minimum(np.searchsorted(self._cps, cps), len(self._cps) - 1)
            cls = np.where(self._cps[at] == cps, at + 1, 0)
        nxt = self.delta[states, cls]
        miss = nxt < 0
        if miss.any():
            ncls = self.delta.shape[1]
            for key in np.unique(states[miss] * ncls + cls[miss]).tolist():
                s, c = divmod(key, ncls)
                succ = self._successor(s, c)  # may reallocate the table
                self.delta[s, c] = succ
            nxt = self.delta[states, cls]
        return nxt

    # ---- sorted-dictionary walk ----------------------------------------

    def walk(self, vocab: SortedVocab, lo: int = 0, hi: int | None = None, depth: int = 0):
        """(rows, distances) of every term of ``vocab`` in rows ``[lo, hi)``
        within ``maxd`` of the query.  The rows share their first ``depth``
        characters, which the walk skips: a Fuzzy ``prefix`` block starts at
        ``depth = len(prefix)``."""
        hi = len(vocab) if hi is None else hi
        n0 = int(hi > lo)  # one root node, none for an empty range
        lo_a, hi_a, st = np.full(n0, lo), np.full(n0, hi), np.ones(n0, np.int64)
        rows, dists = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
        while st.size:
            # a range's first row is its prefix when it ends at this depth
            d = self.dist[st]
            ok = (vocab.off[lo_a + 1] - vocab.off[lo_a] == depth) & (d <= self.maxd)
            rows.append(lo_a[ok])
            dists.append(d[ok])
            start, end, parent = vocab.children(lo_a, hi_a, depth)
            st = self._next(st[parent], vocab.chars_at(start, depth))
            live = st != 0
            lo_a, hi_a, st = start[live], end[live], st[live]
            depth += 1
        return np.concatenate(rows), np.concatenate(dists)
