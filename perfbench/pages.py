"""Seeded inputs: the pages table and the query mix.

Everything here is a pure function of the workload seed. The engine receives
only the generated parquet files and filters; the term statistics used to pick
query terms come from this module's own token arrays, not from the index.

Page tokens come from the engine's own corpus generator
(``iresearch_spark.corpus.token_ranks``: a Zipf-like rank map over a 50k
vocabulary, 60-399 tokens per page, keyed by seed and page number), so there
are head terms for the High* categories and a long tail for the Low* ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from iresearch_spark.corpus import rank_to_word, token_ranks


def page_key(i: int) -> str:
    return f"https://example.org/{i:08d}"


def page_ranks(seed: int, first: int, n: int) -> list[np.ndarray]:
    """Token ranks of pages ``first .. first+n-1``."""
    return token_ranks(np.arange(first, first + n), seed)


def page_text(ranks: np.ndarray) -> str:
    return " ".join(map(rank_to_word, ranks.tolist()))


def write_pages(path: str, seed: int, first: int, n: int, files: int) -> list[np.ndarray]:
    """Write pages ``first..first+n-1`` as ``files`` parquet files of contiguous
    key ranges (url, text, lang); returns their rank arrays."""
    ranks = page_ranks(seed, first, n)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        table = pa.table(
            {
                "url": [page_key(first + i) for i in range(lo, hi)],
                "text": [page_text(r) for r in ranks[lo:hi]],
                "lang": ["en"] * (hi - lo),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
    return ranks


def doc_freqs(ranks: list[np.ndarray]) -> np.ndarray:
    return np.bincount(np.concatenate([np.unique(r) for r in ranks]))


# --------------------------------------------------------------------------
# Query mix
# --------------------------------------------------------------------------

# A query is a small tuple spec, so the same query drives the engine filter and
# the DuckDB oracle:
#   ("term", t) | ("and", (t, ...)) | ("or", (t, ...), min_match)
#   ("phrase", (a, b)) | ("prefix", p, limit) | ("wildcard", pat) | ("fuzzy", t, d)
ORACLE_KINDS = ("term", "and", "or", "phrase")

# the reference task categories, in the order bench.py's reference_tasks lists them
CATEGORIES = (
    "HighTerm", "MedTerm", "LowTerm", "HighPhrase", "MedPhrase", "LowPhrase",
    "AndHighHigh", "AndHighMed", "AndHighLow", "OrHighHigh", "OrHighMed",
    "OrHighLow", "Prefix3", "Wildcard", "Fuzzy1", "Fuzzy2", "Or4High",
    "Or6High4Med2Low", "MinMatch2High2Med",
)
PHRASE_CATEGORIES = ("HighPhrase", "MedPhrase", "LowPhrase")
_PAIRS = {
    "AndHighHigh": ("and", "high"), "AndHighMed": ("and", "med"), "AndHighLow": ("and", "low"),
    "OrHighHigh": ("or", "high"), "OrHighMed": ("or", "med"), "OrHighLow": ("or", "low"),
}


class QueryGen:
    """Seeded query terms drawn from document-frequency strata."""

    def __init__(self, ranks: list[np.ndarray], seed: int):
        self.rng = np.random.default_rng([seed, 7])
        self.ranks = ranks
        df = doc_freqs(ranks)
        self.df = df
        n = len(ranks)
        order = np.argsort(-df, kind="stable")
        self.high = order[:40]
        self.med = np.flatnonzero((df >= n // 20) & (df <= n // 7))
        self.low = np.flatnonzero((df >= max(2, n // 1000)) & (df <= max(3, n // 250)))
        self.n = n

    def _pick(self, pool: np.ndarray, m: int) -> list[str]:
        return [rank_to_word(int(r)) for r in self.rng.choice(pool, m, replace=False)]

    def _pair(self, ok) -> tuple[str, str]:
        """Adjacent distinct tokens of a seeded page whose dfs satisfy ``ok``."""
        for _ in range(10_000):
            r = self.ranks[int(self.rng.integers(self.n))]
            for a, b in zip(r[:-1], r[1:]):
                if a != b and ok(self.df[a], self.df[b]):
                    return rank_to_word(int(a)), rank_to_word(int(b))
        raise ValueError("no page holds an adjacent pair in the requested df strata")

    def spec(self, cat: str) -> tuple:
        hi, md, lo = self.high, self.med, self.low
        hi_cut, lo_cut = self.n // 3, max(1, self.n // 50)
        if cat == "HighTerm":
            return ("term", self._pick(hi, 1)[0])
        if cat == "MedTerm":
            return ("term", self._pick(md, 1)[0])
        if cat == "LowTerm":
            return ("term", self._pick(lo, 1)[0])
        if cat == "HighPhrase":
            return ("phrase", self._pair(lambda a, b: a >= hi_cut and b >= hi_cut))
        if cat == "MedPhrase":
            return ("phrase", self._pair(lambda a, b: lo_cut < a < hi_cut and lo_cut < b < hi_cut))
        if cat == "LowPhrase":
            return ("phrase", self._pair(lambda a, b: 0 < a <= lo_cut or 0 < b <= lo_cut))
        if cat in _PAIRS:
            op, second = _PAIRS[cat]
            a = self._pick(hi, 1)[0]
            b = self._pick(np.setdiff1d({"high": hi, "med": md, "low": lo}[second], [int(a[1:])]), 1)[0]
            return ("and", (a, b)) if op == "and" else ("or", (a, b), 1)
        if cat == "Prefix3":
            return ("prefix", self._pick(hi, 1)[0][:3], 16)
        if cat == "Wildcard":
            t = self._pick(md, 1)[0]
            return ("wildcard", t[:4] + "_" + t[5:])
        if cat in ("Fuzzy1", "Fuzzy2"):
            return ("fuzzy", self._pick(md, 1)[0], int(cat[-1]))
        if cat == "Or4High":
            return ("or", tuple(self._pick(hi, 4)), 1)
        if cat == "Or6High4Med2Low":
            return ("or", tuple(self._pick(hi, 6) + self._pick(md, 4) + self._pick(lo, 2)), 1)
        if cat == "MinMatch2High2Med":
            return ("or", tuple(self._pick(hi, 2) + self._pick(md, 2)), 2)
        raise ValueError(cat)


def to_filter(spec: tuple):
    from iresearch_spark import filters as flt

    kind = spec[0]
    if kind == "term":
        return flt.Term(spec[1])
    if kind == "and":
        return flt.And(tuple(flt.Term(t) for t in spec[1]))
    if kind == "or":
        return flt.Or(tuple(flt.Term(t) for t in spec[1]), min_match=spec[2])
    if kind == "phrase":
        return flt.Phrase(tuple(spec[1]))
    if kind == "prefix":
        return flt.Prefix(spec[1], scored_terms_limit=spec[2])
    if kind == "wildcard":
        return flt.Wildcard(spec[1])
    if kind == "fuzzy":
        return flt.Fuzzy(spec[1], max_distance=spec[2])
    raise ValueError(kind)
