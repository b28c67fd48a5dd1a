"""Sweep the kernel placement threshold, ``Searcher.DRIVER_MAX_POSTINGS``.

Over an existing index, runs single queries of the reference categories and
mixed batches of 1–64 plans twice each: once with the segment kernel forced
into the driver and once forced into the Spark job. It asserts the rows are
identical and prints, per query or batch, its planned postings
(``ScanSpec.planned_postings``) and the median milliseconds of
``PreparedBatch.execute(k=10).collect()`` under each placement. The two
placements alternate within every repeat, so a drift in machine speed hits
both alike.

    python examples/placement_sweep.py INDEX_PATH [--repeat 5] [--seed 1] [--master local[4]]

Query terms come from the index's own term dictionary, drawn by document
frequency: ``high`` is the 40 most frequent terms, ``med`` has df in
[N/20, N/7] and ``low`` df in [N/1000, N/250] (N = documents).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iresearch_spark import IndexReader, Searcher, filters as flt  # noqa: E402
from iresearch_spark.session import get_spark  # noqa: E402

K = 10
FORCE = {"driver": 1 << 62, "spark": -1}
SINGLE = (
    "HighTerm", "MedTerm", "LowTerm", "HighPhrase", "AndHighHigh", "AndHighMed",
    "OrHighHigh", "OrHighMed", "Prefix3", "Wildcard", "Fuzzy1", "Fuzzy2",
    "Or4High", "Or6High4Med2Low", "MinMatch2High2Med",
)
#: the batch mix: one plan per kernel path, cycled
BATCH_MIX = (
    "HighTerm", "MedTerm", "AndHighMed", "OrHighMed", "Prefix3", "Wildcard",
    "Fuzzy1", "Or6High4Med2Low",
)
BATCH_SIZES = (1, 2, 4, 8, 16, 32, 64)


class Terms:
    """Seeded query filters over the index vocabulary's df strata."""

    def __init__(self, reader: IndexReader, seed: int):
        terms, df, _ = reader.fuzzy_vocab_sorted()
        n = sum(reader.segment_docs_counts().values())
        self.rng = np.random.default_rng(seed)
        self.high = terms[np.argsort(-df, kind="stable")[:40]]
        self.med = terms[(df >= n // 20) & (df <= n // 7)]
        self.low = terms[(df >= max(2, n // 1000)) & (df <= max(3, n // 250))]
        for name in ("med", "low"):
            if not len(getattr(self, name)):
                setattr(self, name, self.high)

    def pick(self, pool, m: int = 1) -> list[str]:
        return [str(t) for t in self.rng.choice(pool, m, replace=False)]

    def filter(self, cat: str) -> flt.Filter:
        hi, md, lo = self.high, self.med, self.low
        if cat.endswith("Term"):
            return flt.Term(self.pick({"High": hi, "Med": md, "Low": lo}[cat[:-4]])[0])
        if cat == "HighPhrase":
            return flt.Phrase(tuple(self.pick(hi, 2)))
        if cat.startswith(("AndHigh", "OrHigh")):
            op, second = cat.split("High", 1)
            legs = (flt.Term(self.pick(hi)[0]), flt.Term(self.pick(hi if second == "High" else md)[0]))
            return flt.And(legs) if op == "And" else flt.Or(legs)
        if cat == "Prefix3":
            return flt.Prefix(self.pick(hi)[0][:3], scored_terms_limit=16)
        if cat == "Wildcard":
            t = self.pick(md)[0]
            return flt.Wildcard(t[:2] + "_" + t[3:] if len(t) > 3 else t)
        if cat.startswith("Fuzzy"):
            return flt.Fuzzy(self.pick(md)[0], max_distance=int(cat[-1]))
        if cat == "Or4High":
            return flt.Or(tuple(flt.Term(t) for t in self.pick(hi, 4)))
        if cat == "Or6High4Med2Low":
            ts = self.pick(hi, 6) + self.pick(md, 4) + self.pick(lo, 2)
            return flt.Or(tuple(flt.Term(t) for t in ts))
        if cat == "MinMatch2High2Med":
            ts = self.pick(hi, 2) + self.pick(md, 2)
            return flt.Or(tuple(flt.Term(t) for t in ts), min_match=2)
        raise ValueError(cat)


def sweep_one(searcher: Searcher, queries: dict, repeat: int) -> tuple[int, float, float]:
    """(planned postings, driver ms, job ms) of one prepared batch; asserts
    both placements return identical rows."""
    prepared = searcher.prepare(queries)
    rows, ms = {}, {p: [] for p in FORCE}
    for i in range(repeat + 1):  # the first round warms up and is not timed
        for p in FORCE if i % 2 else reversed(FORCE):
            searcher.DRIVER_MAX_POSTINGS = FORCE[p]
            t0 = time.perf_counter()
            got = [tuple(r) for r in prepared.execute(k=K).collect()]
            if i:
                ms[p].append((time.perf_counter() - t0) * 1e3)
            rows.setdefault(p, got)
            assert got == rows[p], f"{p}: rows changed between repeats"
    assert rows["driver"] == rows["spark"], "placements disagree"
    prepared.unpersist()
    return (
        prepared.scan.planned_postings,
        statistics.median(ms["driver"]),
        statistics.median(ms["spark"]),
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("index")
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("placement_sweep", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    reader = IndexReader(spark, args.index)
    searcher = Searcher(reader)
    gen = Terms(reader, args.seed)
    counts = reader.segment_docs_counts()
    print(f"# {args.index}: {sum(counts.values())} docs, {len(counts)} segments, "
          f"defaultParallelism {spark.sparkContext.defaultParallelism}, "
          f"current DRIVER_MAX_POSTINGS {Searcher.DRIVER_MAX_POSTINGS}")
    print(f"{'query':<24}{'plans':>6}{'planned':>10}{'driver_ms':>11}{'job_ms':>9}  faster")
    results = []
    cases = [(cat, {cat: gen.filter(cat)}) for cat in SINGLE] + [
        (f"batch{n}", {f"q{j}": gen.filter(BATCH_MIX[j % len(BATCH_MIX)]) for j in range(n)})
        for n in BATCH_SIZES
    ]
    for name, queries in cases:
        planned, d_ms, j_ms = sweep_one(searcher, queries, args.repeat)
        results.append((planned, d_ms, j_ms))
        faster = "driver" if d_ms < j_ms else "spark"
        print(f"{name:<24}{len(queries):>6}{planned:>10}{d_ms:>11.1f}{j_ms:>9.1f}  {faster}")
    driver_wins = [p for p, d, j in results if d < j]
    spark_wins = [p for p, d, j in results if d >= j]
    print(f"# largest planned postings faster in the driver: {max(driver_wins, default=None)}")
    print(f"# smallest planned postings faster as a job: {min(spark_wins, default=None)}")
    spark.stop()


if __name__ == "__main__":
    main()
