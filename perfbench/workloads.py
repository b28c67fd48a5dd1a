"""The three workloads: interactive, batch and ingest.

Each is a closed loop with one client: a request is sent only after the
previous reply has been collected. Each workload builds its index once (or
opens the one an earlier run left in the index cache), then sets itself up
several times (open a reader and a searcher, serve the first request); the
last set-up serves the measured loop, so the set-ups' requests also warm the
process up.

The measured loops run a reference job (``reference_job``, no engine code)
between requests. On a shared host the speed of every Spark job drifts
by a factor of two or more within minutes; the request latency read against
the reference latency of the same run drifts far less.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

import numpy as np

import pages
from oracle import Bm25Oracle, compare_topk
from tracing import median

K = 10
TOL = 1e-6
SETUPS = 3  # set-ups per run; setup_s is their median


class Run:
    """State of one workload run: session, inputs, tracer and tallies."""

    def __init__(self, name: str, spark, args, work: str, tracer, ranks, pages_dir: str, index_home: str):
        from iresearch_spark import IndexBuilder, IndexReader, Searcher

        self.IndexBuilder, self.IndexReader, self.Searcher = IndexBuilder, IndexReader, Searcher
        self.name = name
        self.spark = spark
        self.args = args
        self.work = work
        self.tracer = tracer
        self.ranks = ranks
        self.pages_dir = pages_dir
        self.index_path = os.path.join(index_home, "index")
        self.qgen = pages.QueryGen(ranks, args.seed)
        self.rng = np.random.default_rng([args.seed, 11])
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict[str, float] = {}
        self.setup_times: list[float] = []
        self.ref_times: list[float] = []
        self._ref = None
        self.searches: list[tuple[str, float]] = []  # (request id, seconds)
        self.executes: list[tuple[str, float]] = []
        self.deletes: list[str] = []
        self.category_ms: dict[str, list[float]] = {}

    # ---------------------------------------------------------- requests
    def gid(self, rid: str) -> str:
        """Job group and span request id: unique across the workloads of a session."""
        return f"{self.name}:{rid}"

    @contextlib.contextmanager
    def request(self, rid: str, name: str, **attrs):
        """Span plus Spark job group for one request (job groups only when
        tracing, so the measured run sets none). The group is cleared when
        the request ends, so later jobs are not counted toward it."""
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(self.gid(rid), name)
        try:
            with self.tracer.span(name, request=self.gid(rid), **attrs) as rec:
                yield rec
        finally:
            if self.tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def reference(self) -> None:
        """Run and time one reference job (``reference_job``)."""
        if self._ref is None:
            self._ref = reference_job(self.spark)
        t0 = time.monotonic()
        self._ref()
        self.ref_times.append(time.monotonic() - t0)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def timed_search(self, searcher, spec, rid: str, cat: str, with_keys=True):
        """One search request; returns (rows, seconds) or None if it raised."""
        self.attempted += 1
        f = pages.to_filter(spec)
        try:
            with self.request(rid, "search", category=cat):
                t0 = time.monotonic()
                rows = searcher.search(f, k=K, with_keys=with_keys).collect()
                dt = time.monotonic() - t0
        except Exception as e:  # a failed request is counted, not fatal
            self.fail(f"{rid} {spec}: {type(e).__name__}: {e}")
            return None
        self.searches.append((rid, dt))
        self.category_ms.setdefault(cat, []).append(dt * 1e3)
        return rows, dt

    # ------------------------------------------------------------ set-up
    def build(self) -> None:
        """Build the run's index from the pages table, unless a complete one is
        already there (a cached index of the same engine source and corpus).
        A build is the first Spark work of the process, so it includes worker
        start-up."""
        if not complete_index(self.index_path):
            shutil.rmtree(self.index_path, ignore_errors=True)
            t0 = time.monotonic()
            with self.request("build", "build"):
                self.IndexBuilder(
                    self.spark, self.index_path, analyzer="simple", num_segments=self.args.segments
                ).build(self.spark.read.parquet(self.pages_dir), key_col="url", text_col="text")
            self.report["build_docs_per_s"] = len(self.ranks) / (time.monotonic() - t0)
        meta = self.IndexReader(self.spark, self.index_path).meta
        self.report["index_bytes_per_text_byte"] = index_bytes(meta) / text_bytes(self.pages_dir)

    def setup(self, warm):
        """Open a reader and a searcher and serve the first request, several
        times; returns the last (reader, searcher, warm result)."""
        self.build()
        out = None
        for i in range(SETUPS):
            t0 = time.monotonic()
            with self.request(f"open-{i}", "open"):
                reader = self.IndexReader(self.spark, self.index_path)
                searcher = self.Searcher(reader)
            with self.request(f"warm-{i}", "warm"):
                extra = warm(searcher)
            self.setup_times.append(time.monotonic() - t0)
            if out is not None:
                release(out)
            out = (reader, searcher, extra)
        return out

    def warm_search(self, searcher):
        spec = self.qgen.spec("HighTerm")
        searcher.search(pages.to_filter(spec), k=K).collect()


def reference_job(spark):
    """A Spark job that uses none of the engine, shaped like the engine's
    kernel jobs: a shuffle into one group per core, a grouped
    ``applyInPandas`` in the Python workers, a ``collect``. The measured
    loops run it between requests, so the request's latency can be read
    against the speed of Spark on the same machine at the same moment."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 8 * n, numPartitions=n).withColumn("g", F.col("id") % n)
    return lambda: df.groupBy("g").applyInPandas(lambda pdf: pdf, "id long, g long").collect()


def release(state) -> None:
    _, searcher, extra = state
    if hasattr(extra, "unpersist"):
        extra.unpersist()
    searcher.unpersist()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def table_paths(meta: dict) -> list[str]:
    paths = []
    for v in meta["tables"].values():
        paths.extend(v if isinstance(v, list) else [v])
    return paths


def index_bytes(meta: dict) -> int:
    return sum(dir_bytes(p) for p in table_paths(meta))


def complete_index(path: str) -> bool:
    """A committed index whose tables are all in place (the meta holds
    absolute paths, so a moved index does not count)."""
    try:
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return False
    return all(os.path.exists(p) for p in table_paths(meta))


def text_bytes(pages_dir: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(pages_dir, columns=["text"])
    return int(pc.sum(pc.binary_length(t.column("text"))).as_py())


def check_sorted(rows, rid: str, run: Run) -> bool:
    scores = [r["score"] for r in rows]
    if len(rows) > K or any(a < b for a, b in zip(scores, scores[1:])):
        run.fail(f"{rid}: {len(rows)} rows or scores out of order")
        return False
    return True


def oracle_check(run: Run, oracle: Bm25Oracle, checks) -> None:
    """``checks``: (request id, spec, engine rows with doc_key)."""
    for rid, spec, rows in checks:
        if not check_sorted(rows, rid, run) or spec[0] not in pages.ORACLE_KINDS:
            continue
        got = [(r["doc_key"], float(r["score"])) for r in rows]
        err = compare_topk(got, oracle.top(spec, K), K, TOL)
        if err:
            run.fail(f"{rid} {spec}: {err}")


def closed_loop(seconds: float, step, pass_len: int = 1) -> None:
    """Call ``step(i)`` for i = 0, 1, ... in whole passes of ``pass_len`` calls
    until ``seconds`` have passed (at least one pass). Ending on a pass
    boundary keeps the measured mix the same however fast the requests are."""
    t0 = time.monotonic()
    i = 0
    while True:
        step(i)
        i += 1
        if i % pass_len == 0 and time.monotonic() - t0 >= seconds:
            return


# --------------------------------------------------------------------------
# interactive
# --------------------------------------------------------------------------


def interactive(run: Run) -> dict:
    """``search(f, k=10)`` with keys over the reference category mix, fresh
    seeded terms per request, categories in a fixed order, a reference job
    before every other request. The loop runs whole passes over the
    categories, so every run measures every category the same number of
    times."""
    reader, searcher, _ = run.setup(run.warm_search)
    checks = []
    lat = []

    def step(i):
        cat = pages.CATEGORIES[i % len(pages.CATEGORIES)]
        spec = run.qgen.spec(cat)
        if i % 2 == 0:  # ten reference samples per pass fit the run budget
            run.reference()
        res = run.timed_search(searcher, spec, f"search-{i}", cat)
        if res is not None:
            checks.append((f"search-{i}", spec, res[0]))
            lat.append(res[1])

    closed_loop(run.args.seconds, step, pass_len=len(pages.CATEGORIES))
    oracle = Bm25Oracle([os.path.join(run.pages_dir, "*.parquet")])
    try:
        oracle_check(run, oracle, checks)
    finally:
        oracle.close()
    run.report["search_p50_ms"] = median(lat) * 1e3 if lat else float("nan")
    run.report["searches_per_s"] = len(lat) / sum(lat) if lat else float("nan")
    release((reader, searcher, None))
    return {"latencies": lat, "reader": reader}


# --------------------------------------------------------------------------
# batch
# --------------------------------------------------------------------------

BATCH_PER_CATEGORY = 8
BATCH_CHECKS = 4  # batch categories checked against search() per run
# one category per kernel path: single term, conjunction, disjunction,
# min-match, multiterm expansion
BATCH_CATEGORIES = (
    "HighTerm", "LowTerm", "AndHighMed", "OrHighMed", "Or6High4Med2Low",
    "MinMatch2High2Med", "Prefix3", "Fuzzy1",
)


def batch_specs(run: Run) -> dict[str, tuple]:
    """The batch: ``BATCH_PER_CATEGORY`` plans of each batch category, each
    with its own seeded terms."""
    return {
        f"{cat}#{r}": run.qgen.spec(cat)
        for r in range(BATCH_PER_CATEGORY) for cat in BATCH_CATEGORIES
    }


def batch(run: Run) -> dict:
    """``prepare()`` once in set-up, then repeated ``execute(k=10).collect()``
    of the same batch of seeded plans, so per-segment kernel work dominates;
    a reference job before each execute."""
    specs = batch_specs(run)
    plans = {name: pages.to_filter(spec) for name, spec in specs.items()}

    def warm(searcher):
        prepared = searcher.prepare(plans)
        prepared.execute(k=K).collect()
        return prepared

    reader, searcher, prepared = run.setup(warm)
    lat = []
    last = {}

    def step(i):
        rid = f"execute-{i}"
        run.reference()
        run.attempted += 1
        try:
            with run.request(rid, "execute"):
                t0 = time.monotonic()
                rows = prepared.execute(k=K).collect()
                dt = time.monotonic() - t0
        except Exception as e:
            run.fail(f"{rid}: {type(e).__name__}: {e}")
            return
        lat.append(dt)
        run.executes.append((rid, dt))
        last["rows"] = rows

    closed_loop(run.args.seconds, step)
    # every plan of the last execute holds at most k rows; one seeded plan in
    # each of BATCH_CHECKS seeded categories must equal search() on the same
    # filter (other seeds check other categories)
    by_plan: dict[str, list] = {}
    for r in last.get("rows", []):
        by_plan.setdefault(r["query"], []).append((r["segment_id"], r["doc_id"], r["score"]))
    for name in plans:
        run.attempted += 1
        by_plan[name] = sorted(by_plan.get(name, []), key=lambda t: (-t[2], t[0], t[1]))
        if len(by_plan[name]) > K:
            run.fail(f"{name}: {len(by_plan[name])} rows")
    cats = run.rng.choice(BATCH_CATEGORIES, BATCH_CHECKS, replace=False)
    picks = run.rng.integers(0, BATCH_PER_CATEGORY, BATCH_CHECKS)
    for j, (cat, r) in enumerate(zip(cats, picks)):
        cat = str(cat)
        name = f"{cat}#{r}"
        res = run.timed_search(searcher, specs[name], f"check-{j}", cat, with_keys=False)
        if res is None:
            continue
        want = [(w["segment_id"], w["doc_id"], w["score"]) for w in res[0]]
        got = by_plan[name]
        if len(got) != len(want) or any(
            g[:2] != w[:2] or abs(g[2] - w[2]) > TOL * max(1.0, abs(w[2]))
            for g, w in zip(got, want)
        ):
            run.fail(f"{name} {specs[name]}: execute {got[:3]} != search {want[:3]}")
    n_plans = len(plans)
    run.report["batch_p50_ms"] = median(lat) * 1e3 if lat else float("nan")
    run.report["batch_plans_per_s"] = n_plans * len(lat) / sum(lat) if lat else float("nan")
    run.report["batch_plans"] = n_plans
    release((reader, searcher, prepared))
    return {"latencies": lat, "reader": reader}


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------

APPEND_PAGES = 500
DELETE_KEYS = 50
SEARCHES_PER_CYCLE = 6


def ingest(run: Run) -> dict:
    """Writes beside reads: after the timed builds, cycles of ``append`` of new
    seeded pages, ``delete_docs`` of seeded live keys, a reader reopen and a
    few searches; one ``consolidate`` ends the run."""
    from iresearch_spark.index.consolidate import consolidate
    from iresearch_spark.index.deletes import delete_docs

    reader, searcher, _ = run.setup(run.warm_search)
    release((reader, searcher, None))
    n0 = len(run.ranks)
    live = list(range(n0))
    deleted: list[str] = []
    sources = [os.path.join(run.pages_dir, "*.parquet")]
    append_s, delete_s, reopen_s, lat = [], [], [], []
    appended = 0
    state = {"reader": reader}

    def step(c):
        nonlocal appended
        first = n0 + c * APPEND_PAGES
        src = os.path.join(run.work, f"append-{c}")
        pages.write_pages(src, run.args.seed, first, APPEND_PAGES, files=2)
        with run.request(f"append-{c}", "append"):
            t0 = time.monotonic()
            run.IndexBuilder(run.spark, run.index_path, analyzer="simple", num_segments=2).append(
                run.spark.read.parquet(src), key_col="url", text_col="text"
            )
            append_s.append(time.monotonic() - t0)
        run.attempted += 1
        sources.append(os.path.join(src, "*.parquet"))
        live.extend(range(first, first + APPEND_PAGES))
        appended += APPEND_PAGES
        pick = sorted(run.rng.choice(len(live), DELETE_KEYS, replace=False), reverse=True)
        keys = [pages.page_key(live.pop(int(p))) for p in pick]
        rd = run.IndexReader(run.spark, run.index_path)
        with run.request(f"delete-{c}", "delete"):
            t0 = time.monotonic()
            delete_docs(rd, keys)
            delete_s.append(time.monotonic() - t0)
        run.attempted += 1
        run.deletes.append(f"delete-{c}")
        deleted.extend(keys)
        gone = set(deleted)
        with run.request(f"reopen-{c}", "reopen"):
            t0 = time.monotonic()
            rd = run.IndexReader(run.spark, run.index_path)
            srch = run.Searcher(rd)
            reopen_s.append(time.monotonic() - t0)
        for s in range(SEARCHES_PER_CYCLE):
            cat = pages.CATEGORIES[(c * SEARCHES_PER_CYCLE + s) % len(pages.CATEGORIES)]
            rid = f"search-{c}-{s}"
            run.reference()
            res = run.timed_search(srch, run.qgen.spec(cat), rid, cat)
            if res is None:
                continue
            lat.append(res[1])
            if check_sorted(res[0], rid, run) and any(r["doc_key"] in gone for r in res[0]):
                run.fail(f"{rid}: a deleted key was returned")
        srch.unpersist()
        state["reader"] = rd

    closed_loop(run.args.seconds, step)
    run.attempted += 1
    with run.request("consolidate", "consolidate"):
        t0 = time.monotonic()
        consolidate(state["reader"])
        consolidate_s = time.monotonic() - t0
    final = run.IndexReader(run.spark, run.index_path)
    docs = final.field_stats()["docs_with_field"]
    if docs != len(live):
        run.fail(f"after consolidate: {docs} docs, expected {len(live)}")
    # after the purge the index's stats are those of the live pages alone
    oracle = Bm25Oracle(sources, deleted)
    try:
        srch = run.Searcher(final)
        checks = []
        for j, cat in enumerate(("HighTerm", "LowTerm", "OrHighMed", "AndHighMed", "MedPhrase")):
            spec = run.qgen.spec(cat)
            res = run.timed_search(srch, spec, f"final-{j}", cat)
            if res is not None:
                checks.append((f"final-{j}", spec, res[0]))
        oracle_check(run, oracle, checks)
        srch.unpersist()
    finally:
        oracle.close()
    run.report.update(
        search_p50_ms=median(lat) * 1e3 if lat else float("nan"),
        append_docs_per_s=appended / sum(append_s),
        delete_p50_ms=median(delete_s) * 1e3,
        reopen_p50_ms=median(reopen_s) * 1e3,
        consolidate_s=consolidate_s,
        cycles=len(append_s),
    )
    return {"latencies": lat, "reader": final}


WORKLOADS = {"interactive": interactive, "batch": batch, "ingest": ingest}
