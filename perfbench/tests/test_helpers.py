"""Tests of the benchmark's own helpers; Spark is not needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # the benchmark's modules, then the engine

import pages  # noqa: E402
import workloads  # noqa: E402
from oracle import Bm25Oracle, compare_topk  # noqa: E402
from tracing import Tracer, group_summary, parse_event_log, tail_percentile, union_ms  # noqa: E402

# ---------------------------------------------------------------- percentiles


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(range(19)) is None
    assert tail_percentile(range(1, 21)) == (50, 10.0)  # rank 10, ten above it
    assert tail_percentile(range(1, 41)) == (75, 30.0)
    assert tail_percentile(range(1, 101)) == (90, 90.0)
    assert tail_percentile(range(1, 200)) == (90, 180.0)  # p95 would leave 9
    assert tail_percentile(range(1, 201)) == (95, 190.0)
    assert tail_percentile(range(1, 10_001)) == (99.9, 9990.0)


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0] * 10
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


# ------------------------------------------------------------------ event log


def _job_start(job, group, t, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, read=0, shuffle_read=0, shuffle_write=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms,
        "Input Metrics": {"Bytes Read": read},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
    }}


def _end(job, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t}


def _log():
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job_start(0, "req-1", 1000, [0, 1]),
        _task(0, 30, read=100, shuffle_write=7),
        _task(0, 10, read=50, shuffle_write=3),
        _task(1, 5, shuffle_read=10),
        _end(0, 1100),
        # overlapping second job of the same request; stage 3 is skipped
        _job_start(1, "req-1", 1050, [2, 3]),
        _task(2, 90),
        _task(2, 10),
        _task(2, 20),
        _end(1, 1200),
        _job_start(2, "req-2", 2000, [4]),
        _task(4, 8),
        _end(2, 2010),
        _job_start(3, None, 3000, [5]),  # no job group: not a request
        _task(5, 1),
        _end(3, 3001),
    ]
    return [json.dumps(e) for e in events]


def test_parse_event_log_groups_jobs_by_request():
    groups = parse_event_log(_log())
    assert sorted(groups) == ["req-1", "req-2"]
    assert [j["id"] for j in groups["req-1"]] == [0, 1]
    assert sorted(groups["req-1"][1]["stages"]) == [2]  # skipped stage 3 absent


def test_group_summary_counts_and_times():
    s = group_summary(parse_event_log(_log())["req-1"])
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 3, 6)
    assert s["job_ms"] == 200  # union of [1000,1100] and [1050,1200]
    assert s["task_run_ms"] == 165
    assert s["input_bytes"] == 150
    assert s["shuffle_bytes"] == 20
    assert s["skew"] == pytest.approx(90 / 20)  # stage 2: max 90, median 20


def test_group_summary_of_no_jobs():
    s = group_summary([])
    assert (s["jobs"], s["stages"], s["tasks"], s["job_ms"]) == (0, 0, 0, 0)


def test_union_ms():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(20, 25), (0, 10), (2, 3)]) == 15


def test_tracer_spans_nest_and_share_request():
    tr = Tracer(True)
    with tr.span("search", request="r1"):
        with tr.span("collect"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["request"] == "r1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = Tracer(False)
    with off.span("search", request="r1"):
        pass
    assert off.spans == []


# --------------------------------------------------------------------- oracle

TEXTS = {
    "d1": "Open source, fast engine",
    "d2": "open source",
    "d3": "closed source SOURCE",
    "d4": "fast open",
}


def _bm25(term_sets, docs, need=1):
    """Reference BM25 straight from the formula, over TEXTS."""
    toks = {d: [t for t in re.split("[^a-z0-9]+", s.lower()) if t] for d, s in docs.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for d, ts in toks.items():
        score, hit = 0.0, 0
        for t in term_sets:
            tf = ts.count(t)
            if tf:
                df = sum(1 for v in toks.values() if t in v)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                score += 2.2 * idf * tf / (1.2 * 0.25 + 1.2 * 0.75 * len(ts) / avgdl + tf)
                hit += 1
        if hit >= need:
            out[d] = score
    return out


@pytest.fixture()
def oracle(tmp_path):
    pq.write_table(pa.table({"url": list(TEXTS), "text": list(TEXTS.values())}),
                   tmp_path / "p.parquet")
    o = Bm25Oracle([str(tmp_path / "p.parquet")])
    yield o
    o.close()


@pytest.mark.parametrize(
    "spec,terms,need",
    [
        (("term", "source"), ["source"], 1),
        (("and", ("open", "fast")), ["open", "fast"], 2),
        (("or", ("open", "closed", "engine"), 1), ["open", "closed", "engine"], 1),
        (("or", ("open", "source", "fast"), 2), ["open", "source", "fast"], 2),
    ],
)
def test_oracle_matches_reference_bm25(oracle, spec, terms, need):
    want = _bm25(terms, TEXTS, need)
    got = dict(oracle.top(spec, 10))
    assert got.keys() == want.keys()
    for d, s in want.items():
        assert got[d] == pytest.approx(s, rel=1e-12)


def test_oracle_phrase_uses_phrase_df_and_count(oracle):
    got = dict(oracle.top(("phrase", ("open", "source")), 10))
    assert sorted(got) == ["d1", "d2"]
    n, avgdl = 4, (4 + 2 + 3 + 2) / 4
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    assert got["d2"] == pytest.approx(2.2 * idf / (0.3 + 0.9 * 2 / avgdl + 1))
    assert oracle.top(("phrase", ("source", "open")), 10) == []


def test_oracle_leaves_deleted_pages_out(tmp_path):
    pq.write_table(pa.table({"url": list(TEXTS), "text": list(TEXTS.values())}),
                   tmp_path / "p.parquet")
    o = Bm25Oracle([str(tmp_path / "p.parquet")], deleted=["d3"])
    try:
        got = dict(o.top(("term", "source"), 10))
    finally:
        o.close()
    assert got.keys() == {"d1", "d2"}
    rest = {d: t for d, t in TEXTS.items() if d != "d3"}
    assert got["d2"] == pytest.approx(_bm25(["source"], rest)["d2"])


def test_oracle_keeps_ties_at_the_cut(oracle):
    # "open" scores d2 and d4 alike (length 2, tf 1)
    top1 = oracle.top(("term", "open"), 1)
    assert [d for d, _ in top1] == ["d2", "d4"]


def test_compare_topk_accepts_either_tie_order():
    want = [("a", 3.0), ("b", 2.0), ("c", 2.0)]
    assert compare_topk([("a", 3.0), ("c", 2.0)], want, 2) is None
    assert compare_topk([("a", 3.0), ("b", 2.0)], want, 2) is None
    assert compare_topk([("a", 3.0)], want, 2) is not None  # too few rows
    assert compare_topk([("a", 3.0), ("d", 2.0)], want, 2) is not None  # not a match
    assert compare_topk([("a", 3.0), ("b", 2.5)], want, 2) is not None  # wrong score
    assert compare_topk([("a", 3.0 + 1e-9), ("b", 2.0)], want, 2) is None  # within tol


# ---------------------------------------------------------------------- pages


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = pages.write_pages(str(tmp_path / "a"), 5, 0, 50, files=2)
    b = pages.write_pages(str(tmp_path / "b"), 5, 0, 50, files=3)
    assert all((x == y).all() for x, y in zip(a, b))
    ta = pq.read_table(str(tmp_path / "a")).sort_by("url")
    tb = pq.read_table(str(tmp_path / "b")).sort_by("url")
    assert ta.equals(tb)
    qa = [pages.QueryGen(a, 5).spec(c) for c in pages.CATEGORIES]
    qb = [pages.QueryGen(b, 5).spec(c) for c in pages.CATEGORIES]
    assert qa == qb
    c = pages.write_pages(str(tmp_path / "c"), 6, 0, 50, files=2)
    assert not all(len(x) == len(y) and (x == y).all() for x, y in zip(a, c))
    # an append range continues the same stream: pages 20.. of one corpus
    d = pages.write_pages(str(tmp_path / "d"), 5, 20, 30, files=1)
    assert all((x == y).all() for x, y in zip(a[20:], d))


def test_cached_index_is_used_only_when_complete(tmp_path):
    idx = tmp_path / "index"
    assert not workloads.complete_index(str(idx))
    (idx / "gen=1" / "postings").mkdir(parents=True)
    tables = {"postings": str(idx / "gen=1" / "postings"), "docs": [str(idx / "gen=1" / "docs")]}
    (idx / "meta.json").write_text(json.dumps({"tables": tables}))
    assert not workloads.complete_index(str(idx))  # the docs table is missing
    (idx / "gen=1" / "docs").mkdir()
    assert workloads.complete_index(str(idx))
