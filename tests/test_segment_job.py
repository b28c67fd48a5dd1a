"""The segment-task launcher (``Searcher._segment_job``) and what rides on it.

* Packing: every live segment lands in exactly one of
  ``P = min(#live, defaultParallelism)`` task groups, sparse ids after
  ``consolidate`` included.
* Spark-free differential over a vocabulary: the pyarrow filter of a prefix
  or range tail spec selects exactly the terms ``spec_match`` accepts; a
  wildcard's selects a superset of them.
* A batch repeating one overflowing multiterm node scans its tail spec once.
* Fuzzy over an empty-string vocabulary term matches and scores finite.
* The merge's input: each segment kernel emits at most k rows per
  (segment, query) — k + 16 for an ``exact_df`` root phrase — under both
  placements.
* Two Searchers and two prepared batches over one index share nothing in
  Spark: releasing one leaves the other's ``execute`` at one job, and no
  search-path call creates a Spark broadcast.
* A segment's tail-spec keys (``_SegmentViews.spec_keys``) are exactly the
  keys ``spec_match`` accepts, plain and ``field\\x1fterm`` composite.
* The per-generation norms and deletes state (``_SEGMENT_STATE``) never
  serves a stale generation: after append, delete and consolidate a fresh
  reader's rows equal an uncached evaluation's under both placements, a
  reader pinned to an older generation still reads its own, and one
  generation per index directory is held.
"""

from __future__ import annotations

import math
import uuid

import numpy as np
import pyarrow as pa
import pytest
from pyspark import SparkContext

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index.consolidate import consolidate
from iresearch_spark.index.deletes import delete_docs
from iresearch_spark.search import executor
from iresearch_spark.search.executor import (
    compile_plans,
    pack_segments,
    spec_filter,
    spec_match,
)

WORDS = ["spark", "span", "spin", "scan", "sort", "slow", "fast", "hash", "join", "merge"]


def _jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"segjob-{uuid.uuid4()}"
    sc.setJobGroup(gid, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _docs(spark, prefix: str, n: int, seed: int):
    rng = np.random.default_rng(seed)
    rows = [
        (f"{prefix}{i:04d}", " ".join(rng.choice(WORDS, size=int(rng.integers(3, 12)))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_key string, text string")


@pytest.fixture(scope="module")
def seg_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segjob"))
    IndexBuilder(spark, path, num_segments=3).build(
        _docs(spark, "d", 180, 3), key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


# --------------------------------------------------------------------------
# packing
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "counts,p",
    [
        ({0: 5}, 1),
        ({0: 10, 4: 3}, 2),
        ({i: 100 - i for i in range(8)}, 4),
        ({i: 1 + (i * 37) % 11 for i in range(3, 300, 7)}, 6),
    ],
)
def test_pack_segments_covers_each_segment_once(counts, p):
    groups = pack_segments(counts, p)
    assert len(groups) == p
    flat = [sid for g in groups for sid in g]
    assert sorted(flat) == sorted(counts)  # every segment exactly once
    loads = [sum(counts[s] for s in g) for g in groups]
    # greedy largest-first: no group exceeds the lightest by more than the
    # largest single segment
    assert max(loads) - min(loads) <= max(counts.values())


def test_segment_groups_cover_sparse_live_ids(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segjob_sparse"))
    IndexBuilder(spark, path, num_segments=5).build(
        _docs(spark, "c", 200, 4), key_col="doc_key", text_col="text"
    )
    before = Searcher(IndexReader(spark, path)).search(flt.Term("spark"), k=500).collect()
    consolidate(IndexReader(spark, path), [0, 1, 2, 3])  # merged into id 0
    reader = IndexReader(spark, path)
    live = sorted(reader.segment_docs_counts())
    assert live == [0, 4]
    s = Searcher(reader)
    groups = s._segment_groups()
    assert len(groups) == min(len(live), spark.sparkContext.defaultParallelism)
    assert sorted(sid for g in groups for sid in g) == live
    after = s.search(flt.Term("spark"), k=500).collect()
    assert sorted(r["doc_key"] for r in after) == sorted(r["doc_key"] for r in before)
    assert {r["segment_id"] for r in after} <= set(live)


# --------------------------------------------------------------------------
# Spark-free: pyarrow spec filters vs spec_match
# --------------------------------------------------------------------------

_VOCAB = sorted(
    {
        "", "a", "ab", "abc", "abd", "abz", "ac", "b", "ba", "x%y", "x_y", "xay",
        "a\\b", "zz", "\U0010ffff", "a\U0010ffff", "a\U0010ffffb", "пуй", "проглот",
        "line\nbreak", "ab%", "ab\\%",
    }
    | {
        "".join(np.random.default_rng(i).choice(list("abcxyz"), size=1 + i % 5))
        for i in range(300)
    }
)

_SPECS = [
    ("prefix", ""), ("prefix", "a"), ("prefix", "ab"), ("prefix", "abz"),
    ("prefix", "\U0010ffff"), ("prefix", "a\U0010ffff"), ("prefix", "п"),
    ("prefix", "q"),
    ("range", None, None, True, True), ("range", "a", "b", True, False),
    ("range", "a", "b", False, True), ("range", "ab", "ab", True, True),
    ("range", "ab", "ab", False, True), ("range", None, "b", True, True),
    ("range", "x", None, False, False), ("range", "c", "a", True, True),
]
_WILDCARDS = [
    ("wildcard", "a%"), ("wildcard", "%b"), ("wildcard", "a_c"), ("wildcard", "_"),
    ("wildcard", "%"), ("wildcard", "x\\%y"), ("wildcard", "x\\_y"), ("wildcard", "ab\\%"),
    ("wildcard", "a\\\\b"), ("wildcard", "abc"), ("wildcard", "line%"), ("wildcard", "п%т"),
]


def _selected(spec) -> set[str]:
    table = pa.table({"term": pa.array(_VOCAB, pa.string())})
    return set(table.filter(spec_filter(spec)).column("term").to_pylist())


@pytest.mark.parametrize("spec", _SPECS, ids=repr)
def test_spec_filter_selects_exactly_spec_match(spec):
    assert _selected(spec) == {t for t in _VOCAB if spec_match(spec, t)}


@pytest.mark.parametrize("spec", _WILDCARDS, ids=repr)
def test_wildcard_spec_filter_selects_superset(spec):
    want = {t for t in _VOCAB if spec_match(spec, t)}
    assert want <= _selected(spec)


@pytest.mark.parametrize("spec", _SPECS + _WILDCARDS, ids=repr)
def test_segment_spec_keys_equal_spec_match(spec):
    # the segment's rows mix plain keys and another field's composites; the
    # composite-keyed tail of field "f" sees only its own field's terms
    sep = executor.FIELD_SEP
    keys = _VOCAB + [f"f{sep}{t}" for t in _VOCAB[::2]] + [f"g{sep}{t}" for t in _VOCAB[1::2]]
    order = np.random.default_rng(0).permutation(len(keys))
    n = len(keys)
    sv = executor._SegmentViews(
        pa.table(
            {
                "term": pa.array([keys[i] for i in order], pa.string()),
                "doc_ids_enc": pa.array([b"\x01"] * n, pa.binary()),
                "freqs_enc": pa.array([b"\x01"] * n, pa.binary()),
            }
        )
    )
    assert sorted(sv.spec_keys("", spec)) == sorted(t for t in _VOCAB if spec_match(spec, t))
    assert sorted(sv.spec_keys(f"f{sep}", spec)) == sorted(
        f"f{sep}{t}" for t in _VOCAB[::2] if spec_match(spec, t)
    )


# --------------------------------------------------------------------------
# tail specs are scanned once per batch
# --------------------------------------------------------------------------


def test_repeated_prefix_tail_spec_scanned_once(seg_index):
    node = flt.Prefix("s", scored_terms_limit=1)  # overflows: 6 "s" words
    plans, scan = compile_plans(
        {"a": node, "b": node, "c": flt.Or((node, flt.Term("hash")))}, seg_index
    )
    assert scan.field_specs == {seg_index.default_field: [("prefix", "s")]}
    assert all(p.get("unscored_spec") == ("prefix", "s") for p in (plans["a"], plans["b"]))
    s = Searcher(seg_index)
    rows = s.search_many({"a": node, "b": node}, k=200).collect()
    by = {
        q: sorted((r["segment_id"], r["doc_id"]) for r in rows if r["query"] == q)
        for q in "ab"
    }
    assert by["a"] == by["b"] and len(by["a"]) == s.matches(node).count()


# --------------------------------------------------------------------------
# fuzzy over an empty-string term
# --------------------------------------------------------------------------


def test_fuzzy_empty_vocabulary_term_scores_finite(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segjob_fuzzy_empty"))
    df = spark.createDataFrame(
        [("k1", ""), ("k2", "ab"), ("k3", "abc"), ("k4", "b")], "doc_key string, name string"
    )
    IndexBuilder(spark, path, num_segments=2).build(
        df, key_col="doc_key", fields=(("name", "name", "norm:none"),)
    )
    f = flt.Fuzzy("ab", max_distance=2)
    rows = Searcher(IndexReader(spark, path)).search(f, k=10).collect()
    assert "k1" in {r["doc_key"] for r in rows}  # "" is within 2 edits of "ab"
    assert all(math.isfinite(r["score"]) for r in rows), rows


# --------------------------------------------------------------------------
# the merge's input bound
# --------------------------------------------------------------------------


def test_batch_kernel_per_segment_topk_bound(seg_index, monkeypatch):
    # the invariant the driver merge's size rests on: each segment kernel
    # emits at most k rows per (segment_id, query), k + 16 for an exact_df
    # root phrase (its idf is bound at the merge)
    merged_inputs = []
    driver_topk = executor._driver_topk

    def spy(pdf, k, by=None):
        merged_inputs.append(pdf)
        return driver_topk(pdf, k, by)

    monkeypatch.setattr(executor, "_driver_topk", spy)
    k = 3
    batch = {"qa": flt.Term("spark"), "qb": flt.Prefix("s"), "qp": flt.Phrase(("spark", "scan"))}
    for max_postings in (1 << 62, -1):
        s = Searcher(seg_index)
        s.DRIVER_MAX_POSTINGS = max_postings
        rows = s.search_many(batch, k=k).collect()
        per_segment = merged_inputs.pop().groupby(["query", "segment_id"]).size()
        assert per_segment["qa"].max() == per_segment["qb"].max() == k
        assert 0 < per_segment["qp"].max() <= k + 16
        for q in batch:
            assert 0 < sum(r["query"] == q for r in rows) <= k


# --------------------------------------------------------------------------
# no Spark state shared between Searchers or batches
# --------------------------------------------------------------------------


def test_released_searcher_does_not_slow_another_batch(spark, seg_index):
    batch = {
        "t": flt.Term("spark"),
        "o": flt.Or((flt.Term("scan"), flt.Term("hash"))),
        "p": flt.Prefix("s"),
    }
    a, b = Searcher(seg_index), Searcher(seg_index)
    a.DRIVER_MAX_POSTINGS = b.DRIVER_MAX_POSTINGS = -1  # the Spark placement
    pa_, pb = a.prepare(batch), b.prepare(batch)
    first = pa_.execute(k=10).collect()
    want = pb.execute(k=10).collect()
    assert [tuple(r) for r in first] == [tuple(r) for r in want]
    pa_.unpersist()
    a.unpersist()
    got = []
    n_jobs = _jobs_of(spark, lambda: got.extend(pb.execute(k=10).collect()))
    assert n_jobs == 1, n_jobs
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    pb.unpersist()
    b.unpersist()


def test_search_paths_create_no_broadcast(spark, tmp_path_factory, monkeypatch):
    offs = str(tmp_path_factory.mktemp("segjob_offs"))
    IndexBuilder(spark, offs, num_segments=2, with_offsets=True).build(
        _docs(spark, "o", 40, 5), key_col="doc_key", text_col="text"
    )
    pays = str(tmp_path_factory.mktemp("segjob_pays"))
    df = spark.createDataFrame(
        [("p1", "scan|1 hash|2 scan|3"), ("p2", "hash|4 scan|5"), ("p3", "join|6")],
        "doc_key string, text string",
    )
    IndexBuilder(spark, pays, analyzer="payload:|", num_segments=2, with_payloads=True).build(
        df, key_col="doc_key", text_col="text"
    )
    calls = []
    broadcast = SparkContext.broadcast

    def counting(self, value):
        calls.append(type(value).__name__)
        return broadcast(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    batch = {"t": flt.Term("spark"), "o": flt.Or((flt.Term("scan"), flt.Term("hash")))}
    for max_postings in (1 << 62, -1):
        s = Searcher(IndexReader(spark, offs))
        s.DRIVER_MAX_POSTINGS = max_postings
        assert s.search(flt.Term("spark"), k=10).collect()
        for _ in range(3):
            assert s.search_many(batch, k=10).collect()
        prepared = s.prepare(batch)
        assert prepared.execute(k=10).collect()
        assert s.matches(flt.Term("scan")).collect()
        assert s.highlight(flt.Term("scan"), k=5).collect()
        p = Searcher(IndexReader(spark, pays))
        p.DRIVER_MAX_POSTINGS = max_postings
        assert p.payloads(flt.Term("scan"), k=5).collect()
    assert calls == []


# --------------------------------------------------------------------------
# the per-generation norms and deletes state
# --------------------------------------------------------------------------

_STATE_QUERIES = {
    "t": flt.Term("spark"),
    "o": flt.Or((flt.Term("scan"), flt.Term("hash"), flt.Term("join"))),
    "a": flt.And((flt.Term("sort"), flt.Term("fast"))),
    "p": flt.Prefix("s", scored_terms_limit=2),
    "ph": flt.Phrase(("spark", "scan")),
}


def _placed_rows(reader, max_postings) -> list:
    s = Searcher(reader)
    s.DRIVER_MAX_POSTINGS = max_postings
    return [tuple(r) for r in s.search_many(_STATE_QUERIES, k=40).collect()]


def _uncached_rows(reader) -> list:
    """The rows of a process that has never read the index: the driver
    placement with an empty state."""
    held = dict(executor._SEGMENT_STATE)
    executor._SEGMENT_STATE.clear()
    try:
        return _placed_rows(reader, 1 << 62)
    finally:
        executor._SEGMENT_STATE.clear()
        executor._SEGMENT_STATE.update(held)


def test_generation_state_never_stale(spark, tmp_path_factory):
    import os

    path = str(tmp_path_factory.mktemp("segjob_state"))
    IndexBuilder(spark, path, num_segments=3).build(
        _docs(spark, "s", 150, 5), key_col="doc_key", text_col="text"
    )
    key = os.path.abspath(path)
    first = IndexReader(spark, path)
    first_rows = _uncached_rows(first)
    steps = [
        lambda r: IndexBuilder(spark, path, num_segments=2).append(
            _docs(spark, "n", 80, 6), key_col="doc_key", text_col="text"
        ),
        lambda r: delete_docs(r, [f"s{i:04d}" for i in range(0, 150, 3)]),
        lambda r: delete_docs(r, [f"n{i:04d}" for i in range(0, 80, 4)]),
        lambda r: consolidate(r),
    ]
    reader = first
    for step in steps:
        for max_postings in (1 << 62, -1):
            _placed_rows(reader, max_postings)  # the state now holds this generation
        step(reader)
        reader = IndexReader(spark, path)
        want = _uncached_rows(reader)
        for max_postings in (1 << 62, -1):
            assert _placed_rows(reader, max_postings) == want
        assert executor._SEGMENT_STATE[key][0] == reader.meta["generation"]
    # a reader pinned to the first generation reads its own norms and
    # deletes, uncached, and the newest generation stays held
    for max_postings in (1 << 62, -1):
        assert _placed_rows(first, max_postings) == first_rows
    assert executor._SEGMENT_STATE[key][0] == reader.meta["generation"]


def test_generation_state_filled_by_racing_searches(spark, tmp_path_factory, monkeypatch):
    # driver-placed searches from more threads than cores fill one cold
    # state together; a slow deletes read keeps the first filler inside it
    # while the others arrive, and none may see a segment's norms without
    # its deletes
    import threading
    import time

    path = str(tmp_path_factory.mktemp("segjob_race"))
    IndexBuilder(spark, path, num_segments=3).build(
        _docs(spark, "r", 150, 7), key_col="doc_key", text_col="text"
    )
    delete_docs(IndexReader(spark, path), [f"r{i:04d}" for i in range(0, 150, 2)])
    reader = IndexReader(spark, path)
    want = _uncached_rows(reader)
    read_frame = executor.read_frame

    def slow_read_frame(paths, columns, pred=None):
        if columns == ["segment_id", "doc_id"]:  # the deletes read
            time.sleep(0.2)
        return read_frame(paths, columns, pred)

    monkeypatch.setattr(executor, "read_frame", slow_read_frame)
    executor._SEGMENT_STATE.clear()
    got = []

    def search(delay):
        time.sleep(delay)
        got.append(_placed_rows(reader, 1 << 62))

    threads = [threading.Thread(target=search, args=(0.05 * i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 8 and all(rows == want for rows in got)
