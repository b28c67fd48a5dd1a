"""Keyed ``search()``: per-segment kernel rows merged on the driver, doc keys
fetched from the docs table with pyarrow (``IndexReader.fetch_docs``).

* Parity: every scored filter kind × {keyed, unkeyed, keyed float32} × four
  index states (fresh build; after ``append``, when the docs table is a list
  of paths; after ``delete_docs``; after ``consolidate``, whose docs parts
  Spark writes) returns exactly the answers in
  ``fixtures/keyed_search_answers.json``. Those were recorded from the engine
  whose ``search()`` took its top-k with a Spark ``orderBy.limit`` and
  attached keys with a broadcast join of the docs table. Same
  (doc_key, segment_id, doc_id) sequence, scores within rel 1e-12.
  Re-record with ``python -m tests.test_keyed_search --record`` (run from the
  repo root) when a scoring change is intended.
* Job floor: a keyed Term search runs ≤ 2 Spark jobs, a keyed Phrase ≤ 3.
* The driver merge and the Window fallback on either side of
  ``BATCH_MERGE_MAX`` return identical keyed rows.
"""

from __future__ import annotations

import json
import math
import os
import sys
import uuid

import numpy as np
import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index.consolidate import consolidate
from iresearch_spark.index.deletes import delete_docs

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "keyed_search_answers.json")
WORDS = [
    "spark", "index", "query", "term", "merge", "shard", "scan", "sort",
    "fast", "slow", "table", "value", "hash", "join", "group", "window",
]
K = 10
FILTERS = {
    "term": flt.Term("spark"),
    "and": flt.And((flt.Term("spark"), flt.Term("index"))),
    "or": flt.Or((flt.Term("scan"), flt.Term("hash"), flt.Term("window"))),
    "prefix": flt.Prefix("s"),
    "fuzzy": flt.Fuzzy("spork", max_distance=1),
    "phrase": flt.Phrase(("spark", "index")),
    "same_position": flt.SamePosition(("scan", "seek0")),
    "ngram_similarity": flt.NgramSimilarity(("spark", "index", "query"), threshold=0.6),
}
VARIANTS = {"keyed": (True, "float64"), "unkeyed": (False, "float64"), "keyed_f32": (True, "float32")}
STATES = ("built", "appended", "deleted", "consolidated")


def _corpus(prefix: str, n: int, seed: int) -> list[tuple[str, str]]:
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(WORDS) + 1) ** 1.1
    p /= p.sum()
    return [
        (f"{prefix}{i:04d}", " ".join(rng.choice(WORDS, size=int(rng.integers(4, 40)), p=p)))
        for i in range(n)
    ]


def _answers(reader) -> dict[str, list]:
    s = Searcher(reader)
    out = {}
    for fname, f in FILTERS.items():
        for vname, (with_keys, dtype) in VARIANTS.items():
            rows = s.search(f, k=K, dtype=dtype, with_keys=with_keys).collect()
            out[f"{fname}/{vname}"] = [
                [r["doc_key"] if with_keys else None, r["segment_id"], r["doc_id"], r["score"]]
                for r in rows
            ]
    s.unpersist()
    return out


def _walk_states(spark, path: str) -> dict[str, dict]:
    """Answers of every case in each index state, reached in order."""
    df = spark.createDataFrame(_corpus("d", 240, 11), "doc_key string, text string")
    builder = IndexBuilder(spark, path, analyzer="simple+syn:scan=seek0", num_segments=3)
    builder.build(df, key_col="doc_key", text_col="text")
    got = {"built": _answers(IndexReader(spark, path))}
    builder.append(spark.createDataFrame(_corpus("e", 80, 12), "doc_key string, text string"))
    reader = IndexReader(spark, path)
    assert isinstance(reader.meta["tables"]["docs"], list)  # keys come from several paths
    got["appended"] = _answers(reader)
    delete_docs(IndexReader(spark, path), [f"d{i:04d}" for i in range(0, 240, 9)])
    got["deleted"] = _answers(IndexReader(spark, path))
    consolidate(IndexReader(spark, path))
    got["consolidated"] = _answers(IndexReader(spark, path))
    return got


@pytest.fixture(scope="module")
def walked(spark, tmp_path_factory):
    return _walk_states(spark, str(tmp_path_factory.mktemp("keyed")))


@pytest.fixture(scope="module")
def recorded():
    with open(FIXTURE) as fh:
        return json.load(fh)


@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("variant", sorted(VARIANTS))
@pytest.mark.parametrize("fname", sorted(FILTERS))
def test_keyed_search_matches_recorded_answers(walked, recorded, state, variant, fname):
    case = f"{fname}/{variant}"
    exp = recorded[state][case]
    got = walked[state][case]
    assert exp, f"{state} {case}: recorded answer is empty"
    assert [r[:3] for r in got] == [r[:3] for r in exp]
    for g, e in zip(got, exp):
        assert math.isclose(g[3], e[3], rel_tol=1e-12, abs_tol=0.0), (state, case, g, e)


# --------------------------------------------------------------------------
# job floor and the BATCH_MERGE_MAX gate
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("keyed_small"))
    df = spark.createDataFrame(_corpus("s", 150, 5), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=3).build(df, key_col="doc_key", text_col="text")
    return IndexReader(spark, path)


def _jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"keyed-{uuid.uuid4()}"
    sc.setJobGroup(gid, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_keyed_term_and_phrase_job_floor(spark, small_index):
    s = Searcher(small_index)
    # warm the reader's vocabulary/stats and the persisted norms first
    s.search(flt.Term("index"), k=K).collect()
    s.search(flt.Phrase(("index", "spark")), k=K).collect()
    n_term = _jobs_of(spark, lambda: s.search(flt.Term("spark"), k=K).collect())
    n_phrase = _jobs_of(spark, lambda: s.search(flt.Phrase(("spark", "index")), k=K).collect())
    s.unpersist()
    assert 1 <= n_term <= 2, n_term
    assert 1 <= n_phrase <= 3, n_phrase


def test_keyed_search_identical_across_merge_gate(small_index):
    k = 7
    s_driver = Searcher(small_index)
    s_window = Searcher(small_index)
    s_window.BATCH_MERGE_MAX = 0  # force the distributed Window fallback
    assert 3 * k <= s_driver.BATCH_MERGE_MAX  # default: driver merge
    for f in (
        flt.Term("spark"),
        flt.Or((flt.Term("scan"), flt.Term("merge"))),
        flt.And((flt.Term("sort"), flt.Term("query"))),
        flt.Prefix("s"),
    ):
        for with_keys in (True, False):
            a = [tuple(r) for r in s_driver.search(f, k=k, with_keys=with_keys).collect()]
            b = [tuple(r) for r in s_window.search(f, k=k, with_keys=with_keys).collect()]
            assert a == b and 0 < len(a) <= k, f
    s_driver.unpersist()
    s_window.unpersist()


if __name__ == "__main__" and sys.argv[1:2] == ["--record"]:
    # python -m tests.test_keyed_search --record [out.json]
    import tempfile

    from iresearch_spark.session import get_spark

    spark = get_spark("keyed_search_record", master="local[4]", shuffle_partitions=4)
    with tempfile.TemporaryDirectory() as tmp:
        answers = _walk_states(spark, os.path.join(tmp, "idx"))
    spark.stop()
    with open(sys.argv[2] if len(sys.argv) > 2 else FIXTURE, "w") as fh:
        json.dump(answers, fh, indent=1)
        fh.write("\n")
