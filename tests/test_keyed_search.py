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
  repo root) when a scoring change is intended. Every case is run under both
  kernel placements, each forced through ``Searcher.DRIVER_MAX_POSTINGS``:
  the rows must be identical, and equal to the recorded answers.
* Local results: every such result is a ``_LocalResult`` whose
  ``collect``/``toPandas``/``count``/``take``/``first``/``columns``/``schema``
  answer exactly (value types and pandas dtypes included) like the same rows
  materialized through its Spark plan — every case, state and placement,
  plus a ``PreparedBatch`` (empty too) and a ``search_ordered`` result. A
  driver-placed search or batch execute collects with ``createDataFrame``
  patched to raise and no Spark job; Spark operations on a result (select,
  where, join, orderBy, show) match the materialized frame's.
* Job floor: on the Spark placement a keyed Term search and a keyed Phrase
  search each run one Spark job, and so does a two-scorer
  ``search_ordered``; on the driver placement none of them runs a job, nor
  do a one-scorer ``search_ordered``, ``search(All())``, ``highlight`` and
  ``payloads``. The last two give the same rows under both placements, and
  their results answer like Spark's too.
* Placement choice: a batch planning more postings than
  ``DRIVER_MAX_POSTINGS`` runs one Spark job, a batch at the constant runs
  none and returns the same rows.
"""

from __future__ import annotations

import json
import math
import os
import sys
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame, functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index.consolidate import consolidate
from iresearch_spark.index.deletes import delete_docs
from iresearch_spark.search.executor import _LocalResult

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
#: DRIVER_MAX_POSTINGS forcing each kernel placement (planned postings ≥ 0)
PLACEMENTS = {"driver": 1 << 62, "spark": -1}


def _corpus(prefix: str, n: int, seed: int) -> list[tuple[str, str]]:
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(WORDS) + 1) ** 1.1
    p /= p.sum()
    return [
        (f"{prefix}{i:04d}", " ".join(rng.choice(WORDS, size=int(rng.integers(4, 40)), p=p)))
        for i in range(n)
    ]


def _searcher(reader, placement: str) -> Searcher:
    s = Searcher(reader)
    s.DRIVER_MAX_POSTINGS = PLACEMENTS[placement]
    return s


def _views(df) -> dict:
    """What a result answers: its rows (with field names and value types),
    pandas frame, count, first rows, columns and schema."""
    rows = df.collect()
    return {
        "rows": rows,
        "types": [(list(r.__fields__), [type(v) for v in r]) for r in rows],
        "pandas": df.toPandas(),
        "count": df.count(),
        "take3": df.take(3),
        "first": df.first(),
        "columns": df.columns,
        "schema": df.schema,
    }


def _local_and_spark_views(res) -> tuple[dict, dict]:
    """A driver-merged result's own answers, then those of the same rows
    materialized through its Spark plan."""
    assert isinstance(res, _LocalResult)
    local = _views(res)
    return local, _views(DataFrame(res._jdf, res.sparkSession))


def _assert_same_views(local: dict, materialized: dict) -> None:
    local, materialized = dict(local), dict(materialized)
    pd.testing.assert_frame_equal(local.pop("pandas"), materialized.pop("pandas"))
    assert local == materialized


def _rows(views: dict) -> list[list]:
    return [
        [r["doc_key"] if "doc_key" in r else None, r["segment_id"], r["doc_id"], r["score"]]
        for r in views["rows"]
    ]


def _answers(reader, placement: str = "spark") -> dict[str, tuple[dict, dict]]:
    s = _searcher(reader, placement)
    out = {}
    for fname, f in FILTERS.items():
        for vname, (with_keys, dtype) in VARIANTS.items():
            res = s.search(f, k=K, dtype=dtype, with_keys=with_keys)
            out[f"{fname}/{vname}"] = _local_and_spark_views(res)
    s.unpersist()
    return out


def _walk_states(spark, path: str, placements=("spark",)) -> dict[str, dict]:
    """Views (:func:`_local_and_spark_views`) of every case in each index
    state, reached in order: ``{placement: {state: {case: views}}}``."""
    got: dict[str, dict] = {p: {} for p in placements}

    def answer(state: str) -> None:
        for p in placements:
            got[p][state] = _answers(IndexReader(spark, path), p)

    df = spark.createDataFrame(_corpus("d", 240, 11), "doc_key string, text string")
    builder = IndexBuilder(spark, path, analyzer="simple+syn:scan=seek0", num_segments=3)
    builder.build(df, key_col="doc_key", text_col="text")
    answer("built")
    builder.append(spark.createDataFrame(_corpus("e", 80, 12), "doc_key string, text string"))
    assert isinstance(IndexReader(spark, path).meta["tables"]["docs"], list)  # keys from several paths
    answer("appended")
    delete_docs(IndexReader(spark, path), [f"d{i:04d}" for i in range(0, 240, 9)])
    answer("deleted")
    consolidate(IndexReader(spark, path))
    answer("consolidated")
    return got


@pytest.fixture(scope="module")
def walked(spark, tmp_path_factory):
    return _walk_states(spark, str(tmp_path_factory.mktemp("keyed")), tuple(PLACEMENTS))


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
    assert exp, f"{state} {case}: recorded answer is empty"
    got = _rows(walked["spark"][state][case][0])
    assert _rows(walked["driver"][state][case][0]) == got  # both placements: identical rows
    assert [r[:3] for r in got] == [r[:3] for r in exp]
    for g, e in zip(got, exp):
        assert math.isclose(g[3], e[3], rel_tol=1e-12, abs_tol=0.0), (state, case, g, e)


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("variant", sorted(VARIANTS))
@pytest.mark.parametrize("fname", sorted(FILTERS))
def test_local_result_answers_like_spark(walked, placement, state, variant, fname):
    _assert_same_views(*walked[placement][state][f"{fname}/{variant}"])


# --------------------------------------------------------------------------
# job floor and kernel placement
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


def _term_and_phrase_jobs(spark, s: Searcher) -> tuple[int, int]:
    # warm the reader's vocabulary and stats first
    s.search(flt.Term("index"), k=K).collect()
    s.search(flt.Phrase(("index", "spark")), k=K).collect()
    n_term = _jobs_of(spark, lambda: s.search(flt.Term("spark"), k=K).collect())
    n_phrase = _jobs_of(spark, lambda: s.search(flt.Phrase(("spark", "index")), k=K).collect())
    return n_term, n_phrase


def test_keyed_term_and_phrase_job_floor(spark, small_index):
    assert _term_and_phrase_jobs(spark, _searcher(small_index, "spark")) == (1, 1)


def test_keyed_term_and_phrase_run_no_job_in_driver(spark, small_index):
    assert _term_and_phrase_jobs(spark, _searcher(small_index, "driver")) == (0, 0)


SCAN_OR_HASH = flt.Or((flt.Term("scan"), flt.Term("hash")))


@pytest.fixture(scope="module")
def sidecar_indexes(spark, tmp_path_factory):
    """(offsets index, payloads index) over small corpora of WORDS."""
    offs = str(tmp_path_factory.mktemp("keyed_offs"))
    df = spark.createDataFrame(_corpus("h", 60, 7), "doc_key string, text string")
    IndexBuilder(spark, offs, num_segments=3, with_offsets=True).build(
        df, key_col="doc_key", text_col="text"
    )
    pays = str(tmp_path_factory.mktemp("keyed_pays"))
    rows = [
        (key, " ".join(f"{w}|{7 * j + 1}" for j, w in enumerate(text.split())))
        for key, text in _corpus("y", 60, 8)
    ]
    IndexBuilder(spark, pays, analyzer="payload:|", num_segments=3, with_payloads=True).build(
        spark.createDataFrame(rows, "doc_key string, text string"), key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, offs), IndexReader(spark, pays)


def _sidecar_results(sidecar_indexes, placement: str) -> tuple[DataFrame, DataFrame]:
    offs, pays = sidecar_indexes
    return (
        _searcher(offs, placement).highlight(SCAN_OR_HASH, k=K),
        _searcher(pays, placement).payloads(SCAN_OR_HASH, k=K),
    )


def test_driver_placed_entry_points_run_no_job(spark, small_index, sidecar_indexes):
    s = _searcher(small_index, "driver")
    offs, pays = (_searcher(r, "driver") for r in sidecar_indexes)
    runs = {
        "ordered_1": lambda: s.search_ordered(SCAN_OR_HASH, k=K).collect(),
        "ordered_2": lambda: s.search_ordered(SCAN_OR_HASH, k=K, scorers=("bm25", "tfidf")).collect(),
        "highlight": lambda: offs.highlight(SCAN_OR_HASH, k=K).collect(),
        "payloads": lambda: pays.payloads(SCAN_OR_HASH, k=K).collect(),
        "all": lambda: s.search(flt.All(), k=K).collect(),
    }
    for run in runs.values():  # warm the readers' vocabularies and stats
        assert run()
    assert {name: _jobs_of(spark, run) for name, run in runs.items()} == dict.fromkeys(runs, 0)


def test_ordered_spark_placement_runs_one_job(spark, small_index):
    s = _searcher(small_index, "spark")

    def run():
        return s.search_ordered(SCAN_OR_HASH, k=K, scorers=("bm25", "tfidf")).collect()

    want = run()
    got = []
    assert _jobs_of(spark, lambda: got.extend(run())) == 1
    assert got == want and got


def test_sidecar_rows_equal_under_both_placements(sidecar_indexes):
    rows = {p: [r.collect() for r in _sidecar_results(sidecar_indexes, p)] for p in PLACEMENTS}
    assert rows["driver"] == rows["spark"]
    assert all(rows["driver"])


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
def test_sidecar_results_answer_like_spark(sidecar_indexes, placement):
    for res in _sidecar_results(sidecar_indexes, placement):
        _assert_same_views(*_local_and_spark_views(res))


def test_driver_results_need_no_spark_plan(spark, small_index, monkeypatch):
    s = _searcher(small_index, "driver")
    prepared = s.prepare({"t": flt.Term("spark"), "o": SCAN_OR_HASH})

    def run() -> list:
        return [s.search(flt.Term("spark"), k=K).collect(), prepared.execute(k=K).collect()]

    want = run()

    def refuse(*args, **kwargs):
        raise AssertionError("a driver-merged result built a Spark plan")

    monkeypatch.setattr(type(spark), "createDataFrame", refuse)
    got = []
    assert _jobs_of(spark, lambda: got.extend(run())) == 0
    assert got == want and all(got)
    prepared.unpersist()


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
def test_batch_and_ordered_results_answer_like_spark(small_index, placement):
    s = _searcher(small_index, placement)
    batch = {"t": flt.Term("spark"), "o": SCAN_OR_HASH, "x": flt.Prefix("s")}
    for queries in (batch, {"none": flt.Term("absent")}):
        prepared = s.prepare(queries)
        _assert_same_views(*_local_and_spark_views(prepared.execute(k=K)))
        prepared.unpersist()
    ordered = s.search_ordered(SCAN_OR_HASH, k=K, scorers=("bm25", "tfidf"))
    _assert_same_views(*_local_and_spark_views(ordered))


def test_spark_operations_on_a_result(spark, small_index, capsys):
    res = _searcher(small_index, "driver").search(SCAN_OR_HASH, k=K)
    docs = small_index.docs()
    capsys.readouterr()

    def ops(df) -> dict:
        out = {
            "select": df.select("doc_key", "score").collect(),
            "where": df.where(F.col("doc_id") % 2 == 0).collect(),
            "join": (
                df.drop("doc_key").join(docs, ["segment_id", "doc_id"]).orderBy("doc_key").collect()
            ),
            "orderBy": df.orderBy("doc_key").collect(),
        }
        df.show()
        out["show"] = capsys.readouterr().out
        return out

    got = ops(res)  # the first operation builds the result's Spark plan
    assert got == ops(DataFrame(res._jdf, spark))
    assert len(got["select"]) == K and "doc_key" in got["show"]
    assert sorted(r["doc_key"] for r in got["join"]) == sorted(r["doc_key"] for r in res.collect())


def test_batch_placement_follows_planned_postings(spark, small_index):
    batch = {
        "t": flt.Term("spark"),
        "a": flt.And((flt.Term("sort"), flt.Not(flt.Term("query")))),
        "p": flt.Phrase(("spark", "index")),
        "x": flt.Prefix("s"),
        "n": flt.NgramSimilarity(("spark", "index", "query"), threshold=0.6),
    }
    s = Searcher(small_index, phrase_scoring="sum_of_terms")
    prepared = s.prepare(batch)
    df = {t: d for t, (d, _) in small_index.term_stats(WORDS).items()}
    planned = (
        df["spark"] + df["sort"] + df["query"] + df["spark"] + df["index"]
        + sum(d for t, d in df.items() if t.startswith("s"))
        + df["spark"] + df["index"] + df["query"]
    )
    assert prepared.scan.planned_postings == planned
    s.DRIVER_MAX_POSTINGS = planned - 1
    want = []
    assert _jobs_of(spark, lambda: want.extend(prepared.execute(k=K).collect())) == 1
    s.DRIVER_MAX_POSTINGS = planned
    got = []
    assert _jobs_of(spark, lambda: got.extend(prepared.execute(k=K).collect())) == 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert {r["query"] for r in got} == set(batch)
    prepared.unpersist()


if __name__ == "__main__" and sys.argv[1:2] == ["--record"]:
    # python -m tests.test_keyed_search --record [out.json]
    import tempfile

    from iresearch_spark.session import get_spark

    spark = get_spark("keyed_search_record", master="local[4]", shuffle_partitions=4)
    with tempfile.TemporaryDirectory() as tmp:
        walked = _walk_states(spark, os.path.join(tmp, "idx"))["spark"]
    answers = {
        state: {case: _rows(views[0]) for case, views in cases.items()}
        for state, cases in walked.items()
    }
    spark.stop()
    with open(sys.argv[2] if len(sys.argv) > 2 else FIXTURE, "w") as fh:
        json.dump(answers, fh, indent=1)
        fh.write("\n")
