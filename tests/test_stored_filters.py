"""ColumnExists and NumericRange: kernel leaves over the stored columns.

Both compile to a ``column`` leaf (a pyarrow predicate over the docs columns
they name); each segment's loop reads that segment's docs row groups and
hands the kernel the matching doc ids, which score the leaf's boost.

* Oracle: every call below is checked against pandas over the live docs,
  read straight from the docs and deletes parquet with pyarrow, on a
  multi-segment index with numeric (double, long) and string stored
  columns, in four states (fresh build; after ``append``; after deleting one
  doc; after ``consolidate`` of two segments) and under both kernel placements
  (``DRIVER_MAX_POSTINGS`` forcing the driver or the Spark job). Calls:
  ``search`` keyed and unkeyed, ``search_many`` of every case at once,
  ``matches()`` and a two-scorer ``search_ordered``, over ColumnExists
  (exact name, prefix, a prefix matching no stored column) and NumericRange
  (closed, open and half-open bounds, an int column under a float bound).
* Composed: ``And(Term, NumericRange)``, ``Not(ColumnExists)`` and
  ``Nested(child=NumericRange)``.
* ``ColumnExists(boost=0.1)`` under ``dtype="float32"`` scores
  ``float64(float32(0.1))``, like ``All``.
* Jobs: the driver placement runs no Spark job for ``search``,
  ``search_ordered`` and ``search_many``; the Spark placement runs one.
  ``matches()`` is one ``MapInArrow`` plan with no ``LocalTableScan``.
* A driver-merged result answers like the same rows through Spark.
* NumericRange over a string column raises ``ValueError`` at compile.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index.consolidate import consolidate
from iresearch_spark.index.deletes import delete_docs
from tests.test_keyed_search import _assert_same_views, _jobs_of, _local_and_spark_views

WORDS = ["spark", "index", "query", "scan", "hash", "join", "sort", "merge"]
STORED = ("num", "cnt", "tag", "tail", "parent_key")
SCHEMA = (
    "doc_key string, text string, num double, cnt long, tag string, tail string, "
    "parent_key string"
)
K = 10
CASES = {
    "exists_exact": flt.ColumnExists("tag"),
    "exists_prefix": flt.ColumnExists("ta", prefix_match=True),
    # no stored column starts with it (the doc identity columns never match)
    "exists_bogus_prefix": flt.ColumnExists("zzz", prefix_match=True),
    "exists_identity_prefix": flt.ColumnExists("doc_", prefix_match=True),
    "range_closed": flt.NumericRange("num", low=20, high=60),
    "range_open": flt.NumericRange("num", low=20, high=60, include_low=False, include_high=False),
    "range_low": flt.NumericRange("num", low=80.0, include_low=False, boost=2.5),
    "range_high_int_col": flt.NumericRange("cnt", high=4.5),
    "range_unbounded": flt.NumericRange("num"),
}
SPARK_TERM = flt.Term("spark")
AND_RANGE = flt.And((SPARK_TERM, flt.NumericRange("num", low=20, high=60)))
NOT_EXISTS = flt.Not(flt.ColumnExists("tag"))
NESTED = flt.Nested(flt.NumericRange("num", low=20, high=60))
PLACEMENTS = {"driver": 1 << 62, "spark": -1}
STATES = ("built", "appended", "deleted", "consolidated")
SCORERS = ("bm25", "tfidf")


def _rows_of(prefix: str, n: int, seed: int) -> list[tuple]:
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        key = f"{prefix}{i:04d}"
        text = " ".join(rng.choice(WORDS, size=int(rng.integers(2, 9))))
        num = None if i % 7 == 0 else float((i * 37) % 101)
        parent = None if i % 5 == 0 else f"{prefix}{i - i % 5:04d}"
        tag = None if i % 3 == 0 else f"t{i}"
        tail = f"x{i}" if i % 10 == 1 else None
        out.append((key, text, num, i % 13, tag, tail, parent))
    return out


# --------------------------------------------------------------------------
# the pandas oracle
# --------------------------------------------------------------------------


def _live_docs(reader: IndexReader) -> pd.DataFrame:
    """Every live doc's stored columns, read with pyarrow, in (segment_id,
    doc_id) order."""
    tables = reader.meta["tables"]
    paths = tables["docs"] if isinstance(tables["docs"], list) else [tables["docs"]]
    docs = pd.concat(
        [pads.dataset(p.removeprefix("file:"), format="parquet").to_table().to_pandas() for p in paths],
        ignore_index=True,
    )
    if "deletes" in tables:
        d = pads.dataset(tables["deletes"].removeprefix("file:"), format="parquet").to_table()
        gone = set(zip(d["segment_id"].to_pylist(), d["doc_id"].to_pylist()))
        docs = docs[[p not in gone for p in zip(docs["segment_id"], docs["doc_id"])]]
    return docs.sort_values(["segment_id", "doc_id"]).reset_index(drop=True)


def _mask(live: pd.DataFrame, f: flt.Filter) -> pd.Series:
    if isinstance(f, flt.ColumnExists):
        cols = [c for c in STORED if c.startswith(f.column)] if f.prefix_match else [f.column]
        return live[cols].notna().any(axis=1) if cols else pd.Series(False, index=live.index)
    s = live[f.column]
    m = s.notna()
    if f.low is not None:
        m &= s >= f.low if f.include_low else s > f.low
    if f.high is not None:
        m &= s <= f.high if f.include_high else s < f.high
    return m


def _expected(live: pd.DataFrame, mask: pd.Series, scores, k: int | None) -> list[tuple]:
    """(doc_key, segment_id, doc_id, score) of the matches, ordered by
    (score desc, segment_id, doc_id), cut at k."""
    hit = live[mask.to_numpy()].assign(score=np.asarray(scores, np.float64)[mask.to_numpy()])
    hit = hit.sort_values(["score", "segment_id", "doc_id"], ascending=[False, True, True])
    rows = list(zip(hit["doc_key"], hit["segment_id"], hit["doc_id"], hit["score"]))
    return rows if k is None else rows[:k]


def _oracle(live: pd.DataFrame, term_scores: dict[str, float]) -> dict[str, list[tuple]]:
    """Every match of each case and composed filter, in result order."""
    out = {
        name: _expected(live, _mask(live, f), np.full(len(live), f.boost), None)
        for name, f in CASES.items()
    }
    has_term = live["doc_key"].isin(term_scores)
    term = live["doc_key"].map(term_scores).fillna(0.0).to_numpy()
    out["and_range"] = _expected(live, has_term & _mask(live, AND_RANGE.parts[1]), term + 1.0, None)
    out["not_exists"] = _expected(live, ~_mask(live, NOT_EXISTS.part), np.ones(len(live)), None)
    # Nested: a parent (no parent_key) scores the sum of its live matching
    # children's scores (each the child's boost, 1.0)
    kids = live[_mask(live, NESTED.child) & live["parent_key"].notna()]
    n_kids = live["doc_key"].map(kids.groupby("parent_key").size()).fillna(0).to_numpy()
    out["nested_range"] = _expected(live, live["parent_key"].isna() & (n_kids > 0), n_kids, None)
    return out


# --------------------------------------------------------------------------
# one walk through the index states
# --------------------------------------------------------------------------


def _tuples(rows, keyed: bool = True) -> list[tuple]:
    return [
        (r["doc_key"] if keyed else None, r["segment_id"], r["doc_id"], r["score"]) for r in rows
    ]


def _answers(spark, reader: IndexReader, placement: str) -> dict:
    """What every call answers in one state under one placement, with the
    Spark jobs each ran."""
    s = Searcher(reader)
    s.DRIVER_MAX_POSTINGS = PLACEMENTS[placement]
    got: dict = {"jobs": {}}

    def run(name: str, fn):
        box = []
        got["jobs"][name] = _jobs_of(spark, lambda: box.append(fn()))
        return box[0]

    s.search(CASES["range_closed"], k=K).collect()  # warm the generation's state
    for name, f in {**CASES, "and_range": AND_RANGE, "not_exists": NOT_EXISTS}.items():
        keyed = run(f"search/{name}", lambda: s.search(f, k=K).collect())
        got[f"search/{name}"] = _tuples(keyed)
        got[f"unkeyed/{name}"] = _tuples(s.search(f, k=K, with_keys=False).collect(), keyed=False)
        ordered = run(
            f"ordered/{name}", lambda: s.search_ordered(f, k=K, scorers=SCORERS).collect()
        )
        got[f"ordered/{name}"] = [
            (r["doc_key"], r["segment_id"], r["doc_id"], r["score0"], r["score1"]) for r in ordered
        ]
        m = s.matches(f)
        got[f"matches/{name}"] = sorted(
            (r["segment_id"], r["doc_id"], r["score"]) for r in m.collect()
        )
        got[f"plan/{name}"] = m._jdf.queryExecution().executedPlan().toString()
        got[f"views/{name}"] = _local_and_spark_views(s.search(f, k=K))
    batch = {**CASES, "and_range": AND_RANGE, "not_exists": NOT_EXISTS}
    got["many"] = [tuple(r) for r in run("many", lambda: s.search_many(batch, k=K).collect())]
    got["nested"] = _tuples(s.search(NESTED, k=K).collect())
    got["f32"] = [
        r["score"] for r in s.search(flt.ColumnExists("tag", boost=0.1), k=K, dtype="float32").collect()
    ]
    got["f32_all"] = [r["score"] for r in s.search(flt.All(boost=0.1), k=K, dtype="float32").collect()]
    return got


@pytest.fixture(scope="module")
def walked(spark, tmp_path_factory):
    """``{state: (oracle, live docs, {placement: answers})}``."""
    path = str(tmp_path_factory.mktemp("stored_filters"))
    out = {}

    def answer(state: str) -> None:
        reader = IndexReader(spark, path)
        live = _live_docs(reader)
        term = {r["doc_key"]: r["score"] for r in Searcher(reader).search(SPARK_TERM, k=100_000).collect()}
        out[state] = (
            _oracle(live, term),
            live,
            {p: _answers(spark, IndexReader(spark, path), p) for p in PLACEMENTS},
        )

    df = spark.createDataFrame(_rows_of("d", 400, 3), SCHEMA).repartition(4)
    builder = IndexBuilder(spark, path, num_segments=4)
    builder.build(df, key_col="doc_key", text_col="text", stored_cols=STORED)
    assert len(IndexReader(spark, path).segment_docs_counts()) >= 3
    answer("built")
    builder.append(spark.createDataFrame(_rows_of("e", 120, 4), SCHEMA))
    answer("appended")
    delete_docs(IndexReader(spark, path), ["d0001"])  # in range, tagged, a child
    answer("deleted")
    # merge two segments: Spark rewrites the docs table, and its files may
    # hold several segments' rows
    reader = IndexReader(spark, path)
    consolidate(reader, sorted(reader.segment_docs_counts())[:2])
    answer("consolidated")
    return out


def _close(got: list[tuple], want: list[tuple]) -> None:
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert all(math.isclose(a, b, rel_tol=1e-12) for a, b in zip(g[3:], w[3:])), (g, w)


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("name", [*CASES, "not_exists"])
def test_calls_match_the_pandas_oracle(walked, state, placement, name):
    """Constant-score filters: every call returns the oracle's matches at
    their boost, the first k in (segment_id, doc_id) order."""
    oracle, live, answers = walked[state]
    got = answers[placement]
    want = oracle[name]
    if name in ("exists_bogus_prefix", "exists_identity_prefix"):
        assert want == []
    else:
        assert want and len(want) < len(live)  # selective, and not empty
    _close(got[f"search/{name}"], want[:K])
    _close(got[f"unkeyed/{name}"], [(None, *w[1:]) for w in want[:K]])
    _close(got[f"ordered/{name}"], [(*w, w[3]) for w in want[:K]])
    assert got[f"matches/{name}"] == sorted((w[1], w[2], w[3]) for w in want)
    assert [r[1:] for r in got["many"] if r[0] == name] == [w[1:] for w in want[:K]]


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
@pytest.mark.parametrize("state", STATES)
def test_and_term_numeric_range(walked, state, placement):
    """``And(Term, NumericRange)``: the term's docs within the range, each
    scoring its term score plus the range's boost."""
    oracle, _, answers = walked[state]
    got, want = answers[placement], oracle["and_range"]
    assert want
    _close(got["search/and_range"], want[:K])
    _close(got["unkeyed/and_range"], [(None, *w[1:]) for w in want[:K]])
    _close([(None, *g[1:]) for g in got["many"] if g[0] == "and_range"], [(None, *w[1:]) for w in want[:K]])
    by_doc = {(w[1], w[2]): w for w in want}
    assert [(s, d) for s, d, _ in got["matches/and_range"]] == sorted(by_doc)
    for s, d, score in got["matches/and_range"]:
        assert math.isclose(score, by_doc[(s, d)][3], rel_tol=1e-12)
    # the tfidf bucket only breaks bm25 ties: the same top bm25 scores, each
    # on a doc that has it
    ordered = got["ordered/and_range"]
    _close([(None, 0, 0, g[3]) for g in ordered], [(None, 0, 0, w[3]) for w in want[:K]])
    for g in ordered:
        assert math.isclose(g[3], by_doc[(g[1], g[2])][3], rel_tol=1e-12) and g[0] == by_doc[(g[1], g[2])][0]


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
@pytest.mark.parametrize("state", STATES)
def test_nested_child_numeric_range(walked, state, placement):
    oracle, _, answers = walked[state]
    assert oracle["nested_range"]
    _close(answers[placement]["nested"], oracle["nested_range"][:K])


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
@pytest.mark.parametrize("state", STATES)
def test_float32_boost_scores_like_all(walked, state, placement):
    got = walked[state][2][placement]
    want = float(np.float32(0.1))
    assert got["f32"] and all(v == want for v in got["f32"])
    assert got["f32_all"] and all(v == want for v in got["f32_all"])
    assert want != 0.1


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
@pytest.mark.parametrize("state", STATES)
def test_job_counts(walked, state, placement):
    """A non-empty ``search``, ``search_ordered`` and ``search_many`` run no
    Spark job on the driver placement and exactly one on the Spark one."""
    oracle, _, answers = walked[state]
    jobs = answers[placement]["jobs"]
    want = 0 if placement == "driver" else 1
    counted = {
        n: j for n, j in jobs.items() if n == "many" or oracle[n.split("/", 1)[1]]
    }
    assert len(counted) == 19  # search and search_ordered of 9 non-empty filters, the batch
    assert counted == dict.fromkeys(counted, want)


@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("name", [*CASES, "and_range", "not_exists"])
def test_matches_is_one_kernel_job(walked, state, name):
    if not walked[state][0][name]:
        return  # an empty plan needs no job
    plan = walked[state][2]["driver"][f"plan/{name}"]
    assert "MapInArrow" in plan and "LocalTableScan" not in plan, plan


@pytest.mark.parametrize("placement", sorted(PLACEMENTS))
@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("name", [*CASES, "and_range", "not_exists"])
def test_local_result_answers_like_spark(walked, state, placement, name):
    _assert_same_views(*walked[state][2][placement][f"views/{name}"])


def test_numeric_range_over_a_string_column_raises(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stored_bad"))
    df = spark.createDataFrame(_rows_of("b", 20, 5), SCHEMA)
    IndexBuilder(spark, path, num_segments=2).build(
        df, key_col="doc_key", text_col="text", stored_cols=STORED
    )
    s = Searcher(IndexReader(spark, path))
    bad = flt.NumericRange("tag", low=1)
    calls = {
        "search": lambda: s.search(bad),
        "search_many": lambda: s.search_many({"q": bad}),
        "matches": lambda: s.matches(bad),
        "search_ordered": lambda: s.search_ordered(bad, scorers=SCORERS),
        "under And": lambda: s.search(flt.And((flt.Term("spark"), bad))),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match=r"'tag' of type string"):
            call()
