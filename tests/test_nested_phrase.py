"""Phrase/SamePosition nested under And/Or: the in-kernel ``{"op":
"phrase"}`` scored leaf (tf = phrase frequency via the packed-key position
intersect; idf = compile-time SUM of member-term idfs — the reference's
aggregated phrase stats, phrase_filter.cpp:231-318, bm25.cpp:495-497).

Self-consistent oracle: boolean composition over root-level searches.
``And((P, T))`` with kSum merge must equal {docs in both} scored
``score_P + score_T`` where ``score_P`` is the root phrase search in
``sum_of_terms`` mode — the exact semantics the nested leaf implements.
"""

import pytest
from pyspark.sql import functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt

CORPUS = {
    f"d{i:02d}": txt
    for i, txt in enumerate(
        [
            "fast scan runs fast scan again merge",
            "fast scan only once here",
            "scan fast reversed order merge",
            "fast and scan apart fast scan",
            "merge sort fast scan merge",
            "merge without the phrase scan",
            "fast scan merge fast scan merge",
            "nothing relevant at all",
            "merge merge merge",
            "fast alone",
            "sort fast sort scan sort",
        ]
    )
}

PH = flt.Phrase(("fast", "scan"))


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nested_phrase"))
    df = spark.createDataFrame(list(CORPUS.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    return IndexReader(spark, path)


def _scores(df):
    return {r["doc_key"]: r["score"] for r in df.collect()}


def _searcher(idx):
    return Searcher(idx, phrase_scoring="sum_of_terms")


def test_and_phrase_term(idx):
    s = _searcher(idx)
    ph = _scores(s.search(PH, k=100))
    tm = _scores(s.search(flt.Term("merge"), k=100))
    expect = {k: ph[k] + tm[k] for k in ph.keys() & tm.keys()}
    assert expect, "fixture must produce overlapping matches"
    got = _scores(s.search(flt.And((PH, flt.Term("merge"))), k=100))
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k], rel=1e-9)


def test_or_phrase_term(idx):
    s = _searcher(idx)
    ph = _scores(s.search(PH, k=100))
    tm = _scores(s.search(flt.Term("merge"), k=100))
    expect = {k: ph.get(k, 0.0) + tm.get(k, 0.0) for k in ph.keys() | tm.keys()}
    got = _scores(s.search(flt.Or((PH, flt.Term("merge"))), k=100))
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k], rel=1e-9)


def test_or_minmatch_requires_both(idx):
    s = _searcher(idx)
    ph = set(_scores(s.search(PH, k=100)))
    tm = set(_scores(s.search(flt.Term("merge"), k=100)))
    got = set(_scores(s.search(flt.Or((PH, flt.Term("merge")), min_match=2), k=100)))
    assert got == (ph & tm)


def test_and_not_phrase(idx):
    s = _searcher(idx)
    ph = set(_scores(s.search(PH, k=100)))
    tm = _scores(s.search(flt.Term("merge"), k=100))
    got = _scores(s.search(flt.And((flt.Term("merge"), flt.Not(PH))), k=100))
    assert set(got) == set(tm) - ph
    for k in got:
        assert got[k] == pytest.approx(tm[k], rel=1e-9)


def test_nested_variadic_phrase(idx):
    # a Prefix slot inside the nested phrase (VariadicPhraseQuery)
    s = _searcher(idx)
    vp = flt.Phrase(("fast", flt.Prefix("s")))
    ph = _scores(s.search(vp, k=100))
    tm = _scores(s.search(flt.Term("merge"), k=100))
    expect = {k: ph[k] + tm[k] for k in ph.keys() & tm.keys()}
    got = _scores(s.search(flt.And((vp, flt.Term("merge"))), k=100))
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k], rel=1e-9)


def test_nested_same_position(spark, tmp_path_factory):
    # synonym stream: seek0 injected at scan's position → SamePosition
    # (("scan","seek0")) matches docs containing scan; nested under And
    path = str(tmp_path_factory.mktemp("nested_samepos"))
    df = spark.createDataFrame(list(CORPUS.items()), "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple+syn:scan=seek0", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    s = Searcher(IndexReader(spark, path), phrase_scoring="sum_of_terms")
    sp = flt.SamePosition(("scan", "seek0"))
    root = _scores(s.search(sp, k=100))
    tm = _scores(s.search(flt.Term("merge"), k=100))
    expect = {k: root[k] + tm[k] for k in root.keys() & tm.keys()}
    got = _scores(s.search(flt.And((sp, flt.Term("merge"))), k=100))
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k], rel=1e-9)


def test_nested_phrase_in_batch(idx):
    # search_many / PreparedBatch: the persisted scan carries positions
    s = _searcher(idx)
    batch = s.prepare(
        {"qa": flt.And((PH, flt.Term("merge"))), "qb": flt.Term("sort")}
    )
    out = batch.execute(k=100)
    got = {
        (r["query"], int(r["doc_id"])): r["score"] for r in out.collect()
    }
    single = _scores(s.search(flt.And((PH, flt.Term("merge"))), k=100))
    assert len([1 for q, _ in got if q == "qa"]) == len(single)
    # second execute reuses the persisted positional scan
    out2 = batch.execute(k=100)
    assert {(r["query"], int(r["doc_id"])) for r in out2.collect()} == set(got)
    batch.unpersist()


def test_root_phrase_unchanged_default_mode(idx):
    # the root path keeps its exact_df default; nesting is sum_of_terms-only
    s = Searcher(idx)  # default exact_df
    root = s.search(PH, k=5).collect()
    assert root


NEST_CHILDREN = {
    "c01": ("p1", "spark scan fast scan here"),
    "c02": ("p1", "fast scan merge"),
    "c03": ("p2", "fast scan fast scan"),
    "c04": ("p2", "table sort"),
    "c05": ("p3", "window batch fast"),
    "c06": ("p3", "stream merge scan"),
}


def test_phrase_inside_nested_child(spark, tmp_path_factory):
    # ByNestedFilter child = And(Phrase, Term): the matches() composition
    # path compiles the nested phrase leaf too
    path = str(tmp_path_factory.mktemp("nestphrase"))
    rows = [(k, t, pk) for k, (pk, t) in NEST_CHILDREN.items()]
    rows += [(p, "", None) for p in ("p1", "p2", "p3")]
    df = spark.createDataFrame(rows, "doc_key string, text string, parent_key string")
    IndexBuilder(spark, path, num_segments=2).build(
        df, key_col="doc_key", text_col="text", stored_cols=("parent_key",)
    )
    s = Searcher(IndexReader(spark, path), phrase_scoring="sum_of_terms")
    child = flt.And((flt.Phrase(("fast", "scan")), flt.Term("merge")))
    child_scores = {
        r["doc_key"]: r["score"] for r in s.search(child, k=100).collect()
    }
    assert child_scores, "child filter must match someone (c02)"
    exp = {}
    for ck, sc in child_scores.items():
        pk = NEST_CHILDREN[ck][0]
        exp[pk] = exp.get(pk, 0.0) + sc
    got = {
        r["doc_key"]: r["score"]
        for r in s.search(flt.Nested(child), k=10).collect()
    }
    assert got.keys() == exp.keys()
    for p in exp:
        assert got[p] == pytest.approx(exp[p], rel=1e-9)
