"""Round-2 behaviors: All-filter batches, empty-input build, contiguous
consolidation, distributed multiterm expansion specs."""

import os

import numpy as np
import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.search.executor import expand_multiterm, spec_match

DOCS = {
    f"d{i:04d}": t
    for i, t in enumerate(
        [
            "spark index merge query fast",
            "spark spark table scan",
            "merge sort batch window",
            "query plan scan filter",
            "fast slow spark merge",
            "table scan index spark",
            "window batch stream spark",
            "sort merge join hash",
        ]
    )
}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("r2idx"))
    df = spark.createDataFrame(list(DOCS.items()), "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=3).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


# ---------------------------------------------------------------- All batches


def test_search_many_all_only(built):
    """A batch of only All filters must return every doc (norms-side eval)."""
    s = Searcher(built)
    rows = s.search_many({"qa": flt.All()}, k=100).collect()
    assert len(rows) == len(DOCS)
    assert all(r["score"] == 1.0 for r in rows)


def test_search_many_mixed_all(built):
    """All plans see every segment even when that segment has no postings for
    the batch's term union."""
    s = Searcher(built)
    res = s.search_many({"qa": flt.All(boost=3.0), "qb": flt.Term("hash")}, k=100)
    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["query"], []).append(r)
    assert len(by_q["qa"]) == len(DOCS)
    assert all(r["score"] == 3.0 for r in by_q["qa"])
    # "hash" appears in exactly one doc
    assert len(by_q["qb"]) == 1


def test_search_all_single(built):
    s = Searcher(built)
    assert len(s.search(flt.All(), k=100).collect()) == len(DOCS)


# ---------------------------------------------------------------- empty build


def test_empty_input_build(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("emptyidx"))
    df = spark.createDataFrame([], "doc_key string, text string")
    meta = IndexBuilder(spark, path, num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    assert meta["docs_count"] == 0
    reader = IndexReader(spark, path)
    assert reader.field_stats()["docs_with_field"] == 0
    s = Searcher(reader)
    assert s.search(flt.Term("anything"), k=5).collect() == []
    assert s.search_many({"q": flt.Term("x")}, k=5).collect() == []


# ---------------------------------------------------------------- expansion


def test_expand_overflow_returns_spec(built):
    scored, spec = expand_multiterm(flt.Prefix("s", scored_terms_limit=2), built)
    assert len(scored) == 2 and spec == ("prefix", "s")
    scored_all, spec_none = expand_multiterm(flt.Prefix("s"), built)
    assert spec_none is None and len(scored_all) >= 4


def test_spec_match_twins():
    assert spec_match(("prefix", "sp"), "spark") and not spec_match(("prefix", "sp"), "sort")
    assert spec_match(("range", "a", "m", True, False), "index")
    assert not spec_match(("range", "a", "m", True, False), "m")
    assert spec_match(("wildcard", "s_a%"), "spark") and not spec_match(("wildcard", "s_a%"), "sort")


def test_batch_overflowed_prefix_matches_single(built):
    """search_many with an overflowed multiterm (tail spec in the scan) must
    equal the single-query result."""
    s = Searcher(built)
    f = flt.Prefix("s", scored_terms_limit=2)
    single = [(r["doc_key"], round(r["score"], 9)) for r in s.search(f, k=50).collect()]
    docs = built.docs().select("segment_id", "doc_id", "doc_key")
    many = (
        s.search_many({"q": f}, k=50)
        .join(docs, ["segment_id", "doc_id"])
        .collect()
    )
    got = sorted(
        ((r["doc_key"], round(r["score"], 9)) for r in many),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == single


# ---------------------------------------------------------------- consolidate


def test_consolidate_rejects_gapped_run(built):
    from iresearch_spark.index.consolidate import consolidate

    with pytest.raises(ValueError, match="contiguous"):
        consolidate(built, [0, 2])


def test_longest_contiguous():
    from iresearch_spark.index.consolidate import _longest_contiguous

    assert _longest_contiguous([0, 2, 3, 4, 7]) == [2, 3, 4]
    assert _longest_contiguous([5]) == []
    assert _longest_contiguous([1, 2]) == [1, 2]


# ---------------------------------------------------------------- variadic phrase


VDOCS = {
    "v0001": "the quick brown fox jumps",
    "v0002": "a quick brawn fox runs",
    "v0003": "quick red fox jumps high",
    "v0004": "the quick brown cat sleeps",
    "v0005": "slow brown fox walks quick brown fox runs",
}


@pytest.fixture(scope="module")
def vbuilt(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vpidx"))
    df = spark.createDataFrame(list(VDOCS.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    return IndexReader(spark, path)


def _keys(rows):
    return sorted(r["doc_key"] for r in rows)


def test_variadic_phrase_prefix_slot(vbuilt):
    s = Searcher(vbuilt)
    # "quick br% fox" matches brown+brawn middles, not "red"
    rows = s.search(flt.Phrase(("quick", flt.Prefix("br"), "fox")), k=10).collect()
    assert _keys(rows) == ["v0001", "v0002", "v0005"]
    # fixed phrase still exact
    rows2 = s.search(flt.Phrase(("quick", "brown", "fox")), k=10).collect()
    assert _keys(rows2) == ["v0001", "v0005"]


def test_variadic_phrase_fuzzy_slot(vbuilt):
    s = Searcher(vbuilt)
    rows = s.search(
        flt.Phrase(("quick", flt.Fuzzy("braun", max_distance=1), "fox")), k=10
    ).collect()
    # braun~1 matches brawn (sub) and NOT brown (distance 2)
    assert _keys(rows) == ["v0002"]


# ---------------------------------------------------------- boosts & merges


def test_terms_per_term_boost(built):
    s = Searcher(built)
    plain = {r["doc_key"]: r["score"] for r in s.search(flt.Terms(("spark", "merge")), k=50).collect()}
    boosted = {
        r["doc_key"]: r["score"]
        for r in s.search(flt.Terms(("spark", "merge"), boosts=(2.0, 1.0)), k=50).collect()
    }
    assert set(plain) == set(boosted)
    # docs containing only 'merge' keep their score; spark-only docs double
    spark_only = [k for k, t in DOCS.items() if "spark" in t.split() and "merge" not in t.split()]
    merge_only = [k for k, t in DOCS.items() if "merge" in t.split() and "spark" not in t.split()]
    for k in merge_only:
        assert abs(boosted[k] - plain[k]) < 1e-12
    for k in spark_only:
        assert abs(boosted[k] - 2 * plain[k]) < 1e-12


def test_or_merge_max_min(built):
    s = Searcher(built)
    a = {r["doc_key"]: r["score"] for r in s.search(flt.Term("spark"), k=50).collect()}
    b = {r["doc_key"]: r["score"] for r in s.search(flt.Term("merge"), k=50).collect()}
    mx = {r["doc_key"]: r["score"] for r in s.search(flt.Or((flt.Term("spark"), flt.Term("merge")), merge="max"), k=50).collect()}
    mn = {r["doc_key"]: r["score"] for r in s.search(flt.Or((flt.Term("spark"), flt.Term("merge")), merge="min"), k=50).collect()}
    for k in mx:
        legs = [d[k] for d in (a, b) if k in d]
        assert abs(mx[k] - max(legs)) < 1e-12
        assert abs(mn[k] - min(legs)) < 1e-12


def test_and_merge_max(built):
    s = Searcher(built)
    a = {r["doc_key"]: r["score"] for r in s.search(flt.Term("spark"), k=50).collect()}
    b = {r["doc_key"]: r["score"] for r in s.search(flt.Term("merge"), k=50).collect()}
    both = set(a) & set(b)
    mx = {r["doc_key"]: r["score"] for r in s.search(flt.And((flt.Term("spark"), flt.Term("merge")), merge="max"), k=50).collect()}
    assert set(mx) == both
    for k in both:
        assert abs(mx[k] - max(a[k], b[k])) < 1e-12


# ---------------------------------------------------------- ngram similarity


NG_DOCS = {
    "n001": "alpha beta gamma delta",        # full in-order chain
    "n002": "gamma beta alpha",              # reversed: best chain length 1
    "n003": "alpha gamma beta gamma",        # alpha..gamma in order (skip beta) L=3? a,b? -> a(1) b(3) g(4): L=3
    "n004": "beta delta gamma",              # beta, gamma in order: L=2
    "n005": "zeta eta theta",                # no match
    "n006": "alpha alpha beta",              # a,b chain L=2
}


def _lcs_oracle(tokens, ngrams):
    """Scalar LCS between query ngram sequence and doc token stream."""
    n = len(ngrams)
    dp = [0] * n
    for tok in tokens:
        for qi in reversed([i for i, g in enumerate(ngrams) if g == tok]):
            prev = max(dp[:qi], default=0)
            dp[qi] = max(dp[qi], prev + 1)
    return max(dp, default=0)


@pytest.fixture(scope="module")
def ngbuilt(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ngidx"))
    df = spark.createDataFrame(list(NG_DOCS.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    return IndexReader(spark, path)


@pytest.mark.parametrize("threshold", [0.5, 0.67, 1.0])
def test_ngram_similarity_matches_scalar_lcs(ngbuilt, threshold):
    import math

    ngrams = ("alpha", "beta", "gamma")
    s = Searcher(ngbuilt)
    rows = s.search(flt.NgramSimilarity(ngrams, threshold=threshold), k=50).collect()
    got = {r["doc_key"]: r["score"] for r in rows}
    m = max(1, int(math.ceil(threshold * len(ngrams))))
    exp = {}
    for k_, t in NG_DOCS.items():
        L = _lcs_oracle(t.split(), list(ngrams))
        if L >= m:
            exp[k_] = L / len(ngrams)
    assert got.keys() == exp.keys()
    for k_ in exp:
        assert abs(got[k_] - exp[k_]) < 1e-12


def test_ngram_similarity_repeated_query_ngram(ngbuilt):
    s = Searcher(ngbuilt)
    rows = s.search(flt.NgramSimilarity(("alpha", "alpha"), threshold=1.0), k=50).collect()
    # only n006 has two alphas
    assert {r["doc_key"] for r in rows} == {"n006"}


# ---------------------------------------------------------------- nested join


NEST_CHILDREN = {
    "c01": ("p1", "spark scan fast"),
    "c02": ("p1", "scan merge"),
    "c03": ("p2", "scan scan scan"),
    "c04": ("p2", "table sort"),
    "c05": ("p3", "window batch"),
    "c06": ("p3", "stream merge"),
}


@pytest.fixture(scope="module")
def nested_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nestidx"))
    rows = [(k, t, pk) for k, (pk, t) in NEST_CHILDREN.items()]
    rows += [(p, "", None) for p in ("p1", "p2", "p3")]
    df = spark.createDataFrame(rows, "doc_key string, text string, parent_key string")
    IndexBuilder(spark, path, num_segments=2).build(
        df, key_col="doc_key", text_col="text", stored_cols=("parent_key",)
    )
    return IndexReader(spark, path)


def test_nested_any_sum(nested_idx):
    s = Searcher(nested_idx)
    child_scores = {
        r["doc_key"]: r["score"] for r in s.search(flt.Term("scan"), k=100).collect()
    }
    exp = {}
    for ck, sc in child_scores.items():
        pk = NEST_CHILDREN[ck][0]
        exp[pk] = exp.get(pk, 0.0) + sc
    got = {
        r["doc_key"]: r["score"]
        for r in s.search(flt.Nested(flt.Term("scan")), k=10).collect()
    }
    assert got.keys() == exp.keys()
    for p in exp:
        assert abs(got[p] - exp[p]) < 1e-9


def test_nested_min_and_none(nested_idx):
    s = Searcher(nested_idx)
    got_min = {
        r["doc_key"]
        for r in s.search(
            flt.Nested(flt.Term("scan"), match="min", min_children=2), k=10
        ).collect()
    }
    assert got_min == {"p1"}  # p1 has two scan children, p2 one
    got_none = {
        r["doc_key"]
        for r in s.search(flt.Nested(flt.Term("scan"), match="none", boost=5.0), k=10).collect()
    }
    assert got_none == {"p3"}


def test_nested_merge_max(nested_idx):
    s = Searcher(nested_idx)
    child_scores = {
        r["doc_key"]: r["score"] for r in s.search(flt.Term("scan"), k=100).collect()
    }
    exp = {}
    for ck, sc in child_scores.items():
        pk = NEST_CHILDREN[ck][0]
        exp[pk] = max(exp.get(pk, -1e30), sc)
    got = {
        r["doc_key"]: r["score"]
        for r in s.search(flt.Nested(flt.Term("scan"), merge="max"), k=10).collect()
    }
    for p in exp:
        assert abs(got[p] - exp[p]) < 1e-9


def test_and_only_not(built):
    """And with only Not parts gets an implicit all-docs base
    (boolean_filter.cpp MakeAllDocsFilter)."""
    s = Searcher(built)
    rows = s.search(flt.And((flt.Not(flt.Term("spark")),)), k=50).collect()
    exp = {k for k, t in DOCS.items() if "spark" not in t.split()}
    assert {r["doc_key"] for r in rows} == exp
    assert all(r["score"] == 1.0 for r in rows)
