"""Multi-scorer Order (sort.hpp:218-349): a LIST of scorer buckets per query,
results ordered lexicographically by bucket scores. The reference prepares
one collector set per bucket and sorts by the concatenated score vector;
`Searcher.search_ordered` reproduces that with one kernel pass that scores
every bucket on each segment."""

import math

import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher
from iresearch_spark import filters as flt
from iresearch_spark.index.deletes import delete_docs

K1, B = 1.2, 0.75

# same tf of 'scan' (→ identical TF-IDF) but different doc lengths
# (→ BM25 breaks the ties); d07/d08 have tf=2
DOCS = [
    ("d01", "scan alpha beta gamma delta"),
    ("d02", "scan alpha"),
    ("d03", "scan alpha beta gamma delta epsilon zeta eta"),
    ("d04", "scan beta"),
    ("d05", "other words entirely here"),
    ("d07", "scan scan alpha beta"),
    ("d08", "scan scan alpha beta gamma delta epsilon"),
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mo") / "idx")
    df = spark.createDataFrame(DOCS, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def _brute(term="scan"):
    toks = {k: t.split() for k, t in DOCS}
    dls = {k: len(t) for k, t in toks.items()}
    n = len(DOCS)
    avgdl = sum(dls.values()) / n
    df = sum(1 for t in toks.values() if term in t)
    rows = []
    for k, t in toks.items():
        tf = t.count(term)
        if not tf:
            continue
        tfidf = math.sqrt(tf) * (math.log((n + 1) / (df + 1)) + 1)
        idf = math.log1p((n - df + 0.5) / (df + 0.5))
        bm25 = (K1 + 1) * idf * tf / (K1 * (1 - B) + K1 * B * dls[k] / avgdl + tf)
        rows.append((k, tfidf, bm25))
    rows.sort(key=lambda r: (-r[1], -r[2], r[0]))
    return rows


def test_lexicographic_bucket_order(idx):
    got = Searcher(idx).search_ordered(
        flt.Term("scan"), k=10, scorers=("tfidf", "bm25")
    ).collect()
    want = _brute()
    assert [
        (r["doc_key"], round(r["score0"], 9), round(r["score1"], 9)) for r in got
    ] == [(k, round(s0, 9), round(s1, 9)) for k, s0, s1 in want]
    # the TF-IDF ties (equal tf) really exist and are broken by BM25
    s0s = [round(r["score0"], 9) for r in got]
    assert len(set(s0s)) < len(s0s)


def test_single_bucket_matches_search(idx):
    a = Searcher(idx).search(flt.Term("scan"), k=10).collect()
    b = Searcher(idx).search_ordered(flt.Term("scan"), k=10, scorers=("bm25",)).collect()
    assert [(r["doc_key"], round(r["score"], 9)) for r in a] == [
        (r["doc_key"], round(r["score0"], 9)) for r in b
    ]


def test_boolean_filter_buckets(idx):
    got = Searcher(idx).search_ordered(
        flt.Or((flt.Term("scan"), flt.Term("alpha"))), k=10, scorers=("boost", "bm25")
    ).collect()
    # bucket 0 = sum of constant boosts (2.0 for docs matching BOTH legs,
    # 1.0 for one leg); ties inside each group broken by the bm25 bucket
    bm25 = {
        r["doc_key"]: r["score"]
        for r in Searcher(idx).search(
            flt.Or((flt.Term("scan"), flt.Term("alpha"))), k=10
        ).collect()
    }
    toks = {k: t.split() for k, t in DOCS}
    want = sorted(
        (
            (k, float(("scan" in t) + ("alpha" in t)), bm25[k])
            for k, t in toks.items()
            if "scan" in t or "alpha" in t
        ),
        key=lambda r: (-r[1], -r[2], r[0]),
    )
    assert [(r["doc_key"], r["score0"], round(r["score1"], 9)) for r in got] == [
        (k, s0, round(s1, 9)) for k, s0, s1 in want
    ]


def _assert_ordered_equals_own_searches(reader, f, scorers=("tfidf", "bm25")):
    """Each bucket holds exactly its scorer's own search() rows and scores,
    in lexicographic bucket order, and a smaller k keeps that order's head."""
    got = Searcher(reader).search_ordered(f, k=10, scorers=scorers).collect()
    assert got
    for i, name in enumerate(scorers):
        own = Searcher(reader, scorer=name).search(f, k=10).collect()
        assert sorted(
            (r["doc_key"], r["segment_id"], r["doc_id"], round(r["score"], 9)) for r in own
        ) == sorted(
            (r["doc_key"], r["segment_id"], r["doc_id"], round(r[f"score{i}"], 9)) for r in got
        )
    keys = [
        (*(-r[f"score{i}"] for i in range(len(scorers))), r["segment_id"], r["doc_id"])
        for r in got
    ]
    assert keys == sorted(keys)
    head = Searcher(reader).search_ordered(f, k=2, scorers=scorers).collect()
    assert head == got[:2]


def test_exact_df_phrase_buckets_equal_own_searches(idx):
    _assert_ordered_equals_own_searches(idx, flt.Phrase(("scan", "alpha")))


def test_buckets_mask_deleted_doc(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mo_del") / "idx")
    df = spark.createDataFrame(DOCS, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    delete_docs(IndexReader(spark, path), ["d02"])
    reader = IndexReader(spark, path)
    _assert_ordered_equals_own_searches(reader, flt.Term("scan"))
    got = Searcher(reader).search_ordered(flt.Term("scan"), k=10, scorers=("tfidf", "bm25"))
    assert "d02" not in {r["doc_key"] for r in got.collect()}
