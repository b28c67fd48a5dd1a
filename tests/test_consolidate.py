"""Consolidation (segment merge) tests: generation bump, segment count drop,
and the key invariant — BM25 top-k (doc_keys AND scores) identical before and
after merge, because global stats are merge-invariant (merge_writer.cpp
semantics under an append-only corpus)."""

import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, consolidate, consolidation
from iresearch_spark import filters as flt
from tests.test_build_and_query import make_corpus


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = make_corpus(200)
    path = str(tmp_path_factory.mktemp("cidx"))
    df = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_key string, text string"
    )
    IndexBuilder(spark, path, analyzer="simple", num_segments=4).build(
        df, key_col="doc_key", text_col="text"
    )
    return path


QUERIES = [
    flt.Term("spark"),
    flt.Or((flt.Term("scan"), flt.Term("hash"))),
    flt.And((flt.Term("spark"), flt.Term("index"))),
    flt.Phrase(("quick", "brown")),
    flt.Prefix("s"),
]


def snap(spark, path):
    s = Searcher(IndexReader(spark, path))
    return [
        [(r["doc_key"], round(r["score"], 10)) for r in s.search(q, k=10).collect()]
        for q in QUERIES
    ]


def test_consolidate_preserves_results(spark, built):
    before = snap(spark, built)
    r = IndexReader(spark, built)
    assert r.meta["generation"] == 1
    meta = consolidate(r, segment_ids=[1, 2, 3])
    assert meta["generation"] == 2
    r2 = IndexReader(spark, built)
    assert r2.meta["generation"] == 2
    segs = sorted(x["segment_id"] for x in r2.norms().select("segment_id").collect())
    assert segs == [0, 1]
    total = sum(x["docs_count"] for x in r2.norms().select("docs_count").collect())
    assert total == r.meta["docs_count"]
    after = snap(spark, built)
    # doc_keys and scores identical; (segment, doc) identity may change
    assert before == after


def test_policies(spark, built):
    r = IndexReader(spark, built)
    # after the previous test: two segments remain
    picked = consolidation.pick_count(r, target_segments=1)
    assert len(picked) == 2
    assert consolidation.pick_small_segments(r, max_docs=1) == []


def test_consolidate_all_to_one(spark, built):
    before = snap(spark, built)
    r = IndexReader(spark, built)
    meta = consolidate(r, segment_ids=None)
    assert meta["num_segments"] == 1
    assert snap(spark, built) == before


def test_purge_commits_live_docs_count(spark, tmp_path):
    """A purging consolidate commits the surviving doc count: meta
    ``docs_count`` equals the segments' counts and the stored docs."""
    from iresearch_spark.index.deletes import delete_docs

    docs = dict(list(make_corpus(100).items())[:100])
    path = str(tmp_path / "purge")
    df = spark.createDataFrame([(k, v) for k, v in docs.items()], "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    delete_docs(IndexReader(spark, path), sorted(docs)[::4])
    consolidate(IndexReader(spark, path))
    r = IndexReader(spark, path)
    assert "deletes" not in r.meta["tables"]
    assert r.meta["docs_count"] == sum(r.segment_docs_counts().values()) == r.docs().count() == 75
