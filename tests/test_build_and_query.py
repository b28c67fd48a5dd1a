"""End-to-end: build index over a deterministic corpus, query, compare with
the scalar oracle (rank + float64 score identity)."""

import math
import os

import numpy as np
import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from tests.oracle import ScalarIndex

WORDS = [
    "spark", "index", "query", "term", "merge", "shard", "scan", "sort",
    "fast", "slow", "table", "value", "hash", "join", "group", "window",
    "stream", "batch", "vector", "page", "web", "crawl", "rank", "score",
]


def make_corpus(n=300):
    """Deterministic Zipf-ish corpus; doc_key zero-padded for stable sorting."""
    rng = np.random.default_rng(7)
    zipf_p = 1.0 / np.arange(1, len(WORDS) + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    docs = {}
    for i in range(n):
        length = int(rng.integers(5, 60))
        toks = rng.choice(WORDS, size=length, p=zipf_p)
        docs[f"doc{i:05d}"] = " ".join(toks)
    # a couple of hand-made docs for phrase determinism
    docs["doc99990"] = "quick brown fox jumps over the lazy dog"
    docs["doc99991"] = "the quick brown fox is quick brown fox"
    docs["doc99992"] = "brown quick fox no phrase here"
    return docs


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = make_corpus()
    path = str(tmp_path_factory.mktemp("idx"))
    df = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_key string, text string"
    )
    builder = IndexBuilder(spark, path, analyzer="simple", num_segments=3)
    meta = builder.build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    oracle = ScalarIndex(docs)
    return reader, oracle, meta


def run(searcher, f, k=10):
    rows = searcher.search(f, k=k).collect()
    return [(r["doc_key"], r["score"]) for r in rows]


def assert_matches(got, expect, tol=1e-9):
    assert [g[0] for g in got] == [e[0] for e in expect]
    for (gk, gs), (ek, es) in zip(got, expect):
        assert math.isclose(gs, es, rel_tol=tol), (gk, gs, es)


def test_global_stats(built):
    reader, oracle, _ = built
    st = reader.field_stats()
    assert st["docs_with_field"] == oracle.n
    assert st["total_term_freq"] == oracle.ttf
    ts = reader.term_stats(["spark", "crawl"])
    assert ts["spark"][0] == oracle.df["spark"]
    assert ts["spark"][1] == sum(c["spark"] for c in oracle.tf.values())


def test_term_query(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    for term in ["spark", "crawl", "score", "fox"]:
        assert_matches(run(s, flt.Term(term)), oracle.term_query(term))


def test_missing_term(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    assert run(s, flt.Term("zzzmissing")) == []


def test_and_query(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    got = run(s, flt.And((flt.Term("spark"), flt.Term("rank"))))
    assert_matches(got, oracle.and_query(["spark", "rank"]))
    got3 = run(s, flt.And((flt.Term("spark"), flt.Term("index"), flt.Term("query"))))
    assert_matches(got3, oracle.and_query(["spark", "index", "query"]))


def test_and_not(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    got = run(s, flt.And((flt.Term("spark"), flt.Not(flt.Term("index")))))
    assert_matches(got, oracle.and_query(["spark"], exclude=["index"]))


def test_or_query(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    got = run(s, flt.Or((flt.Term("crawl"), flt.Term("rank"))))
    assert_matches(got, oracle.or_query(["crawl", "rank"]))


def test_or_min_match(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    terms = ["crawl", "rank", "vector", "web"]
    got = run(s, flt.Or(tuple(flt.Term(t) for t in terms), min_match=2))
    assert_matches(got, oracle.or_query(terms, min_match=2))


def test_prefix(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    expanded = [w for w in set(oracle.df) if w.startswith("s")]
    got = run(s, flt.Prefix("s"))
    assert_matches(got, oracle.multiterm_query(expanded))


def test_range(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    expanded = [w for w in set(oracle.df) if "query" < w <= "spark"]
    got = run(s, flt.Range(low="query", high="spark", include_low=False))
    assert_matches(got, oracle.multiterm_query(expanded))


def test_wildcard(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    # s_a% : like pattern with _ single char and % multi
    import re

    rx = re.compile(r"^s.a.*$")
    expanded = [w for w in set(oracle.df) if rx.match(w)]
    got = run(s, flt.Wildcard("s_a%"))
    assert_matches(got, oracle.multiterm_query(expanded))


def test_fuzzy(built):
    reader, oracle, _ = built
    s = Searcher(reader)

    def lev(a, b):
        # simple DP reference
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(prev + (ca != cb), dp[j] + 1, dp[j - 1] + 1)
        return dp[-1]

    expanded = sorted(w for w in set(oracle.df) if lev(w, "sprak") <= 2)
    got = run(s, flt.Fuzzy("sprak", max_distance=2))
    # each expanded term scores with its similarity boost
    # 1 - d/min(|term|, |target|) (multiterm_query.cpp:150-157 entry.boost;
    # levenshtein_filter.cpp ::similarity)
    boosts = tuple(
        1.0 - lev(w, "sprak") / min(len(w), len("sprak")) for w in expanded
    )
    scored = oracle.eval_leaf(("terms", tuple(expanded), boosts, 1, 1.0))
    expect = sorted(scored.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert_matches(got, expect)


def test_phrase(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    got = run(s, flt.Phrase(("quick", "brown", "fox")))
    assert_matches(got, oracle.phrase_query(["quick", "brown", "fox"]))
    assert [g[0] for g in got] == ["doc99991", "doc99990"]  # tf=2 beats tf=1 per dl
    got2 = run(s, flt.Phrase(("brown", "fox", "jumps")))
    assert_matches(got2, oracle.phrase_query(["brown", "fox", "jumps"]))


def test_all_filter(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    rows = s.search(flt.All(boost=2.0), k=5).collect()
    assert len(rows) == 5
    assert all(r["score"] == 2.0 for r in rows)


def test_resume_skips_stages(built, spark):
    reader, _, meta = built
    path = reader.index_path
    manifest = os.path.join(path, "manifest.jsonl")
    before = open(manifest).read()
    builder = IndexBuilder(spark, path, analyzer="simple", num_segments=3)
    df = spark.createDataFrame([("k", "t")], "doc_key string, text string")
    meta2 = builder.build(df, key_col="doc_key", text_col="text")
    assert meta2["generation"] == meta["generation"]  # committed → no-op resume
    assert open(manifest).read() == before


def test_deterministic_segments(built):
    reader, oracle, _ = built
    docs = reader.docs().orderBy("segment_id", "doc_id").collect()
    # doc ids dense and 1-based per segment
    seen = {}
    for r in docs:
        seen.setdefault(r["segment_id"], []).append(r["doc_id"])
    for sid, ids in seen.items():
        assert ids == list(range(1, len(ids) + 1))
    # every doc exactly once
    assert sorted(r["doc_key"] for r in docs) == sorted(oracle.keys)


def test_search_many_matches_individual(built):
    """Batched evaluation returns exactly what per-query search returns."""
    reader, oracle, _ = built
    s = Searcher(reader)
    batch = {
        "t_high": flt.Term("spark"),
        "t_low": flt.Term("score"),
        "and2": flt.And((flt.Term("spark"), flt.Term("rank"))),
        "or3": flt.Or((flt.Term("spark"), flt.Term("hash"), flt.Term("web"))),
        "prefix": flt.Prefix("s"),
        "minmatch": flt.Or(
            (flt.Term("spark"), flt.Term("hash"), flt.Term("web")), min_match=2
        ),
    }
    rows = s.search_many(batch, k=10).collect()
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query"], []).append((r["segment_id"], r["doc_id"], r["score"]))
    for name, f in batch.items():
        solo = [
            (r["segment_id"], r["doc_id"], r["score"])
            for r in s.search(f, k=10, with_keys=False).collect()
        ]
        assert by_q.get(name, []) == solo, name


def test_search_many_exact_df_phrase_agrees_with_search(built):
    # an exact_df root phrase in a batch gets its idf bound at the batch's
    # merge: every query's rows and scores are its own search()'s, under
    # both kernel placements and both dtypes
    reader, _, _ = built
    batch = {
        "p": flt.Phrase(("quick", "brown")),
        "sp": flt.SamePosition(("quick", "quick")),
        "t": flt.Term("spark"),
        "o": flt.Or((flt.Term("fox"), flt.Term("crawl"))),
    }
    for max_postings in (1 << 62, -1):
        s = Searcher(reader)
        s.DRIVER_MAX_POSTINGS = max_postings
        for dtype in ("float64", "float32"):
            got = [tuple(r) for r in s.search_many(batch, k=10, dtype=dtype).collect()]
            want = [
                (name, *r)
                for name in sorted(batch)
                for r in s.search(batch[name], k=10, dtype=dtype, with_keys=False).collect()
            ]
            assert got == want, (max_postings, dtype)
            assert {q for q, *_ in got} == set(batch)


def test_column_exists_and_same_position(built):
    reader, oracle, _ = built
    s = Searcher(reader)
    # ColumnExists on doc_key (always stored) → first k docs in segment order,
    # constant boost score
    rows = s.search(flt.ColumnExists("doc_key", boost=2.5), k=5).collect()
    assert len(rows) == 5
    assert all(r["score"] == 2.5 for r in rows)
    # missing column → empty
    assert s.search(flt.ColumnExists("nope"), k=5).count() == 0
    # SamePosition: single-field bag-of-words → distinct terms never share a
    # position (no 0-increment analyzers yet); identical terms degenerate to
    # the term's own positions
    assert s.search(flt.SamePosition(("quick", "brown")), k=5).count() == 0
    same = s.search(flt.SamePosition(("quick", "quick")), k=5).collect()
    assert {r["doc_key"] for r in same} >= {"doc99990", "doc99991"}


def test_tfidf_scorer(built):
    """sqrt(tf) * (ln((N+1)/(df+1)) + 1), summed over legs (tfidf.cpp:381)."""
    reader, oracle, _ = built
    s = Searcher(reader, scorer="tfidf")

    def expect(terms, k=10):
        hits = []
        for key in oracle.keys:
            total, any_hit = 0.0, False
            for t in terms:
                tf = oracle.tf[key].get(t)
                if tf:
                    any_hit = True
                    idf = math.log((oracle.n + 1) / (oracle.df[t] + 1)) + 1
                    total += math.sqrt(tf) * idf
            if any_hit:
                hits.append((key, total))
        hits.sort(key=lambda t: (-t[1], t[0]))
        return hits[:k]

    got = run(s, flt.Term("spark"))
    assert_matches(got, expect(["spark"]))
    got = run(s, flt.Or((flt.Term("scan"), flt.Term("hash"))))
    assert_matches(got, expect(["scan", "hash"]))


def test_boost_scorer(built):
    reader, _, _ = built
    s = Searcher(reader, scorer="boost")
    rows = s.search(flt.Term("spark", boost=3.0), k=5).collect()
    assert len(rows) == 5 and all(r["score"] == 3.0 for r in rows)


def test_scored_terms_limit_unscored_tail(built):
    """Multiterm cap: top-df terms scored, the tail still MATCHES at score 0
    (multiterm_query.cpp unscored bitset). With a huge k, limited and
    unlimited prefixes must match the same doc set; scored docs rank first."""
    reader, oracle, _ = built
    s = Searcher(reader)
    full = s.search(flt.Prefix("s"), k=400).collect()
    lim = s.search(flt.Prefix("s", scored_terms_limit=2), k=400).collect()
    assert {r["doc_key"] for r in full} == {r["doc_key"] for r in lim}
    # limited run: every zero-scored doc ranks after every scored doc
    scores = [r["score"] for r in lim]
    assert scores == sorted(scores, reverse=True)
    assert any(sc == 0.0 for sc in scores) and any(sc > 0 for sc in scores)
