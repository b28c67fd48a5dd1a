"""Levenshtein-automaton walk: exactness vs the OSA/Levenshtein DP (every
accepted term's distance too), sublinearity over a sorted vocabulary, and
expansion parity with the brute-force DP at every distance, with and
without transpositions and ``prefix``.

The automaton (search/lev_automaton.py) is the repo's analogue of the
reference's parametric-automaton × FST walk (levenshtein_utils.cpp:1-775,
levenshtein_filter.cpp:139-310).  Its walk must return exactly the terms
the DP puts within the distance, with the DP's distance: it is the only
pass the engine makes."""

import itertools
import random

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.search.executor import _levenshtein_leq, expand_multiterm
from iresearch_spark.search.lev_automaton import LevAutomaton, SortedVocab


def brute_accept(words, q, d, tr):
    dist = _levenshtein_leq(list(words), q, d, transpose=tr)
    return [dd <= d for dd in dist]


def walk_distances(words, q, d, tr):
    """Each word's distance by the walk over ``words`` as a vocabulary, None
    when the walk does not accept it."""
    vocab = sorted(set(words))
    rows, dist = LevAutomaton(q, d, tr).walk(SortedVocab(np.array(vocab, dtype=object)))
    got = {vocab[r]: int(x) for r, x in zip(rows, dist)}
    return [got.get(w) for w in words]


@pytest.mark.parametrize("transpose", [False, True])
@pytest.mark.parametrize("maxd", [0, 1, 2, 3, 4])
def test_accepts_exhaustive_small_alphabet(maxd, transpose):
    """Exhaustive over the 'ab' alphabet (the regime where subsumption and
    transposition-state bugs surface): automaton acceptance == DP <= d."""
    alpha = "ab"
    words = [""] + ["".join(p) for L in range(1, 6) for p in itertools.product(alpha, repeat=L)]
    queries = [""] + ["".join(p) for L in range(1, 4) for p in itertools.product(alpha, repeat=L)]
    for q in queries:
        exp = brute_accept(words, q, maxd, transpose)
        got = [x is not None for x in walk_distances(words, q, maxd, transpose)]
        assert got == exp, (q, maxd, transpose)


@settings(max_examples=300, deadline=None)
@given(
    q=st.text(alphabet="abcß日", max_size=6),
    w=st.text(alphabet="abcß日", max_size=8),
    d=st.integers(0, 4),
    tr=st.booleans(),
)
def test_accepts_property(q, w, d, tr):
    exp = brute_accept([w], q, d, tr)[0]
    got = walk_distances([w], q, d, tr)[0]
    assert (got is not None) == exp
    if exp:
        assert got == _levenshtein_leq([w], q, d, transpose=tr)[0]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_intersect_matches_bruteforce(seed):
    """The walk over a sorted vocab returns exactly the DP-accepted set, each
    term with its DP distance."""
    rng = random.Random(seed)
    for _ in range(40):
        alpha = rng.choice(["abc", "abcd", "abß日"])
        vocab = sorted(
            {"".join(rng.choice(alpha) for _ in range(rng.randint(0, 6))) for _ in range(400)}
        )
        terms = np.array(vocab, dtype=object)
        q = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 5)))
        d = rng.choice([1, 2, 3, 4])
        tr = rng.choice([False, True])
        rows, dist = LevAutomaton(q, d, tr).walk(SortedVocab(terms))
        exp = {i for i, ok in enumerate(brute_accept(vocab, q, d, tr)) if ok}
        got = set(rows.tolist())
        assert got == exp, (q, d, tr, sorted(exp - got)[:5], sorted(got - exp)[:5])
        dp = _levenshtein_leq(vocab, q, d, transpose=tr)
        assert dist.tolist() == dp[rows].tolist(), (q, d, tr)


def test_intersect_is_sublinear_in_touches():
    """The walk must SKIP: over a vocab with a large dead region, the number
    of rows it reads is far below |vocab| (the whole point vs a linear
    scan)."""
    vocab = sorted(
        {"zz" + format(i, "06d") for i in range(5000)} | {"scan", "scat", "span"}
    )
    terms = np.array(vocab, dtype=object)
    touched = [0]

    class Counting(SortedVocab):  # subclass adds a __dict__; slots stay
        def chars_at(self, rows, depth):
            touched[0] += len(rows)
            return super().chars_at(rows, depth)

    idx, _ = LevAutomaton("scan", 1, False).walk(Counting(terms))
    assert {terms[i] for i in idx} == {"scan", "scat", "span"}
    # 5003 terms × ~8 chars ≈ 40k reads if linear; the walk needs a handful
    assert touched[0] < 500, touched[0]


def brute_expand(reader, q, d, tr, max_terms):
    """Fuzzy expansion by brute force over the collected term_dict: every
    term within ``d`` by the DP, similarity ``1 - d / min(|term|, |q|)``,
    top ``max_terms`` by (similarity desc, term desc)."""
    from iresearch_spark.search.executor import _levenshtein_leq

    rows = [(r["term"], int(r["df"])) for r in reader.term_dict().collect()]
    dist = _levenshtein_leq([t for t, _ in rows], q, d, transpose=tr)
    hits = [
        (t, df, 1.0 - int(dd) / max(1, min(len(t), len(q))))
        for (t, df), dd in zip(rows, dist)
        if dd <= d
    ]
    hits.sort(key=lambda h: (h[2], h[0]), reverse=True)
    return sorted(hits[:max_terms])


EXPANSION_CASES = [
    ("sprak", 2, False, 50), ("scam", 1, False, 50), ("sacn", 1, True, 50),
    ("scam", 3, False, 50), ("scam", 3, False, 3), ("span", 4, False, 50),
    ("span", 4, False, 4), ("sacn", 3, True, 50), ("sacn", 3, True, 2),
]


def test_expansion_parity_automaton_vs_brute(built_small):
    """End-to-end expansion (the automaton walk + selection) equals
    the brute force at every distance, on a real index."""
    from iresearch_spark.search.executor import expand_multiterm
    from iresearch_spark.search import filters as flt

    for q, d, tr, max_terms in EXPANSION_CASES:
        node = flt.Fuzzy(q, max_distance=d, max_terms=max_terms, with_transpositions=tr)
        got, tail = expand_multiterm(node, built_small)
        assert tail is None
        assert got == brute_expand(built_small, q, d, tr, max_terms), (q, d, tr, max_terms)


@pytest.fixture(scope="module")
def built_small(spark, tmp_path_factory):
    import numpy as _np

    from iresearch_spark import IndexBuilder, IndexReader

    rng = _np.random.default_rng(11)
    words = [
        "spark", "sprak", "scan", "scam", "scat", "span", "sacn", "query",
        "term", "merge",
    ]
    docs = {f"d{i:04d}": " ".join(rng.choice(words, size=12)) for i in range(80)}
    path = str(tmp_path_factory.mktemp("levidx"))
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def test_sorted_vocab_cache(built_small):
    """fuzzy_vocab_sorted returns ascending (terms, df, ttf) arrays equal to
    the term_dict table, and caches them."""
    r = built_small
    v1 = r.fuzzy_vocab_sorted()
    terms = v1[0]
    assert bool(np.all(terms[:-1] <= terms[1:]))
    assert r.fuzzy_vocab_sorted() is v1
    td = {x["term"]: (x["df"], x["ttf"]) for x in r.term_dict().collect()}
    assert dict(zip(terms.tolist(), zip(v1[1].tolist(), v1[2].tolist()))) == td
    assert len(terms) == len(td)


def test_fuzzy_end_to_end_unchanged(spark, tmp_path):
    # candidate-set parity: a fuzzy search returns the same top-k as a
    # brute-force oracle over the corpus
    from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
    from tests.oracle import ScalarIndex

    docs = {
        f"d{i:03d}": " ".join(
            ["scan"] * (1 + i % 3) + ["scam"] * (i % 2) + ["swan", "span", "pad"][: 1 + i % 3]
        )
        for i in range(60)
    }
    path = str(tmp_path / "r4fuzz")
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    got = [
        r["doc_key"]
        for r in Searcher(reader).search(flt.Fuzzy("scam", max_distance=1), k=10).collect()
    ]
    # expansion of 'scam'@1 over this vocabulary is exactly {scam, scan}
    exp = [k for k, _ in ScalarIndex(docs).multiterm_query(["scam", "scan"], k=10)]
    assert got == exp


# --------------------------------------------------------------------------
# transpositions: the OSA DP oracle and a search over a small index
# --------------------------------------------------------------------------

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


def test_levenshtein_transpositions_unit():
    # plain Levenshtein: "ab" -> "ba" costs 2; OSA transposition costs 1
    d_plain = _levenshtein_leq(["ba"], "ab", 2, transpose=False)
    d_tr = _levenshtein_leq(["ba"], "ab", 2, transpose=True)
    assert d_plain[0] == 2 and d_tr[0] == 1
    d = _levenshtein_leq(["sprak", "spark", "spurk", "sparkle"], "spark", 2, transpose=True)
    assert list(d) == [1, 0, 1, 2]


def test_fuzzy_with_transpositions(built):
    s = Searcher(built)
    # "saprk" is a transposition of "spark": distance 2 plain, 1 with OSA
    plain = s.search(flt.Fuzzy("saprk", max_distance=1), k=10).collect()
    tr = s.search(
        flt.Fuzzy("saprk", max_distance=1, with_transpositions=True), k=10
    ).collect()
    assert plain == []
    assert {r["doc_key"] for r in tr} == {
        k for k, t in DOCS.items() if "spark" in t.split()
    }


# --------------------------------------------------------------------------
# fuzzy candidate parity: top-max_terms by reference boost
# (levenshtein_filter.cpp:48-55 similarity; top_terms_collector.hpp:64-69
# tie-break towards the larger term)
# --------------------------------------------------------------------------


def test_fuzzy_candidate_selection_reference_order(spark, tmp_path_factory):
    from iresearch_spark.search.executor import expand_multiterm

    path = str(tmp_path_factory.mktemp("fuzzysel"))
    # vocabulary: > max_terms terms within distance 1 of 'scan'
    vocab = ["scan", "scanx", "scax", "sca", "zcan", "scann", "scaz", "sxan"]
    docs = {f"d{i}": w for i, w in enumerate(vocab)}
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=1).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    node = flt.Fuzzy("scan", max_distance=1, max_terms=3)
    got, tail = expand_multiterm(node, reader)
    assert tail is None
    # boosts: scan=1.0; len>=4 d=1 -> 0.75 (zcan scann scanx scax scaz sxan);
    # sca (len 3, d=1) -> 2/3. top-3 = scan, then the two LARGEST 0.75 terms
    assert [t for t, *_ in got] == sorted(["scan", "zcan", "sxan"])


# --------------------------------------------------------------------------
# Fuzzy exact-prefix option (by_edit_distance opts.prefix,
# levenshtein_filter.cpp:241-265): candidates must start with the prefix,
# edits apply to the remainder, similarity length = |prefix| + |term|
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def batch_index(spark, tmp_path_factory):
    from iresearch_spark import IndexBuilder, IndexReader

    words = ["spark", "index", "scan", "merge", "rank", "query", "fast", "dup"]
    rows = [
        (f"{i:04d}", " ".join(words[(i + j) % len(words)] for j in range(1 + i % 7)))
        for i in range(120)
    ]
    path = str(tmp_path_factory.mktemp("batchidx"))
    df = spark.createDataFrame(rows, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=3).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def _fuzzy_prefix_brute(vocab, pfx, term, d, tr=False):
    out = []
    for t in vocab:
        if not t.startswith(pfx):
            continue
        if _levenshtein_leq([t[len(pfx):]], term, d, transpose=tr)[0] <= d:
            out.append(t)
    return sorted(out)


FUZZY_PFX_CASES = [
    ("r", "ank", 1, False),    # exact suffix hit (rank)
    ("s", "cab", 1, False),    # scan via 1 edit on the suffix; spark excluded
    ("sc", "an", 0, False),    # d=0 degenerates to exact prefix+term (scan)
    ("q", "uery", 2, True),    # transpositions on the suffix
    ("zz", "an", 2, False),    # empty prefix run -> no candidates
    ("", "scam", 1, False),    # empty prefix == plain fuzzy (regression)
]


@pytest.mark.parametrize("pfx,term,d,tr", FUZZY_PFX_CASES)
def test_fuzzy_prefix_candidates_match_brute(spark, batch_index, pfx, term, d, tr):
    from iresearch_spark import filters as flt
    from iresearch_spark.search.executor import expand_multiterm

    vocab = [r["term"] for r in batch_index.term_dict().select("term").distinct().collect()]
    expect = _fuzzy_prefix_brute(vocab, pfx, term, d, tr)
    got, tail = expand_multiterm(
        flt.Fuzzy(term, max_distance=d, with_transpositions=tr, prefix=pfx),
        batch_index,
    )
    assert tail is None
    assert sorted(t for t, *_ in got) == expect, (pfx, term, d, tr)


def test_fuzzy_prefix_similarity_length_includes_prefix(spark, batch_index):
    """Selection boost = 1 - d/min(|candidate|, |prefix|+|term|): with
    max_terms=1 the closer candidate must win under the prefixed length."""
    from iresearch_spark import filters as flt
    from iresearch_spark.search.executor import expand_multiterm

    # candidates starting "s": scan (suffix d=1 vs "cab") and spark (d=4) —
    # only scan survives maxd=1; boost = 1 - 1/min(4, 1+3) = 0.75 (not 1/3)
    got, _ = expand_multiterm(
        flt.Fuzzy("cab", max_distance=1, prefix="s", max_terms=1), batch_index
    )
    assert [t for t, *_ in got] == ["scan"]
