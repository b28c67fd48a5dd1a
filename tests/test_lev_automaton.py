"""Levenshtein-automaton enumeration: exactness vs the OSA/Levenshtein DP,
sorted-dictionary intersect completeness, and expansion parity with the
brute-force DP at every distance.

The automaton (search/lev_automaton.py) is the repo's analogue of the
reference's parametric-automaton × FST walk (levenshtein_utils.cpp:1-775,
levenshtein_filter.cpp:139-310).  Soundness bar: the intersect walk must
have NO false negatives vs the exact DP (a false positive would merely cost
a wasted DP row; a false negative loses a matching term)."""

import itertools
import random

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from iresearch_spark.search.executor import _fuzzy_distances
from iresearch_spark.search.lev_automaton import LevAutomaton


def brute_accept(words, q, d, tr):
    dist = _fuzzy_distances(list(words), q, d, transpose=tr)
    return [dd <= d for dd in dist]


@pytest.mark.parametrize("transpose", [False, True])
@pytest.mark.parametrize("maxd", [0, 1, 2, 3, 4])
def test_accepts_exhaustive_small_alphabet(maxd, transpose):
    """Exhaustive over the 'ab' alphabet (the regime where subsumption and
    transposition-state bugs surface): automaton acceptance == DP <= d."""
    alpha = "ab"
    words = [""] + ["".join(p) for L in range(1, 6) for p in itertools.product(alpha, repeat=L)]
    queries = [""] + ["".join(p) for L in range(1, 4) for p in itertools.product(alpha, repeat=L)]
    for q in queries:
        A = LevAutomaton(q, maxd, transpose=transpose)
        exp = brute_accept(words, q, maxd, transpose)
        got = [A.accepts(w) for w in words]
        assert got == exp, (q, maxd, transpose)


@settings(max_examples=300, deadline=None)
@given(
    q=st.text(alphabet="abcß日", max_size=6),
    w=st.text(alphabet="abcß日", max_size=8),
    d=st.integers(0, 4),
    tr=st.booleans(),
)
def test_accepts_property(q, w, d, tr):
    A = LevAutomaton(q, d, transpose=tr)
    exp = brute_accept([w], q, d, tr)[0]
    assert A.accepts(w) == exp


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_intersect_matches_bruteforce(seed):
    """Seek-walk over a sorted vocab returns exactly the DP-accepted set."""
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
        A = LevAutomaton(q, d, tr)
        exp = {i for i, ok in enumerate(brute_accept(vocab, q, d, tr)) if ok}
        got = set(A.intersect(terms).tolist())
        assert got == exp, (q, d, tr, sorted(exp - got)[:5], sorted(got - exp)[:5])


def test_intersect_is_sublinear_in_touches():
    """The walk must SKIP: over a vocab with a large dead region, the number
    of terms it touches is far below |vocab| (the whole point vs the linear
    prefilter scan)."""
    vocab = sorted(
        {"zz" + format(i, "06d") for i in range(5000)} | {"scan", "scat", "span"}
    )
    terms = np.array(vocab, dtype=object)
    touched = [0]

    class Counting(LevAutomaton):  # subclass adds a __dict__; slots stay
        def step(self, state, ch):
            touched[0] += 1
            return super().step(state, ch)

    A = Counting("scan", 1, False)
    idx = A.intersect(terms)
    assert {terms[i] for i in idx} == {"scan", "scat", "span"}
    # 5003 terms × ~8 chars ≈ 40k steps if linear; the walk needs a handful
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
    """End-to-end expansion (automaton candidates + DP + selection) equals
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
