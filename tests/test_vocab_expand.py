"""Multiterm expansion and term stats over the driver-held sorted vocabulary
(``IndexReader.fuzzy_vocab_sorted``) against brute-force oracles over the
term_dict table as Spark reads it — including the overflow → tail-spec
contract (multiterm_query.cpp:36-168 semantics) — and the zero-job prepare."""

import numpy as np
from pyspark.sql import functions as F
import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.search.executor import (
    _prefix_successor,
    _spec_of,
    compile_plans,
    expand_multiterm,
    spec_match,
)
from tests.test_segment_job import _jobs_of

WORDS = [
    "scan", "scat", "scam", "span", "spark", "sprak", "s_a1", "s_a2",
    "sxaz", "query", "quick", "term", "terms", "merge", "zeta", "alpha",
    "50%", "5%0", "s%a",
]


@pytest.fixture(scope="module")
def docs():
    rng = np.random.default_rng(23)
    return {f"d{i:04d}": list(rng.choice(WORDS, size=15)) for i in range(120)}


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory, docs):
    # space-delimited terms keep the `_` and `%` the escaped wildcards need
    path = str(tmp_path_factory.mktemp("vexp"))
    df = spark.createDataFrame(
        [(k, " ".join(ws)) for k, ws in docs.items()], "doc_key string, text string"
    )
    IndexBuilder(spark, path, analyzer="delimiter: ", num_segments=3).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def oracle_expand(reader, node):
    """The term_dict rows where ``spec_match`` holds, ordered by (-df, term),
    cut at ``limit + 1`` rows → (sorted scored, tail spec or None)."""
    spec, limit = _spec_of(node), node.scored_terms_limit
    rows = sorted(
        ((r["term"], int(r["df"])) for r in reader.term_dict().collect()
         if spec_match(spec, r["term"])),
        key=lambda td: (-td[1], td[0]),
    )[: limit + 1]
    if len(rows) > limit:
        return sorted(rows[:limit]), spec
    return sorted(rows), None


NODES = [
    flt.Prefix("s"),
    flt.Prefix("sc"),
    flt.Prefix("nope"),
    flt.Prefix("s", scored_terms_limit=2),   # overflow → tail spec
    flt.Range(low="query", high="spark", include_low=False),
    flt.Range(low=None, high="merge", include_high=True),
    flt.Range(low="term", high=None, include_low=True),
    flt.Range(low="a", high="z", scored_terms_limit=3),  # overflow
    flt.Wildcard("s_a%"),
    flt.Wildcard("s%a_"),
    flt.Wildcard("%erm"),                    # no literal prefix → full slice
    flt.Wildcard("s%", scored_terms_limit=2),  # overflow
    flt.Wildcard("s\\_a%"),                  # escaped `_`: s_a1, s_a2 only
    flt.Wildcard("%\\%"),                    # escaped `%`: terms ending in %
    flt.Wildcard("s\\_a%", scored_terms_limit=1),  # escaped, overflow
]


@pytest.mark.parametrize("node", NODES, ids=[repr(n) for n in NODES])
def test_expansion_parity_vocab_vs_distributed(reader, node):
    assert expand_multiterm(node, reader) == oracle_expand(reader, node), node


def test_search_parity_overflow_tail(reader, docs):
    """End-to-end: an overflowing expansion scores the oracle's scored terms
    (as their Terms disjunction does) and matches its tail at score 0."""
    s = Searcher(reader)
    overflowing = (
        flt.Prefix("s", scored_terms_limit=2), flt.Wildcard("s\\_a%", scored_terms_limit=1)
    )
    for node in overflowing:
        scored, tail = oracle_expand(reader, node)
        assert tail is not None
        base = {
            r["doc_key"]: r["score"]
            for r in s.search(flt.Terms(tuple(t for t, _ in scored)), k=1000).collect()
        }
        matching = [k for k, ws in docs.items() if any(spec_match(tail, w) for w in ws)]
        want = sorted(
            ((k, round(base.get(k, 0.0), 10)) for k in matching),
            key=lambda ks: (-ks[1], ks[0]),
        )[:20]
        got = [(r["doc_key"], round(r["score"], 10)) for r in s.search(node, k=20).collect()]
        assert got == want, node


def test_term_stats_parity(reader):
    """(df, ttf) lookups == the collected term_dict, including absent terms
    (no entry, not a zero entry)."""
    td = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in reader.term_dict().collect()}
    terms = ["scan", "spark", "zeta", "absent_term", "query", "50%"]
    got = reader.term_stats(terms)
    assert got == {t: td[t] for t in terms if t in td}
    assert "absent_term" not in got and "scan" in got


def test_prepare_runs_no_spark_job(spark, reader):
    """A fresh reader compiles every multiterm kind, term stats included,
    without a Spark job: the vocabulary loads with pyarrow."""
    batch = {
        "term": flt.Term("scan"),
        "prefix": flt.Prefix("sc"),
        "prefix_overflow": flt.Prefix("s", scored_terms_limit=2),
        "range": flt.Range(low="query", high="spark"),
        "wildcard": flt.Wildcard("s%a_"),
        "wildcard_escaped": flt.Wildcard("s\\_a%"),
        **{f"fuzzy{d}": flt.Fuzzy("scam", max_distance=d) for d in (1, 2, 3, 4)},
        "fuzzy_prefix": flt.Fuzzy("can", max_distance=1, prefix="s"),
    }
    fresh = IndexReader(spark, reader.index_path)
    plans = {}
    assert _jobs_of(spark, lambda: plans.update(compile_plans(batch, fresh)[0])) == 0
    assert set(plans) == set(batch)


def test_like_regex_matches_spark_like(spark):
    """_like_regex (kernel-tail / expansion matcher) agrees with Spark SQL
    LIKE on wildcards, escapes, and trailing-newline terms."""
    from iresearch_spark.search.executor import _like_regex

    terms = ["ab", "ab\n", "a_b", "a%b", "axb", "ab c", "a\\b", "50%", "50x"]
    patterns = ["ab", "a_b", "a%b", "a\\_b", "a\\%b", "50\\%", "%b", "a%"]
    df = spark.createDataFrame([(t,) for t in terms], "t string")
    for pat in patterns:
        want = {
            r["t"]
            for r in df.where(F.col("t").like(pat)).collect()
        }
        got = {t for t in terms if _like_regex(pat).match(t)}
        assert got == want, (pat, got, want)


def test_prefix_successor():
    assert _prefix_successor("ab") == "ac"
    assert _prefix_successor("a" + chr(0x10FFFF)) == "b"
    assert _prefix_successor(chr(0x10FFFF)) is None
    assert _prefix_successor("") is None
    # the bound is right-open and tight: every string with the prefix sorts
    # below it, the successor itself does not carry the prefix
    assert "ab" <= "ab￿" < "ac"
