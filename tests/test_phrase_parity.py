"""Reference-parity phrase scoring (`phrase_scoring="sum_of_terms"`).

Reference semantics: by_phrase prepare collects per-term stats and each
member term ACCUMULATES into one aggregated stats blob — the BM25/TFIDF
collectors do ``idf += ...`` per term (phrase_filter.cpp:231-318
``term_stats.finish``; bm25.cpp:495-497; tfidf.cpp:380-382) — then the phrase
frequency plugs into the scorer as tf. Variadic slots sum ALL expanded
terms' idfs (phrase_filter.cpp:418-427 per-slot collectors).

Oracle: brute force in Python over a tiny corpus.

Every phrase form runs through the one compiled-plan kernel, so a root
phrase, the same phrase nested under And, and a prepared batch of it agree
for every scorer and dtype; ``matches()`` is that kernel without a top-k and
collects nothing to the driver. The default ``exact_df`` mode binds the idf
of the exact phrase df on the driver, in ``search()`` and in a prepared batch
alike, checked against a numpy oracle.
"""

import math

import numpy as np
import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher
from iresearch_spark import filters as flt
from iresearch_spark.search.bm25 import get_model

K1, B = 1.2, 0.75

DOCS = [
    ("d01", "fast scan runs fast scan again and again"),
    ("d02", "fast scan"),
    ("d03", "slow scan then fast merge"),
    ("d04", "fast sort fast scan fast star"),
    ("d05", "the quick fox"),
    ("d06", "fast scan fast scan fast scan"),
]


def _phrase_tf(toks, phrase):
    n = 0
    for i in range(len(toks) - len(phrase) + 1):
        if toks[i : i + len(phrase)] == list(phrase):
            n += 1
    return n


def _brute(phrase_slots, scorer="bm25"):
    """Brute-force sum-of-terms phrase scoring; slots = list of term lists."""
    toks = {k: t.split() for k, t in DOCS}
    dls = {k: len(t) for k, t in toks.items()}
    n = sum(1 for d in dls.values() if d > 0)
    avgdl = sum(dls.values()) / n
    df = {}
    for terms in toks.values():
        for t in set(terms):
            df[t] = df.get(t, 0) + 1
    idf_sum = 0.0
    for slot in phrase_slots:
        for t in slot:
            if t not in df:
                continue
            if scorer == "bm25":
                idf_sum += math.log1p((n - df[t] + 0.5) / (df[t] + 0.5))
            else:
                idf_sum += math.log((n + 1.0) / (df[t] + 1.0)) + 1.0
    out = []
    for k, t in toks.items():
        # variadic tf: count windows where every slot matches one of its terms
        tf = 0
        width = len(phrase_slots)
        for i in range(len(t) - width + 1):
            if all(t[i + j] in phrase_slots[j] for j in range(width)):
                tf += 1
        if tf == 0:
            continue
        if scorer == "bm25":
            s = (K1 + 1.0) * idf_sum * tf / (
                K1 * (1 - B) + K1 * B * dls[k] / avgdl + tf
            )
        else:
            s = idf_sum * math.sqrt(tf)
        out.append((k, s))
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pp") / "idx")
    df = spark.createDataFrame(DOCS, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def test_fixed_phrase_sum_of_terms_bm25(idx):
    got = Searcher(idx, phrase_scoring="sum_of_terms").search(
        flt.Phrase(("fast", "scan")), k=10
    ).collect()
    want = _brute([["fast"], ["scan"]])
    assert [(r["doc_key"], round(r["score"], 9)) for r in got] == [
        (k, round(s, 9)) for k, s in want
    ]


def test_fixed_phrase_sum_of_terms_tfidf(idx):
    got = Searcher(idx, scorer="tfidf", phrase_scoring="sum_of_terms").search(
        flt.Phrase(("fast", "scan")), k=10
    ).collect()
    want = _brute([["fast"], ["scan"]], scorer="tfidf")
    assert [(r["doc_key"], round(r["score"], 9)) for r in got] == [
        (k, round(s, 9)) for k, s in want
    ]


def test_variadic_phrase_sums_all_expanded_terms(idx):
    # Prefix("s") expands to every s-term in the index; ALL their idfs sum
    # into the stats blob whether or not a given doc matched that variant
    got = Searcher(idx, phrase_scoring="sum_of_terms").search(
        flt.Phrase(("fast", flt.Prefix("s"))), k=10
    ).collect()
    vocab = sorted({t for _, txt in DOCS for t in txt.split() if t.startswith("s")})
    want = _brute([["fast"], vocab])
    assert [(r["doc_key"], round(r["score"], 9)) for r in got] == [
        (k, round(s, 9)) for k, s in want
    ]


def test_exact_df_mode_unchanged(idx):
    # default mode still scores by exact phrase document frequency
    got = Searcher(idx).search(flt.Phrase(("fast", "scan")), k=10).collect()
    toks = {k: t.split() for k, t in DOCS}
    dls = {k: len(t) for k, t in toks.items()}
    n = len(DOCS)
    avgdl = sum(dls.values()) / n
    tfs = {k: _phrase_tf(t, ("fast", "scan")) for k, t in toks.items()}
    dfp = sum(1 for v in tfs.values() if v)
    idf = math.log1p((n - dfp + 0.5) / (dfp + 0.5))
    want = sorted(
        (
            (k, (K1 + 1) * idf * tf / (K1 * (1 - B) + K1 * B * dls[k] / avgdl + tf))
            for k, tf in tfs.items()
            if tf
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )
    assert [(r["doc_key"], round(r["score"], 9)) for r in got] == [
        (k, round(s, 9)) for k, s in want
    ]


def test_same_position_sum_of_terms(spark, tmp_path):
    # synonym analyzer emits 'seek0' at the same position as every 'scan';
    # SamePosition under sum_of_terms sums both terms' idfs
    path = str(tmp_path / "idx")
    df = spark.createDataFrame(DOCS, "doc_key string, text string")
    IndexBuilder(
        spark, path, analyzer="simple+syn:scan=seek0", num_segments=2
    ).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    got = Searcher(reader, phrase_scoring="sum_of_terms").search(
        flt.SamePosition(("scan", "seek0")), k=10
    ).collect()
    assert got  # non-empty: every scan position carries the synonym
    toks = {k: t.split() for k, t in DOCS}
    # doc_len counts position slots (synonyms are increment-0)
    dls = {k: len(t) for k, t in toks.items()}
    n = len(DOCS)
    avgdl = sum(dls.values()) / n
    df_scan = sum(1 for t in toks.values() if "scan" in t)
    idf_sum = 2 * math.log1p((n - df_scan + 0.5) / (df_scan + 0.5))
    want = sorted(
        (
            (k, (K1 + 1) * idf_sum * tf / (K1 * (1 - B) + K1 * B * dls[k] / avgdl + tf))
            for k, tf in ((k, t.count("scan")) for k, t in toks.items())
            if tf
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )
    assert [(r["doc_key"], round(r["score"], 9)) for r in got] == [
        (k, round(s, 9)) for k, s in want
    ]


# --------------------------------------------------------------------------
# root = nested = batch, for every scorer and dtype
# --------------------------------------------------------------------------

OPEN_DOCS = [
    ("d1", "open source fast engine"),
    ("d2", "open source"),
    ("d3", "open source a b c d e f g open source"),
    ("d4", "closed source"),
]
OPEN = flt.Phrase(("open", "source"))
SCORERS = ("bm25", "bm25_norm", "tfidf", "tfidf_norm", "boost")
DTYPES = ("float64", "float32")


@pytest.fixture(scope="module")
def open_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pp_open") / "idx")
    df = spark.createDataFrame(OPEN_DOCS, "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def _keyed(reader, rows):
    """[(doc_key, score)] of unkeyed result rows, in their order."""
    keys = {
        (r["segment_id"], r["doc_id"]): r["doc_key"]
        for r in reader.docs().select("segment_id", "doc_id", "doc_key").collect()
    }
    return [(keys[(r["segment_id"], r["doc_id"])], r["score"]) for r in rows]


def _ranked(reader, rows):
    """[(doc_key, score)] in (score desc, segment_id, doc_id) order."""
    return _keyed(reader, sorted(rows, key=lambda r: (-r["score"], r["segment_id"], r["doc_id"])))


@pytest.mark.parametrize("dtype", DTYPES)
@pytest.mark.parametrize("scorer", SCORERS)
def test_root_nested_and_batch_phrase_agree(open_idx, scorer, dtype):
    s = Searcher(open_idx, scorer=scorer, phrase_scoring="sum_of_terms")
    root = _ranked(open_idx, s.search(OPEN, k=10, dtype=dtype).collect())
    nested = _ranked(
        open_idx,
        s.search(flt.And((OPEN, flt.All(boost=0.0))), k=10, dtype=dtype).collect(),
    )
    batch = _ranked(open_idx, s.prepare({"p": OPEN}, dtype).execute(10).collect())
    assert [d for d, _ in root] and sorted(d for d, _ in root) == ["d1", "d2", "d3"]
    for other in (nested, batch):
        assert [d for d, _ in other] == [d for d, _ in root]
        for (_, a), (_, b) in zip(root, other):
            assert math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0), (scorer, dtype, root, other)
    if dtype == "float32":
        assert all(np.float32(v) == v for _, v in root + nested + batch)


def _phrase_oracle(tf_by_doc, dl_by_doc, scorer, dtype):
    """{doc: score} under exact_df: idf of the exact phrase df, tf = the
    doc's phrase frequency, through the scorer's own model."""
    model, dt = get_model(scorer), np.dtype(dtype).type
    tfs = {d: tf for d, tf in tf_by_doc.items() if tf}
    n = len(dl_by_doc)
    idf = model.term_const(len(tfs), n, dt)
    avgdl = sum(dl_by_doc.values()) / n
    return {
        d: float(model.score(np.array([tf]), np.array([dl_by_doc[d]]), idf, avgdl, 1.0, dt)[0])
        for d, tf in tfs.items()
    }


def _assert_scores(got_rows, want, dtype):
    """``got_rows``: [(doc_key, score)] in result order."""
    got = dict(got_rows)
    assert set(got) == set(want)
    rel = 1e-12 if dtype == "float64" else 1e-6
    for d, v in want.items():
        assert math.isclose(got[d], v, rel_tol=rel, abs_tol=0.0), (d, got[d], v)
    scores = [v for _, v in got_rows]
    assert scores == sorted(scores, reverse=True)


def _search_and_batch(s, reader, f, dtype):
    """``f``'s top 10 from ``search()`` and from a prepared batch of it."""
    root = s.search(f, k=10, dtype=dtype).collect()
    batch = s.prepare({"p": f}, dtype).execute(10).collect()
    return [(r["doc_key"], r["score"]) for r in root], _keyed(reader, batch)


@pytest.mark.parametrize("dtype", DTYPES)
@pytest.mark.parametrize("scorer", SCORERS)
def test_root_phrase_exact_df_matches_numpy_oracle(open_idx, scorer, dtype):
    toks = {k: t.split() for k, t in OPEN_DOCS}
    want = _phrase_oracle(
        {d: _phrase_tf(t, ("open", "source")) for d, t in toks.items()},
        {d: len(t) for d, t in toks.items()}, scorer, dtype,
    )
    for got in _search_and_batch(Searcher(open_idx, scorer=scorer), open_idx, OPEN, dtype):
        _assert_scores(got, want, dtype)


# fields a and b hold parallel arrays: SamePosition((a, x), (b, p)) counts
# the positions where a holds x and b holds p
XFIELD_DOCS = [
    ("1", "x y x", "p q p"),
    ("2", "x y", "q p"),
    ("3", "y x", "q p"),
    ("4", "z", "p"),
    ("5", "x", "p"),
    ("6", "y y x x", "p p q p"),
]


@pytest.fixture(scope="module")
def xfield_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pp_xfield") / "idx")
    df = spark.createDataFrame(XFIELD_DOCS, "doc_key string, a string, b string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", fields=(("a", "a", "simple"), ("b", "b", "simple"))
    )
    return IndexReader(spark, path)


@pytest.mark.parametrize("dtype", DTYPES)
@pytest.mark.parametrize("scorer", SCORERS)
def test_cross_field_same_position_exact_df_matches_numpy_oracle(xfield_idx, scorer, dtype):
    # stats and norms are the first slot's field's (a)
    a = {k: ta.split() for k, ta, _ in XFIELD_DOCS}
    b = {k: tb.split() for k, _, tb in XFIELD_DOCS}
    tf = {k: sum(x == "x" and y == "p" for x, y in zip(a[k], b[k])) for k in a}
    assert sum(1 for v in tf.values() if v) == 4
    want = _phrase_oracle(tf, {d: len(t) for d, t in a.items()}, scorer, dtype)
    f = flt.SamePosition((("a", "x"), ("b", "p")))
    for got in _search_and_batch(Searcher(xfield_idx, scorer=scorer), xfield_idx, f, dtype):
        _assert_scores(got, want, dtype)


# --------------------------------------------------------------------------
# matches(): the kernel without a top-k — nothing collected to the driver
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def wide_idx(spark, tmp_path_factory):
    """80 children (60 hold "fast scan", some twice) under 8 parents."""
    path = str(tmp_path_factory.mktemp("pp_wide") / "idx")
    rows = [
        (f"c{i:03d}", ("fast scan " * (1 + i % 3) if i % 4 else "scan fast") + " pad" * (i % 5),
         f"P{i % 8}")
        for i in range(80)
    ] + [(f"P{g}", "", None) for g in range(8)]
    df = spark.createDataFrame(rows, "doc_key string, text string, parent_key string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=3).build(
        df, key_col="doc_key", text_col="text", stored_cols=("parent_key",)
    )
    return IndexReader(spark, path)


FAST_SCAN = flt.Phrase(("fast", "scan"))


@pytest.mark.parametrize("dtype", DTYPES)
def test_phrase_matches_is_the_kernel_job(wide_idx, dtype):
    s = Searcher(wide_idx)
    m = s.matches(FAST_SCAN, dtype=dtype)
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "LocalTableScan" not in plan, plan
    got = sorted(tuple(r) for r in m.collect())
    assert len(got) >= 50
    top = s.search(FAST_SCAN, k=10**6, dtype=dtype, with_keys=False).collect()
    assert got == sorted(tuple(r) for r in top)


def test_nested_phrase_child_parents(wide_idx):
    # children c{i} with i % 4 != 0 hold the phrase; every parent has some
    got = Searcher(wide_idx).search(flt.Nested(child=FAST_SCAN, match="min", min_children=8), k=20)
    assert sorted(r["doc_key"] for r in got.collect()) == ["P1", "P2", "P3", "P5", "P6", "P7"]


def test_phrase_plan_has_no_single_partition_window(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("phwin"))
    docs = {f"w{i:03d}": "fast scan pad" for i in range(20)}
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    s = Searcher(IndexReader(spark, path))
    res = s.matches(flt.Phrase(("fast", "scan")))
    assert "Window" not in res._jdf.queryExecution().executedPlan().toString()
    assert [r["doc_key"] for r in s.search(flt.Phrase(("fast", "scan")), k=5).collect()]


VDOCS = {
    "v0001": "the quick brown fox jumps",
    "v0002": "a quick brawn fox runs",
    "v0003": "quick red fox jumps high",
    "v0004": "the quick brown cat sleeps",
    "v0005": "slow brown fox walks quick brown fox runs",
}


def test_variadic_phrase_terms_slot(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("vpidx"))
    df = spark.createDataFrame(list(VDOCS.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    ph = flt.Phrase((flt.Terms(("quick", "slow")), "brown", "fox"))
    rows = Searcher(reader).search(ph, k=10).collect()
    assert sorted(r["doc_key"] for r in rows) == ["v0001", "v0005"]
    # v0005 holds both "slow brown fox" and "quick brown fox": tf 2 against
    # v0001's 1, so the norm-free tfidf scores are in ratio sqrt(2)
    m = Searcher(reader, scorer="tfidf").matches(ph)
    docs = reader.docs().select("segment_id", "doc_id", "doc_key")
    score = {r["doc_key"]: r["score"] for r in m.join(docs, ["segment_id", "doc_id"]).collect()}
    assert sorted(score) == ["v0001", "v0005"]
    assert score["v0005"] / score["v0001"] == pytest.approx(math.sqrt(2), rel=1e-12)
