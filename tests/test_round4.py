"""Round-4 regressions: MinHash-LSH band-bucket skew cap, bit-stable IVF
centroids, and clear compile-time errors for nested positional filters and
unrestorable append analyzers."""

import pytest
from pyspark.sql import functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark import textops, vecops


# --------------------------------------------------------------------------
# minhash_lsh_pairs max_bucket: one boilerplate bucket (identical docs →
# identical banded signatures) must not go quadratic
# --------------------------------------------------------------------------


def _boiler_corpus(spark, n_boiler=40, n_real=6):
    rows = []
    # boilerplate: IDENTICAL text → identical minhash signature → one bucket
    # per band with n_boiler members
    for i in range(n_boiler):
        rows.append((i, "the quick brown fox jumps over the lazy dog again and again"))
    # distinct docs that are near-dups of each other pairwise
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for j in range(n_real):
        rows.append((1000 + j, base + f" tail{j // 2}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bucket_cap_bounds_pairs(spark):
    df = _boiler_corpus(spark)
    uncapped = textops.minhash_lsh_pairs(df, num_hashes=8, bands=4).count()
    capped = textops.minhash_lsh_pairs(df, num_hashes=8, bands=4, max_bucket=8).count()
    # 40 identical docs → C(40,2) = 780 pairs uncapped; the capped run drops
    # the boilerplate buckets entirely while small buckets survive
    assert uncapped >= 780
    assert capped < 780
    # pairs from small (<=8 member) buckets are retained
    small = textops.minhash_lsh_pairs(
        df.where(F.col("doc_id") >= 1000), num_hashes=8, bands=4, max_bucket=8
    ).count()
    assert capped >= small > 0


def test_lsh_bucket_cap_is_lower_bound(spark):
    # capped result ⊆ uncapped result (deterministic drop, never additions)
    df = _boiler_corpus(spark, n_boiler=12, n_real=4)
    cap = {
        (r["a"], r["b"])
        for r in textops.minhash_lsh_pairs(df, num_hashes=8, bands=4, max_bucket=6).collect()
    }
    unc = {
        (r["a"], r["b"])
        for r in textops.minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()
    }
    assert cap <= unc


# --------------------------------------------------------------------------
# IVF centroids: fixed-point integer sums → bit-identical across partitionings
# --------------------------------------------------------------------------


def test_ivf_centroids_partition_invariant(spark):
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(1)
    df7 = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(7)
    c1 = vecops.ivf_centroids(df1, n_lists=4, seed=23, dim=8)
    c7 = vecops.ivf_centroids(df7, n_lists=4, seed=23, dim=8)
    assert c1 == c7  # exact equality, not approx — integer sums are associative


# --------------------------------------------------------------------------
# vectorized ngram chain DP: equality with the scalar per-event reference loop
# on dense random streams, and a speed sanity check
# --------------------------------------------------------------------------


def _scalar_chain_dp(keys, doc_rank, tvals, slot_lists, n_total):
    """The previous per-event interpreted DP, kept as the test reference."""
    import numpy as np

    out = {}
    bounds = np.flatnonzero(np.diff(doc_rank, prepend=-1))
    bounds = np.append(bounds, doc_rank.size)
    for bi in range(bounds.size - 1):
        lo, hi = int(bounds[bi]), int(bounds[bi + 1])
        dp = [0] * n_total
        e = lo
        while e < hi:
            g = e
            while g < hi and keys[g] == keys[e]:
                g += 1
            snap = dp[:]
            for ev in range(e, g):
                for qi in slot_lists[tvals[ev]]:
                    best_prev = max(snap[:qi], default=0)
                    if best_prev + 1 > dp[qi]:
                        dp[qi] = best_prev + 1
            e = g
        out[int(doc_rank[lo])] = max(dp)
    return out


def _rand_streams(rng, n_docs, max_events, n_terms, dup_pos_frac=0.2):
    import numpy as np

    keys_l, tvals_l = [], []
    PACK = np.int64(1) << np.int64(32)
    for d in range(n_docs):
        n_ev = rng.randint(1, max_events)
        pos = np.sort(rng.randint(0, max(2, n_ev * 2), size=n_ev))
        if dup_pos_frac and n_ev > 3:  # force same-position groups
            dup = rng.rand(n_ev) < dup_pos_frac
            pos[dup] = pos[np.maximum(np.flatnonzero(dup) - 1, 0)]
            pos = np.sort(pos)
        keys_l.append(np.int64(d) * PACK + pos)
        tvals_l.append(rng.randint(0, n_terms, size=n_ev).astype(np.int64))
    keys = np.concatenate(keys_l)
    tvals = np.concatenate(tvals_l)
    order = np.argsort(keys, kind="stable")
    return keys[order], tvals[order], (keys[order] // PACK).astype(np.int64)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_ngram_chain_dp_matches_scalar(seed):
    import numpy as np

    from iresearch_spark.search.executor import _ngram_chain_lengths

    rng = np.random.RandomState(seed)
    n_total = 4
    slot_lists = [[0, 2], [1], [3]]  # term 0 fills two query slots
    keys, tvals, doc_rank = _rand_streams(rng, n_docs=120, max_events=40, n_terms=3)
    docs_u, L = _ngram_chain_lengths(keys, doc_rank, tvals, slot_lists, n_total)
    exp = _scalar_chain_dp(keys, doc_rank, tvals, slot_lists, n_total)
    got = {int(d): int(v) for d, v in zip(docs_u, L)}
    assert got == exp


def test_ngram_chain_dp_faster_on_dense(benchmark=None):
    import time

    import numpy as np

    from iresearch_spark.search.executor import _ngram_chain_lengths

    rng = np.random.RandomState(7)
    slot_lists = [[0], [1], [2]]
    # dense: 3000 docs × ~80 events — the shape where the per-event Python
    # loop pays ~240k interpreter steps
    keys, tvals, doc_rank = _rand_streams(rng, n_docs=3000, max_events=80, n_terms=3)
    t0 = time.time()
    docs_u, L = _ngram_chain_lengths(keys, doc_rank, tvals, slot_lists, 3)
    t_vec = time.time() - t0
    t0 = time.time()
    exp = _scalar_chain_dp(keys, doc_rank, tvals, slot_lists, 3)
    t_scalar = time.time() - t0
    assert {int(d): int(v) for d, v in zip(docs_u, L)} == exp
    # generous margin — vectorized must beat the interpreted loop outright
    assert t_vec < t_scalar, (t_vec, t_scalar)


# --------------------------------------------------------------------------
# compile-time errors instead of kernel-time failures
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("r4tiny"))
    df = spark.createDataFrame(
        [("d1", "fast scan merge"), ("d2", "slow scan"), ("d3", "fast merge")],
        "doc_key string, text string",
    )
    IndexBuilder(spark, path, num_segments=1).build(df, key_col="doc_key", text_col="text")
    return IndexReader(spark, path)


def test_nested_phrase_now_evaluates(spark, tiny_idx):
    # nested Phrase/SamePosition compile to the in-kernel scored phrase leaf
    # (semantics covered by tests/test_nested_phrase.py) — no more rejection
    s = Searcher(tiny_idx)
    got = s.search(flt.And((flt.Term("fast"), flt.Phrase(("fast", "scan")))), k=5)
    assert got.count() >= 0  # evaluates without a compile error
    empty = s.search(flt.Or((flt.Term("fast"), flt.SamePosition(("a", "b")))), k=5)
    assert empty.count() >= 0


def test_append_callable_analyzer_rejected(spark, tmp_path):
    path = str(tmp_path / "r4callable")

    def my_analyzer(texts):  # a callable analyzer: persisted only as repr()
        return texts.str.split(" ")

    df = spark.createDataFrame([("d1", "a b c")], "doc_key string, text string")
    b = IndexBuilder(spark, path, num_segments=1)
    b.build(df, key_col="doc_key", fields=(("body", "text", my_analyzer),))
    df2 = spark.createDataFrame([("d2", "c d e")], "doc_key string, text string")
    with pytest.raises(ValueError, match="callable analyzer"):
        IndexBuilder(spark, path, num_segments=1).append(df2)
    # passing fields explicitly works
    IndexBuilder(spark, path, num_segments=1).append(
        df2, fields=(("body", "text", my_analyzer),)
    )
    reader = IndexReader(spark, path)
    got = Searcher(reader).search(flt.Term("c"), k=5).count()
    assert got == 2


# --------------------------------------------------------------------------
# PAY payload stream: codec round-trip and the payload tokenizer (the
# search surface and consolidation of the sidecar: test_sidecars.py)
# --------------------------------------------------------------------------


def test_payload_value_stream_roundtrip():
    import numpy as np

    from iresearch_spark.index.codec import encode_value_stream_arrow, vbyte_decode

    rng = np.random.RandomState(3)
    # 3 terms with ragged (term, doc) posting rows and arbitrary payloads
    freqs = np.array([2, 1, 3, 1, 4], dtype=np.int64)  # 5 posting rows
    term_bounds = np.array([0, 2, 3, 5], dtype=np.int64)  # rows per term: 2,1,2
    values = rng.randint(0, 10**9, size=int(freqs.sum())).astype(np.int64)
    arr = encode_value_stream_arrow(values, freqs, term_bounds)
    assert len(arr) == 3
    ppre = np.zeros(freqs.size + 1, np.int64)
    np.cumsum(freqs, out=ppre[1:])
    tok_bounds = ppre[term_bounds]
    for t in range(3):
        got = vbyte_decode(arr[t].as_py()).astype(np.int64)
        exp = values[tok_bounds[t] : tok_bounds[t + 1]]
        assert (got == exp).all()
    with pytest.raises(ValueError, match="non-negative"):
        encode_value_stream_arrow(np.array([-1]), np.array([1]), np.array([0, 1]))


def test_payload_tokenizer_plane():
    import pandas as pd

    from iresearch_spark.analysis.tokenizers import get_tokenizer

    tok = get_tokenizer("payload:|")
    assert getattr(tok, "emits_payloads", False)
    out = tok(pd.Series(["Fast|12 scan|7 bare x|notnum", None])).tolist()
    assert out[0] == (["fast", "scan", "bare", "x"], [12, 7, 0, 0])
    assert out[1] == ([], [])


# --------------------------------------------------------------------------
# LLM-pipeline additions: winnowing fingerprints, BPE-ish token count,
# embedding-cosine near-dup (LSH candidates + exact rerank)
# --------------------------------------------------------------------------


def test_winnow_detects_shared_passage(spark):
    # winnowing guarantee: token runs >= window+k-1 (= 8 here) shared between
    # docs produce at least one common selected fingerprint
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, "intro text before " + shared + " trailing words here"),
            (2, "totally different opening " + shared + " and another ending"),
            (3, "no overlap with anything else at all in this document"),
        ],
        "doc_id int, text string",
    )
    fps = textops.winnow_fingerprints(df, k=5, window=4)
    a = {r["fp"] for r in fps.where(F.col("doc_id") == 1).collect()}
    b = {r["fp"] for r in fps.where(F.col("doc_id") == 2).collect()}
    c = {r["fp"] for r in fps.where(F.col("doc_id") == 3).collect()}
    assert a & b, "docs sharing an 8-token run must share a fingerprint"
    assert not (a & c) and not (b & c)


def test_winnow_whitespace_invariance(spark):
    df = spark.createDataFrame(
        [(1, "One two, THREE four five six seven eight nine ten"),
         (2, "one  two three\tfour five SIX seven eight nine ten")],
        "doc_id int, text string",
    )
    fps = textops.winnow_fingerprints(df)
    a = sorted(r["fp"] for r in fps.where(F.col("doc_id") == 1).collect())
    b = sorted(r["fp"] for r in fps.where(F.col("doc_id") == 2).collect())
    assert a == b  # case/punct/whitespace-normalized identity


def test_token_stats_bpe_ish(spark):
    df = spark.createDataFrame(
        [(1, "hello, world 42")],
        "doc_id int, text string",
    )
    r = textops.token_stats(df).collect()[0]
    # words: hello world 42 -> 3; subtokens: hell|o|,|worl|d|4|2 -> 7
    assert r["n_tokens"] == 3
    assert r["n_subtokens"] == 7


def test_cosine_near_dup_pairs(spark):
    import math
    # planted near-dup pair (0,1) plus orthogonal-ish distractors
    base = [1.0, 0.2, 0.1, 0.05] + [0.0] * 4
    near = [0.98, 0.22, 0.09, 0.06] + [0.0] * 4
    rows = [(0, base), (1, near)] + [
        (i, [0.0] * (i % 8) + [1.0] + [0.0] * (7 - i % 8)) for i in range(2, 10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = vecops.cosine_near_dup_pairs(df, threshold=0.95, n_planes=4, dim=8)
    pairs = {(r["a"], r["b"]) for r in got.collect()}
    assert (0, 1) in pairs
    # exact rerank: no pair below the threshold sneaks through
    for r in got.collect():
        assert r["cos_sim"] >= 0.95
