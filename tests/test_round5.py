"""Round-5 unit fixtures: text-analyzer edge-ngram option.

Reference: text_token_stream.cpp:483-531 (edgeNgram options min/max/
preserveOriginal) and :1137-1204 (next_ngram emission + increment
semantics). Fixtures below hand-trace that code for each case class.
"""

import pandas as pd
import pytest

from iresearch_spark.analysis.tokenizers import get_tokenizer, text_edge_tokenize


def run(tok, text):
    return tok(pd.Series([text])).iloc[0]


def test_edge_basic_grams_and_positions():
    # 'customer' stems to 'custom' (L=6): grams 'cu','cus' at ONE position
    tok = text_edge_tokenize("en", (), 2, 3)
    ts, ps = run(tok, "customer scans")
    # 'scans' stems to 'scan' (L=4): grams 'sc','sca'
    assert ts == ["cu", "cus", "sc", "sca"]
    assert ps == [1, 1, 2, 2]  # grams of one word share its position slot


def test_edge_preserve_original_long_word():
    # L > max_gram with preserveOriginal → full word emitted LAST
    # (next_ngram: length>max branch sets ngram.it=end when preserve)
    tok = text_edge_tokenize("en", (), 2, 3, preserve_original=True)
    ts, ps = run(tok, "customer")
    assert ts == ["cu", "cus", "custom"]
    assert ps == [1, 1, 1]


def test_edge_short_word_only_under_preserve():
    # L < min_gram: nothing without preserveOriginal, the word itself with it
    tok = text_edge_tokenize("en", (), 3, 4)
    ts, ps = run(tok, "go big")  # 'go' L=2 < 3
    assert ts == ["big"] and ps == [1]  # skipped word consumed NO increment
    tok_p = text_edge_tokenize("en", (), 3, 4, preserve_original=True)
    ts, ps = run(tok_p, "go big")
    assert ts == ["go", "big"] and ps == [1, 2]


def test_edge_word_within_bounds_includes_full_word_as_gram():
    # min <= L <= max: the L-gram IS the full word (end-of-word branch),
    # no duplicate emission under preserveOriginal
    for preserve in (False, True):
        tok = text_edge_tokenize("en", (), 2, 6, preserve_original=preserve)
        ts, ps = run(tok, "custom")
        assert ts == ["cu", "cus", "cust", "custo", "custom"]
        assert ps == [1] * 5


def test_edge_applies_after_stopword_and_stem():
    # stopwords drop BEFORE gramming and never consume a position
    tok = text_edge_tokenize("en", ("the",), 2, 3)
    ts, ps = run(tok, "the customer")
    assert ts == ["cu", "cus"] and ps == [1, 1]


def test_edge_spec_parsing():
    tok = get_tokenizer("text:en,edge:2-3-p,the,of")
    assert getattr(tok, "emits_positions", False)
    ts, ps = run(tok, "the customer of it")
    # stopwords the/of dropped; custom → cu,cus,custom; it → it? L=2>=2 → 'it'
    assert ts == ["cu", "cus", "custom", "it"]
    assert ps == [1, 1, 1, 2]


def test_edge_spec_bad_bounds():
    with pytest.raises(ValueError):
        text_edge_tokenize("en", (), 3, 2)


# ---------------------------------------------------------------------------
# batch-serving 2M merge gate (r4 verdict item 7): both sides of the
# driver-merge / Window-fallback boundary must return identical results, and
# the kernel's per-(segment, query) pre-top-k bound must hold (it is what
# makes the driver merge's candidate volume n_segments × n_plans × k).
# ---------------------------------------------------------------------------


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


def test_batch_merge_gate_both_sides_identical(spark, batch_index):
    from iresearch_spark import Searcher, filters as flt

    batch = {
        "qa": flt.Term("spark"),
        "qb": flt.Or((flt.Term("scan"), flt.Term("merge"))),
        "qc": flt.And((flt.Term("rank"), flt.Term("query"))),
    }
    k = 7

    def rows_of(searcher):
        return sorted(
            (r["query"], r["segment_id"], r["doc_id"], round(r["score"], 9))
            for r in searcher.search_many(batch, k=k).collect()
        )

    s_driver = Searcher(batch_index)
    assert 3 * len(batch) * k <= s_driver.BATCH_MERGE_MAX  # default: driver merge
    got_driver = rows_of(s_driver)

    s_window = Searcher(batch_index)
    s_window.BATCH_MERGE_MAX = 0  # force the distributed Window fallback
    got_window = rows_of(s_window)

    assert got_driver == got_window
    assert len({q for q, *_ in got_driver}) == len(batch)
    # ranking within each query is the same under both paths
    for q in batch:
        a = [t for t in got_driver if t[0] == q]
        assert 0 < len(a) <= 3 * k


def test_batch_kernel_per_segment_topk_bound(spark, batch_index):
    # the invariant the driver merge's size arithmetic rests on: each segment
    # kernel emits at most k rows per (segment_id, query)
    from iresearch_spark import Searcher, filters as flt

    k = 3
    s = Searcher(batch_index)
    res = s.search_many({"qa": flt.Term("spark"), "qb": flt.Prefix("s")}, k=k)
    counts = (
        res.groupBy("query", "segment_id").count().collect()
    )
    # search_many returns the global top-k per query; per (segment, query) the
    # contribution can never exceed k
    assert all(r["count"] <= k for r in counts)
    for q in ("qa", "qb"):
        assert sum(r["count"] for r in counts if r["query"] == q) <= k


# --------------------------------------------------------------------------
# Gapped live segment ids (round-5 fix): a build can create FEWER segments
# than requested (footer fast path with few row groups; legacy path with
# empty range buckets), so an append starts at next_segment_id and leaves an
# id gap — e.g. live {0, 4}. A previous consolidation does the same (merging
# [0,1]→0 leaves {0, 2, 3}). The tie-break invariant only needs runs
# contiguous in the LIVE order: consolidate merges into the LOWEST id, so a
# run with no untouched live segment inside preserves the global
# (segment_id, doc_id) order exactly.
# --------------------------------------------------------------------------


def test_longest_contiguous_live_order():
    from iresearch_spark.index.consolidate import _longest_contiguous

    # numeric semantics unchanged for legacy callers
    assert _longest_contiguous([0, 2, 3, 4, 7]) == [2, 3, 4]
    # live-order semantics: {0, 4} adjacent when nothing lives between
    assert _longest_contiguous([0, 4], live_ids=[0, 4]) == [0, 4]
    # a live segment in the gap breaks the run
    assert _longest_contiguous([0, 4], live_ids=[0, 2, 4]) == []
    # post-consolidation shape: live {0, 2, 3}, all mergeable
    assert _longest_contiguous([0, 2, 3], live_ids=[0, 2, 3]) == [0, 2, 3]


def test_gapped_consolidate_equals_fresh_build(spark, tmp_path_factory):
    """Fast-path build (1 row group → 1 segment despite num_segments=4) +
    append → live ids {0, 4}; consolidating the gapped pair must equal a
    fresh single-segment build of the union (doc ids, keys AND scores)."""
    import pyspark.sql.functions as F

    from iresearch_spark import IndexBuilder, IndexReader, Searcher, consolidate
    from iresearch_spark import filters as flt
    from tests.test_build_and_query import make_corpus

    docs = make_corpus(120)
    base = str(tmp_path_factory.mktemp("gapc"))
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_key string, text string"
    )
    p1, p2, pu = f"{base}/h1", f"{base}/h2", f"{base}/union"
    items = sorted(docs)
    df.where(F.col("doc_key") <= items[59]).coalesce(1).write.parquet(p1)
    df.where(F.col("doc_key") > items[59]).coalesce(1).write.parquet(p2)
    df.coalesce(1).write.parquet(pu)

    idx = f"{base}/idx"
    b = IndexBuilder(spark, idx, analyzer="simple", num_segments=4)
    b.build(spark.read.parquet(p1), key_col="doc_key", text_col="text")
    import os

    assert os.path.exists(f"{idx}/gen=1/filegroups.json")  # fast path ran
    b.append(spark.read.parquet(p2))
    r = IndexReader(spark, idx)
    live = sorted(r.segment_docs_counts())
    assert len(live) == 2 and live[1] > live[0] + 1  # the id gap is real

    consolidate(r)  # pre-fix: ValueError("contiguous segment-id run")
    r2 = IndexReader(spark, idx)
    assert sorted(r2.segment_docs_counts()) == [live[0]]

    fresh = f"{base}/fresh"
    IndexBuilder(spark, fresh, analyzer="simple", num_segments=1).build(
        spark.read.parquet(pu), key_col="doc_key", text_col="text"
    )
    for q in (flt.Term("spark"), flt.Or((flt.Term("scan"), flt.Term("hash")))):
        a = [
            (h["doc_key"], h["doc_id"], round(h["score"], 10))
            for h in Searcher(r2).search(q, k=10).collect()
        ]
        bb = [
            (h["doc_key"], h["doc_id"], round(h["score"], 10))
            for h in Searcher(IndexReader(spark, fresh)).search(q, k=10).collect()
        ]
        assert a == bb


def test_consolidate_rejects_run_around_live_segment(spark, tmp_path_factory):
    from iresearch_spark import IndexBuilder, IndexReader, consolidate
    from tests.test_build_and_query import make_corpus

    docs = make_corpus(90)
    path = str(tmp_path_factory.mktemp("gapr"))
    df = spark.createDataFrame(sorted(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, analyzer="simple", num_segments=3).build(
        df, key_col="doc_key", text_col="text"
    )
    r = IndexReader(spark, path)
    assert sorted(r.segment_docs_counts()) == [0, 1, 2]
    with pytest.raises(ValueError, match="contiguous in the LIVE"):
        consolidate(r, [0, 2])  # segment 1 is live and untouched


# --------------------------------------------------------------------------
# Collation locale tailoring (VERDICT r4 "What's missing" #3, shrunk):
# collation:<strength>[,<locale>] applies a CLDR tailoring table before the
# generic NFKD fold. Expected orders below are hand-derived from the public
# CLDR root + sv / de-u-co-phonebk tailorings.
# --------------------------------------------------------------------------


def _collate(words, spec):
    from iresearch_spark.analysis.tokenizers import get_tokenizer

    tok = get_tokenizer(spec)
    keys = tok(pd.Series(list(words))).map(lambda ts: ts[0])
    return [w for _, w in sorted(zip(keys, words))]


def test_collation_swedish_tailoring():
    # CLDR sv: ... x y z å ä ö — distinct PRIMARY letters after z
    words = ["öga", "ålder", "zebra", "ärlig", "akta", "vante"]
    assert _collate(words, "collation:primary,sv") == [
        "akta", "vante", "zebra", "ålder", "ärlig", "öga"
    ]
    # untailored root order folds å/ä→a and ö→o instead
    assert _collate(words, "collation:primary") == [
        "akta", "ålder", "ärlig", "öga", "vante", "zebra"
    ]
    # tailoring holds within a shared prefix too: zza < zå (å after ALL z)
    assert _collate(["zå", "zza"], "collation:primary,sv") == ["zza", "zå"]


def test_collation_german_phonebook():
    # DIN 5007-2: ä=ae at PRIMARY ("Äbte" between "Abt" and "Achat"... here:
    # Müller = Mueller exactly, and sorts with 'ue', before Muster)
    words = ["Muster", "Müller", "Mueller", "Mutter"]
    assert _collate(words, "collation:primary,de_phonebook") == [
        "Mueller", "Müller", "Muster", "Mutter"
    ]
    from iresearch_spark.analysis.tokenizers import get_tokenizer

    tok = get_tokenizer("collation:primary,de_phonebook")
    k = tok(pd.Series(["Müller", "Mueller"]))
    assert k.iloc[0] == k.iloc[1]  # collate EQUAL, the phonebook rule
    # standard German needs no table: NFKD+strip gives ä≈a (CLDR de standard)
    assert _collate(["Mahler", "Mähler", "Maler"], "collation:primary") == [
        "Mahler", "Mähler", "Maler"
    ]
    # ß = ss at primary via casefold (both tailored and untailored)
    tok2 = get_tokenizer("collation:primary")
    k2 = tok2(pd.Series(["Straße", "Strasse"]))
    assert k2.iloc[0] == k2.iloc[1]


def test_collation_czech_contraction():
    # CLDR cs: c < \u010d < d, h < ch < i (ch = CONTRACTION, a distinct
    # letter after EVERY plain h-word), r < \u0159, s < \u0161, z < \u017e
    words = ["cibule", "\u010daj", "daleko", "hora", "humr", "chata", "ihla"]
    assert _collate(words, "collation:primary,cs") == [
        "cibule", "\u010daj", "daleko", "hora", "humr", "chata", "ihla"
    ]
    # untailored root order treats ch as c+h instead
    assert _collate(["hora", "chata", "ihla"], "collation:primary") == [
        "chata", "hora", "ihla"
    ]
    # contraction matching is longest-first within a shared prefix:
    # "hz" (plain h, then z) sorts before "cha" mapped to the ch-letter
    assert _collate(["hz", "chata"], "collation:primary,cs") == ["hz", "chata"]


def test_collation_danish_contraction_and_equivalences():
    import pandas as pd

    from iresearch_spark.analysis.tokenizers import get_tokenizer

    # CLDR da: ... x y z \u00e6 \u00f8 \u00e5, with CONTRACTION aa = \u00e5
    words = ["zebra", "\u00e6ble", "\u00f8je", "\u00e5s", "aarhus", "yacht", "xylofon"]
    assert _collate(words, "collation:primary,da") == [
        "xylofon", "yacht", "zebra", "\u00e6ble", "\u00f8je", "aarhus", "\u00e5s"
    ]
    tok = get_tokenizer("collation:primary,da")
    # aa == \u00e5 (primary-equal contraction), \u00f6 == \u00f8, \u00fc == y
    k = tok(pd.Series(["aagaard", "\u00e5gaard", "\u00f6je", "\u00f8je", "\u00fcx", "yx"]))
    assert k.iloc[0] == k.iloc[1]
    assert k.iloc[2] == k.iloc[3]
    assert k.iloc[4] == k.iloc[5]
    # untailored root order folds \u00e5 back to a: aa-words sort at 'a'
    assert _collate(["\u00e5s", "akta", "zebra"], "collation:primary") == [
        "akta", "\u00e5s", "zebra"
    ]


def test_collation_unknown_locale_raises():
    from iresearch_spark.analysis.tokenizers import get_tokenizer

    tok = get_tokenizer("collation:primary,xx")
    with pytest.raises(ValueError, match="no collation tailoring"):
        tok(pd.Series(["a"]))


# --------------------------------------------------------------------------
# grouped pair-expansion plan rewrites (round-5): capped paths must be
# result-identical to the exact self-join formulations
# --------------------------------------------------------------------------


def test_jaccard_capped_equals_uncapped_below_cap(spark):
    """With a cap no shingle exceeds, the grouped capped plan and the exact
    self-join plan are the same computation — results must be identical."""
    import numpy as np

    from iresearch_spark import textops

    rng = np.random.default_rng(31)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = [
        ("d%02d" % i, " ".join(rng.choice(words, size=12)))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {
        (r["a"], r["b"], r["jaccard"])
        for r in textops.ngram_jaccard_pairs(df, k=2).collect()
    }
    capped = {
        (r["a"], r["b"], r["jaccard"])
        for r in textops.ngram_jaccard_pairs(df, k=2, max_shingle_freq=10**6).collect()
    }
    assert capped == exact and exact


def test_minhash_lsh_capped_equals_uncapped_below_cap(spark):
    import numpy as np

    from iresearch_spark import textops

    rng = np.random.default_rng(33)
    words = ["scan", "sort", "merge", "dup", "page", "web"]
    rows = [("%d" % i, " ".join(rng.choice(words, size=10))) for i in range(30)]
    # exact duplicates + a near-dup guarantee non-empty LSH buckets
    rows += [("100", rows[0][1]), ("101", rows[0][1]), ("102", rows[1][1] + " web")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {
        (r["a"], r["b"])
        for r in textops.minhash_lsh_pairs(df, id_col="doc_id").collect()
    }
    capped = {
        (r["a"], r["b"])
        for r in textops.minhash_lsh_pairs(df, id_col="doc_id", max_bucket=10**6).collect()
    }
    assert capped == exact and exact


# --------------------------------------------------------------------------
# under-parallelized-input widening (round-5): the gate must fire only on
# gross under-parallelism, and the widen must not add a second exchange
# --------------------------------------------------------------------------


def test_widen_fires_on_single_partition_with_one_exchange(spark):
    from iresearch_spark import textops

    rows = [("d%d" % i, "alpha beta gamma delta") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, text string").coalesce(1)
    target = spark.sparkContext.defaultParallelism
    if target < 2:
        return  # gate can't fire on a 1-core session
    widened = textops._widen(df, "doc_id")
    assert widened.rdd.getNumPartitions() == target
    # the repartition must be the ONLY exchange in the full signature plan:
    # hash partitioning on doc_id satisfies the groupBy(doc_id) clustering
    sig = textops.minhash_signatures(df, num_hashes=4)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # and the signatures themselves are partition-layout-independent
    wide = sorted(tuple(r) for r in sig.collect())
    flat = sorted(
        tuple(r)
        for r in textops.minhash_signatures(
            df.repartition(target, "doc_id"), num_hashes=4
        ).collect()
    )
    assert wide == flat and wide


def test_widen_noop_on_well_partitioned_input(spark):
    from iresearch_spark import textops

    target = spark.sparkContext.defaultParallelism
    rows = [("d%d" % i, "alpha beta gamma") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(target)
    assert textops._widen(df, "doc_id") is df


# --------------------------------------------------------------------------
# plan-level contract: the postings scan's term predicate must reach the
# parquet reader as PushedFilters (row-group pruning on the term-sorted
# layout) — the property every 100-TB claim in this repo rests on
# --------------------------------------------------------------------------


def test_postings_scan_term_pushdown(spark, tmp_path_factory):
    from iresearch_spark import IndexBuilder, IndexReader

    path = str(tmp_path_factory.mktemp("pushdown_idx"))
    df = spark.createDataFrame(
        [(f"d{i}", f"alpha beta w{i % 7} scan merge") for i in range(200)],
        "doc_key string, text string",
    )
    IndexBuilder(spark, path, analyzer="simple", num_segments=2).build(
        df, key_col="doc_key", text_col="text"
    )
    reader = IndexReader(spark, path)

    def pushed_filters(sdf):
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters:" in plan, plan
        return plan.split("PushedFilters:")[1].split("]")[0], plan

    # small term set: range + In, ALL pushed to parquet
    pf, plan = pushed_filters(reader.postings_for_terms(["merge", "scan"]))
    assert "GreaterThanOrEqual(term," in pf and "LessThanOrEqual(term," in pf, plan
    assert "In(term" in pf or "EqualTo(term" in pf, plan

    # very large term set: the In list would not push — the broadcast
    # semi-join path must still push the min/max RANGE clause so row-group
    # pruning survives at any term-set size
    big = sorted(f"t{i:05d}" for i in range(2100))
    sdf = reader.postings_for_terms(big)
    pf2, plan2 = pushed_filters(sdf)
    assert "GreaterThanOrEqual(term," in pf2 and "LessThanOrEqual(term," in pf2, plan2
    assert "In(term" not in pf2  # the giant set rides the semi-join instead


# --------------------------------------------------------------------------
# simhash64 narrow-map rewrite (round-5 final): zero-shuffle HOF formulation
# must equal a scalar Python oracle and keep the explode-path's row semantics
# --------------------------------------------------------------------------


def test_simhash64_matches_scalar_oracle_and_drops_tokenless_docs(spark):
    """The per-row higher-order-function simhash must (a) byte-match a scalar
    md5 sign-sum oracle and (b) drop docs with no tokens / null text exactly
    like the previous explode-based plan (and the DuckDB unnest oracle)."""
    import hashlib
    import re

    from iresearch_spark import textops

    rows = [
        ("d0", "alpha beta alpha scan"),
        ("d1", "merge merge merge"),
        ("d2", "alpha beta alpha scan"),  # same text as d0 → same signature
        ("d3", "!!! ---"),  # tokenless → dropped
        ("d4", None),  # null text → dropped
        ("d5", "Mixed CASE 42 tokens, punct-split"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r["simhash"] for r in textops.simhash64(df).collect()}

    def oracle(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        if not toks:
            return None
        sums = [0] * 64
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            hi, lo = h >> 32, h & 0xFFFFFFFF
            for i in range(64):
                bit = (hi if i < 32 else lo) >> (i % 32) & 1
                sums[i] += 1 if bit else -1
        v = sum(1 << i for i in range(64) if sums[i] > 0)
        return v - (1 << 64) if v >= (1 << 63) else v  # signed long

    expect = {d: oracle(t) for d, t in rows if t is not None and oracle(t) is not None}
    assert got == expect
    assert "d3" not in got and "d4" not in got
    assert got["d0"] == got["d2"]


def test_simhash64_plan_has_no_shuffle(spark):
    from iresearch_spark import textops

    # spark.range already yields >1 partition, so _widen must not fire either
    df = spark.range(100, numPartitions=4).selectExpr(
        "cast(id as string) as doc_id", "'alpha beta scan' as text"
    )
    plan = textops.simhash64(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_minhash_signatures_plan_has_no_shuffle(spark):
    """Same narrow-map rewrite as simhash64: a min over a doc's own shingles
    needs no groupBy — the plan must be shuffle-free on well-split input."""
    from iresearch_spark import textops

    df = spark.range(100, numPartitions=4).selectExpr(
        "cast(id as string) as doc_id", "'alpha beta gamma delta scan' as text"
    )
    plan = (
        textops.minhash_signatures(df, num_hashes=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------------------
# Routed segment placement: zero empty tasks (one task per segment, exactly
# n partitions) replacing the collision-free-modulus scheme (which needed
# 250 partitions for 32 dense ids — 218 empty tasks per kernel stage)
# --------------------------------------------------------------------------


def test_segment_routing_keys_bijective():
    from iresearch_spark.partition import segment_routing_keys, spark_murmur3_int32

    for ids in ([0], list(range(8)), list(range(32)), [0, 4, 7, 19], list(range(3, 300, 7))):
        keys, n = segment_routing_keys(ids)
        assert n == len(set(ids))
        sids = sorted(set(ids))
        buckets = []
        for j, sid in enumerate(sids):
            b = spark_murmur3_int32(keys[sid]) % n
            if b < 0:
                b += n
            buckets.append(b)
            assert b == j, (sid, keys[sid], b, j)  # dense rank placement
        assert len(set(buckets)) == n  # bijective: one segment per partition


def test_routed_placement_one_segment_per_task(spark, batch_index):
    from pyspark.sql import functions as F

    from iresearch_spark import Searcher

    s = Searcher(batch_index)
    routing = s._seg_routing()
    assert routing is not None, "routed scheme should engage for small indexes"
    _, n = routing
    norms = batch_index.norms()
    routed = s._seg_partitioned(norms)
    assert routed.rdd.getNumPartitions() == n  # EXACTLY n partitions
    occ = (
        routed.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(F.countDistinct("segment_id").alias("segs"))
        .collect()
    )
    assert all(r["segs"] == 1 for r in occ), occ  # never two segments in a task
    assert len(occ) == n  # and no empty partitions for live dense ids


def test_routed_vs_fallback_results_identical(spark, batch_index):
    from iresearch_spark import Searcher, filters as flt

    q = flt.Or((flt.Term("alpha"), flt.Phrase(("alpha", "beta"))))
    s_routed = Searcher(batch_index)
    s_fallback = Searcher(batch_index)
    s_fallback.ROUTED_MAX_SEGMENTS = 0  # force the collision-free-modulus path
    assert s_fallback._seg_routing() is None
    a = [tuple(r) for r in s_routed.search(q, k=20).collect()]
    b = [tuple(r) for r in s_fallback.search(q, k=20).collect()]
    assert a == b
    pa = sorted(tuple(r) for r in s_routed.search_many({"a": q, "b": flt.Term("beta")}, k=5).collect())
    pb = sorted(tuple(r) for r in s_fallback.search_many({"a": q, "b": flt.Term("beta")}, k=5).collect())
    assert pa == pb


def test_routed_placement_adds_no_exchange(spark, batch_index):
    """The route column is both the shuffle key AND the cogroup key, so
    Catalyst's clustered-distribution check passes — grouping by segment_id
    over a route-partitioned child would silently re-exchange instead."""
    from iresearch_spark import Searcher, filters as flt

    def n_exchanges(s):
        # search() returns local rows; its kernel's plan is matches()'s
        p = s.matches(flt.Term("alpha"))._jdf.queryExecution().executedPlan().toString()
        return p.count("Exchange")

    s_routed = Searcher(batch_index)
    s_fallback = Searcher(batch_index)
    s_fallback.ROUTED_MAX_SEGMENTS = 0
    assert n_exchanges(s_routed) == n_exchanges(s_fallback)


def test_norms_cache_reused_and_result_identical(spark, batch_index):
    """The seg-partitioned norms persist once per (field set) per Searcher —
    the BM25 working set held hot like the reference's open reader — and a
    cache-bypassing Searcher returns identical results."""
    from iresearch_spark import Searcher, filters as flt

    s = Searcher(batch_index)
    q1 = [tuple(r) for r in s.search(flt.Term("alpha"), k=10).collect()]
    ent_after_first = dict(s._norms_parts)
    q2 = [tuple(r) for r in s.search(flt.Term("beta"), k=10).collect()]
    assert len(s._norms_parts) == 1  # same default-field entry reused
    assert next(iter(s._norms_parts.values())) is next(iter(ent_after_first.values()))

    s_nocache = Searcher(batch_index)
    s_nocache._seg_norms = lambda norms, key: s_nocache._seg_partitioned(norms)
    assert q1 == [tuple(r) for r in s_nocache.search(flt.Term("alpha"), k=10).collect()]
    assert q2 == [tuple(r) for r in s_nocache.search(flt.Term("beta"), k=10).collect()]

    s.unpersist()
    assert s._norms_parts == {}
    s.unpersist()  # idempotent


# --------------------------------------------------------------------------
# Fuzzy exact-prefix option (by_edit_distance opts.prefix,
# levenshtein_filter.cpp:241-265): candidates must start with the prefix,
# edits apply to the remainder, similarity length = |prefix| + |term|
# --------------------------------------------------------------------------


def _fuzzy_prefix_brute(vocab, pfx, term, d, tr=False):
    from iresearch_spark.search.executor import _fuzzy_distances

    out = []
    for t in vocab:
        if not t.startswith(pfx):
            continue
        if _fuzzy_distances([t[len(pfx):]], term, d, transpose=tr)[0] <= d:
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


def test_fuzzy_prefix_automaton_off_parity(spark, batch_index, monkeypatch):
    import iresearch_spark.search.executor as ex
    from iresearch_spark import filters as flt

    f = flt.Fuzzy("cab", max_distance=1, prefix="s")
    on, _ = ex.expand_multiterm(f, batch_index)
    monkeypatch.setenv("IRS_FUZZY_AUTOMATON", "0")
    off, _ = ex.expand_multiterm(f, batch_index)
    assert on == off


def test_fuzzy_prefix_distributed_path_parity(spark, batch_index):
    """Over-cap readers take the startswith-pushdown + suffix-DP path; the
    search results must equal the driver-cached path's."""
    from iresearch_spark import IndexReader, Searcher, filters as flt

    f = flt.Fuzzy("cab", max_distance=1, prefix="s")
    fast = [tuple(r) for r in Searcher(batch_index).search(f, k=50).collect()]
    r2 = IndexReader(spark, batch_index.index_path)
    r2.FUZZY_VOCAB_MAX = 0
    dist = [tuple(r) for r in Searcher(r2).search(f, k=50).collect()]
    assert fast == dist and len(fast) > 0


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


# --------------------------------------------------------------------------
# ngram start/end markers (Options.start_marker/end_marker): sequences
# pinned against the reference's own fixtures
# (tests/analysis/ngram_token_stream_test.cpp:1030-1163, input "quick",
# start marker "$", end marker "^")
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "mn,mx,po,expected",
    [
        (1, 1, False, ["$q", "u", "i", "c", "k^"]),
        (1, 1, True, ["$q", "$quick", "quick^", "u", "i", "c", "k^"]),
        (
            1, 3, False,
            ["$q", "$qu", "$qui", "u", "ui", "uic",
             "i", "ic", "ick^", "c", "ck^", "k^"],
        ),
    ],
)
def test_ngram_marker_reference_fixtures(mn, mx, po, expected):
    from iresearch_spark.analysis.tokenizers import ngram_tokens

    got = ngram_tokens(pd.Series(["quick"]), mn, mx, po, "$", "^").tolist()[0]
    assert got == expected


def test_ngram_marker_whole_cover_and_short_inputs():
    from iresearch_spark.analysis.tokenizers import ngram_tokens

    # whole-cover gram: start-marked then re-emitted end-marked
    assert ngram_tokens(pd.Series(["abc"]), 2, 3, False, "^", "$").tolist()[0] == [
        "^ab", "^abc", "abc$", "bc$"
    ]
    # input shorter than min_gram: only the preserved original chain
    assert ngram_tokens(pd.Series(["a"]), 2, 3, True, "^", "$").tolist()[0] == [
        "^a", "a$"
    ]
    # end marker only
    assert ngram_tokens(pd.Series(["abc"]), 2, 2, True, "", "$").tolist()[0] == [
        "ab", "abc$", "bc$"
    ]
    # empty input emits nothing (reference: next() false immediately)
    assert ngram_tokens(pd.Series([""]), 1, 2, True, "^", "$").tolist()[0] == []


def test_ngram_marker_spec_parsing():
    from iresearch_spark.analysis.tokenizers import get_tokenizer

    tk = get_tokenizer("ngram:1,1,start=$,end=^")
    assert tk(pd.Series(["quick"])).tolist()[0] == ["$q", "u", "i", "c", "k^"]
    legacy = get_tokenizer("ngram:2,3")
    assert legacy(pd.Series(["abcd"])).tolist()[0] == ["ab", "bc", "cd", "abc", "bcd"]


# --------------------------------------------------------------------------
# segmentation word_break modes (options_t::word_break_t, accept_token at
# segmentation_token_stream.cpp:280-293; fixtures
# segmentation_stream_tests.cpp:141-205)
# --------------------------------------------------------------------------


def test_segmentation_word_break_modes():
    from iresearch_spark.analysis.tokenizers import segmentation_tokenize

    # divergence-free input (no mid-word ':' / '.' where UAX29 and \w differ)
    data = "ab (1878) - cd"
    assert segmentation_tokenize(pd.Series([data])).tolist()[0] == ["ab", "1878", "cd"]
    assert segmentation_tokenize(pd.Series([data]), word_break="graphic").tolist()[0] == [
        "ab", "(", "1878", ")", "-", "cd"
    ]
    # ALL: every UAX29 segment incl. each whitespace char (WB999 per-char)
    assert segmentation_tokenize(pd.Series([data]), word_break="all").tolist()[0] == [
        "ab", " ", "(", "1878", ")", " ", "-", " ", "cd"
    ]


def test_segmentation_word_break_reference_fixture_modulo_divergence():
    """The reference's graphic fixture (segmentation_stream_tests.cpp:141),
    adjusted ONLY for the two documented \\w-vs-UAX29 divergences
    ('file:constantinople' and 'house.png' split at ':' / '.')."""
    from iresearch_spark.analysis.tokenizers import segmentation_tokenize

    data = (
        "File:Constantinople(1878)-Turkish Goverment information brocure "
        "(1950s) - Istanbul coffee house.png"
    )
    got = segmentation_tokenize(pd.Series([data]), case="upper", word_break="graphic").tolist()[0]
    expected = [
        "FILE", ":", "CONSTANTINOPLE",  # reference: one word (UAX29 MidLetter ':')
        "(", "1878", ")", "-", "TURKISH", "GOVERMENT", "INFORMATION",
        "BROCURE", "(", "1950S", ")", "-", "ISTANBUL", "COFFEE",
        "HOUSE", ".", "PNG",  # reference: one word (UAX29 MidNumLet '.')
    ]
    assert got == expected


def test_segmentation_word_break_spec():
    from iresearch_spark.analysis.tokenizers import get_tokenizer

    tk = get_tokenizer("segmentation:lower,graphic")
    assert tk(pd.Series(["a - b"])).tolist()[0] == ["a", "-", "b"]
    assert get_tokenizer("segmentation:upper,all")(pd.Series(["a b"])).tolist()[0] == [
        "A", " ", "B"
    ]


def test_norm_analyzer_registered_with_accent_option():
    """normalizing_token_stream options (case/accent,
    text_token_normalizing_stream.cpp:161-198, 367-414): registry name +
    norm:<case>[,<form>][,no-accent] spec; accent=false removes nonspacing
    marks via NFD-strip-NFC like the reference's ICU transliterator rule."""
    from iresearch_spark.analysis.tokenizers import get_tokenizer, norm_tokenize

    assert get_tokenizer("norm")(pd.Series(["Café"])).tolist()[0] == ["café"]
    assert norm_tokenize(pd.Series(["Café"]), accent=False).tolist()[0] == ["cafe"]
    tk = get_tokenizer("norm:upper,no-accent")
    assert tk(pd.Series(["Café Über"])).tolist()[0] == ["CAFE UBER"]
    assert get_tokenizer("norm:none")(pd.Series(["MiXeD"])).tolist()[0] == ["MiXeD"]


def test_nested_match_max_children(spark, tmp_path_factory):
    """Match.Max upper bound (nested_filter.hpp:35-52: Match is a [Min, Max]
    range; kMatchAny has no cap): parents with matching-children counts
    outside [min, max] are excluded."""
    from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt

    path = str(tmp_path_factory.mktemp("nestmax"))
    rows = []
    # parent Pg has g+1 matching children (g = 0..3)
    for g in range(4):
        for c in range(g + 1):
            rows.append((f"c{g}{c}", "scan merge", f"P{g}"))
        rows.append((f"cpad{g}", "sort pad", f"P{g}"))
        rows.append((f"P{g}", "", None))
    df = spark.createDataFrame(rows, "doc_key string, text string, parent_key string")
    IndexBuilder(spark, path, num_segments=2).build(
        df, key_col="doc_key", text_col="text", stored_cols=("parent_key",)
    )
    s = Searcher(IndexReader(spark, path))

    def hit(match, mn=1, mx=None):
        res = s.search(
            flt.Nested(flt.Term("scan"), match=match, min_children=mn, max_children=mx),
            k=10,
        )
        return {r["doc_key"] for r in res.collect()}

    assert hit("any") == {"P0", "P1", "P2", "P3"}
    assert hit("min", mn=2) == {"P1", "P2", "P3"}
    assert hit("min", mn=2, mx=3) == {"P1", "P2"}  # the [2, 3] range
    assert hit("any", mx=1) == {"P0"}              # kMatchAny with a cap = [1, 1]
