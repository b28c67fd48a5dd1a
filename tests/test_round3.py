"""Round-3 regressions: docs_mask inside pruned iterators (WAND/MaxScore/
conjunction with multi-block segments), delete-commit lost updates, the fused
postings+term_dict build stage, the scale-safe phrase scorer (per-segment
local top-k + exact seg counts, no single-partition Window), the matches-only
nested child pass, and same-position ngram chain semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index.deletes import delete_docs
from tests.oracle import ScalarIndex

# --------------------------------------------------------------------------
# deletes must be masked BEFORE top-k pruning (ADVICE r2 high): a big single
# segment (>2 blocks so WAND actually skips) whose top-ranking docs are all
# deleted — theta computed over deleted docs would skip live-doc blocks
# --------------------------------------------------------------------------

N_BIG = 700  # ~6 blocks of 128


def _big_docs() -> dict[str, str]:
    docs = {}
    for i in range(N_BIG):
        # tf of 'scan' rises with i, so the best docs are at the end;
        # 'sort' appears on even docs with its own gradient
        tf_scan = 1 + (i * 7) % 13
        tf_sort = 1 + (i * 5) % 11 if i % 2 == 0 else 0
        filler = ["pad"] * (3 + i % 5)
        docs[f"d{i:05d}"] = " ".join(["scan"] * tf_scan + ["sort"] * tf_sort + filler)
    return docs


@pytest.fixture(scope="module")
def big_del_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bigdel"))
    docs = _big_docs()
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=1).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    oracle = ScalarIndex(docs)
    # delete the CURRENT top-30 'scan' docs and the top-30 'sort' docs: the
    # pre-fix kernels would compute theta over exactly these and skip blocks
    top_scan = [k for k, _ in oracle.term_query("scan", k=30)]
    top_sort = [k for k, _ in oracle.term_query("sort", k=30)]
    deleted = sorted(set(top_scan) | set(top_sort))
    delete_docs(reader, deleted)
    return IndexReader(spark, path), docs, set(deleted), oracle


def _live(oracle_hits, deleted, k):
    return [(key, s) for key, s in oracle_hits if key not in deleted][:k]


def test_wand_single_term_masks_before_theta(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    got = [
        (r["doc_key"], r["score"])
        for r in Searcher(reader).search(flt.Term("scan"), k=10).collect()
    ]
    exp = _live(oracle.term_query("scan", k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-9


def test_maxscore_union_masks_before_theta(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    got = [
        (r["doc_key"], r["score"])
        for r in Searcher(reader)
        .search(flt.Or((flt.Term("scan"), flt.Term("sort"))), k=10)
        .collect()
    ]
    exp = _live(oracle.or_query(["scan", "sort"], k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-9


def test_conjunction_masks_driving_leg(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    got = [
        (r["doc_key"], r["score"])
        for r in Searcher(reader)
        .search(flt.And((flt.Term("scan"), flt.Term("sort"))), k=10)
        .collect()
    ]
    exp = _live(oracle.and_query(["scan", "sort"], k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]


def test_batch_path_masks_before_theta(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    res = Searcher(reader).search_many({"q": flt.Term("scan")}, k=10)
    keys = reader.docs().select("segment_id", "doc_id", "doc_key")
    got = [
        (r["doc_key"], r["score"])
        for r in res.join(keys, ["segment_id", "doc_id"])
        .orderBy(F.desc("score"), "doc_key")
        .collect()
    ]
    exp = _live(oracle.term_query("scan", k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]


# --------------------------------------------------------------------------
# delete commit must not drop a concurrent append (ADVICE r2 medium)
# --------------------------------------------------------------------------


def test_delete_commit_keeps_concurrent_append(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lostupd"))
    df1 = spark.createDataFrame(
        [("a1", "scan merge"), ("a2", "sort scan")], "doc_key string, text string"
    )
    b = IndexBuilder(spark, path, num_segments=1)
    b.build(df1, key_col="doc_key", text_col="text")
    pinned = IndexReader(spark, path)  # snapshot BEFORE the append
    df2 = spark.createDataFrame([("b1", "scan fast")], "doc_key string, text string")
    b.append(df2)
    delete_docs(pinned, ["a1"])  # commits against CURRENT meta, not the snapshot
    latest = IndexReader(spark, path)
    keys = {r["doc_key"] for r in latest.live_docs().select("doc_key").collect()}
    assert keys == {"a2", "b1"}  # b1 survived the delete commit


# --------------------------------------------------------------------------
# fused build: term_dict written by the layout pass equals a global groupBy
# --------------------------------------------------------------------------


def test_fused_term_dict_exact(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fused"))
    docs = _big_docs()
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=4).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    td = {r["term"]: (r["df"], r["ttf"]) for r in reader.term_dict().collect()}
    ref = (
        reader.postings()
        .groupBy("term")
        .agg(F.sum("docs_count").alias("df"), F.sum("total_freq").alias("ttf"))
        .collect()
    )
    assert len(ref) == len(td)  # one row per term — no boundary duplicates
    for r in ref:
        assert td[r["term"]] == (r["df"], r["ttf"])


def test_append_merges_term_dict(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fusedapp"))
    b = IndexBuilder(spark, path, num_segments=2)
    df1 = spark.createDataFrame(
        [("a1", "scan scan merge"), ("a2", "sort scan")], "doc_key string, text string"
    )
    b.build(df1, key_col="doc_key", text_col="text")
    df2 = spark.createDataFrame([("b1", "scan fast")], "doc_key string, text string")
    b.append(df2)
    reader = IndexReader(spark, path)
    td = {r["term"]: (r["df"], r["ttf"]) for r in reader.term_dict().collect()}
    assert td["scan"] == (3, 4)
    assert td["fast"] == (1, 1)
    assert td["merge"] == (1, 1)


# --------------------------------------------------------------------------
# phrase: per-segment local top-k + exact seg counts == brute-force scoring
# (exercises the truncation path: many matches per segment, small k)
# --------------------------------------------------------------------------


def test_phrase_local_topk_truncation(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("phrk"))
    docs = {}
    for i in range(120):
        reps = 1 + i % 6
        docs[f"p{i:04d}"] = " ".join(["fast scan"] * reps + ["pad"] * (i % 9))
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=3).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    oracle = ScalarIndex(docs)
    exp = oracle.phrase_query(["fast", "scan"], k=7)
    got = [
        (r["doc_key"], r["score"])
        for r in Searcher(reader).search(flt.Phrase(("fast", "scan")), k=7).collect()
    ]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-9


def test_phrase_plan_has_no_single_partition_window(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("phwin"))
    docs = {f"w{i:03d}": "fast scan pad" for i in range(20)}
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    s = Searcher(reader)
    # search() scores the phrase kernel's rows on the driver: inspect the
    # kernel DataFrame it collects
    res = s.phrase_matches(["fast", "scan"], [0, 1], local_k=5 + 16, rank_params=("bm25", 0.3, 0.1))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert [r["doc_key"] for r in s.search(flt.Phrase(("fast", "scan")), k=5).collect()]


# --------------------------------------------------------------------------
# nested: matches-only child pass (no global sort) — results unchanged
# --------------------------------------------------------------------------


def test_nested_child_no_global_sort(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nest3"))
    rows = []
    for g in range(6):
        for c in range(4):
            rows.append((f"c{g}{c}", "scan merge" if c % 2 == 0 else "sort pad", f"P{g}"))
        rows.append((f"P{g}", "", None))
    df = spark.createDataFrame(rows, "doc_key string, text string, parent_key string")
    IndexBuilder(spark, path, num_segments=2).build(
        df, key_col="doc_key", text_col="text", stored_cols=("parent_key",)
    )
    reader = IndexReader(spark, path)
    s = Searcher(reader)
    res = s.search(flt.Nested(flt.Term("scan"), match="min", min_children=2), k=10)
    got = {r["doc_key"] for r in res.collect()}
    assert got == {f"P{g}" for g in range(6)}
    # the child leg itself: all matches — no GLOBAL sort / top-k in its plan
    # (cogroup's per-partition `Sort [...], false` locals are expected)
    child = s.matches(flt.Term("scan"))
    plan = child._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" not in plan and "], true," not in plan
    assert child.count() == 12


# --------------------------------------------------------------------------
# ngram similarity: same-position (0-increment) tokens must not chain
# --------------------------------------------------------------------------


def test_ngram_same_position_does_not_chain(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ngsyn"))
    docs = {"one": "scan pad", "two": "scan scan"}
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(
        spark, path, analyzer="simple+syn:scan=scansyn", num_segments=1
    ).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    s = Searcher(reader)
    # both ngrams sit at the SAME position in doc 'one' → longest strictly
    # increasing chain is 1, below threshold 1.0; doc 'two' has scan@1 →
    # scansyn@2, a real chain of 2
    got = {
        r["doc_key"]
        for r in s.search(
            flt.NgramSimilarity(("scan", "scansyn"), threshold=1.0), k=10
        ).collect()
    }
    assert got == {"two"}


# --------------------------------------------------------------------------
# segment-granular resume across a driver restart: segment membership comes
# from persisted deterministic boundaries (boundaries.json), so a re-run of
# an interrupted segments stage SKIPS every already-published segment
# (lineage.skipped=true) instead of recomputing — the north-rule resume
# criterion (index_writer.cpp:2606-2718 two-phase commit analogue, plus
# per-partition lineage manifest)
# --------------------------------------------------------------------------


def test_segment_resume_across_restart(spark, tmp_path_factory):
    import os
    import shutil

    path = str(tmp_path_factory.mktemp("resume"))
    docs = {f"k{i:04d}": f"scan sort merge pad{i % 7}" for i in range(400)}
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=4).build(df, key_col="doc_key", text_col="text")
    gen = os.path.join(path, "gen=1")
    assert os.path.exists(os.path.join(gen, "boundaries.json"))
    before = Searcher(IndexReader(spark, path)).search(flt.Term("scan"), k=10).collect()

    # simulate a crash mid-segments-stage of a NEW driver: commit + stage
    # markers gone, per-segment part files still on disk
    os.remove(os.path.join(path, "meta.json"))
    os.remove(os.path.join(gen, "docs", "_SUCCESS"))
    shutil.rmtree(os.path.join(gen, "lineage"))
    shutil.rmtree(os.path.join(gen, "postings"))
    shutil.rmtree(os.path.join(gen, "term_dict"))
    open(os.path.join(path, "manifest.jsonl"), "w").close()

    IndexBuilder(spark, path, num_segments=4).build(df, key_col="doc_key", text_col="text")
    lineage = spark.read.parquet(os.path.join(gen, "lineage")).collect()
    assert len(lineage) == 4
    assert all(r["skipped"] for r in lineage), lineage
    after = Searcher(IndexReader(spark, path)).search(flt.Term("scan"), k=10).collect()
    assert [(r["doc_key"], r["score"]) for r in before] == [
        (r["doc_key"], r["score"]) for r in after
    ]


def test_lineage_manifest_metrics(spark, tmp_path_factory):
    """The lineage table carries per-partition throughput metrics (north
    star: 'checkpoints per-partition lineage and throughput metrics')."""
    import os

    path = str(tmp_path_factory.mktemp("lin"))
    docs = {f"k{i:03d}": "scan sort" for i in range(100)}
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2).build(df, key_col="doc_key", text_col="text")
    rows = spark.read.parquet(os.path.join(path, "gen=1", "lineage")).collect()
    assert sorted(r["segment_id"] for r in rows) == [0, 1]
    assert sum(r["n_docs"] for r in rows) == 100
    assert all(r["n_terms"] >= 2 and r["n_tokens"] > 0 and r["seconds"] > 0 for r in rows)


# --------------------------------------------------------------------------
# Or with Not children (boolean_filter.cpp:366-411): each Not(B) adds an
# all-docs leg at boost 0 and B to the disjunction's exclusion set
# --------------------------------------------------------------------------


def test_or_not(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ornot"))
    docs = {
        "a": "scan scan fast",
        "b": "dup only here",
        "c": "scan dup mixed",
        "d": "nothing relevant",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=1).build(df, key_col="doc_key", text_col="text")
    s = Searcher(IndexReader(spark, path))
    rows = s.search(flt.Or((flt.Term("scan"), flt.Not(flt.Term("dup")))), k=10).collect()
    got = {r["doc_key"]: r["score"] for r in rows}
    # exclusion applies to the WHOLE disjunction: docs with 'dup' are out even
    # when they also match 'scan'
    assert set(got) == {"a", "d"}
    assert got["a"] > 0.0 and got["d"] == 0.0
    # only-Not Or: everything except B, constant zero score
    rows2 = s.search(flt.Or((flt.Not(flt.Term("dup")),)), k=10).collect()
    assert {r["doc_key"] for r in rows2} == {"a", "d"}


def test_jaccard_head_shingle_cap(spark):
    from iresearch_spark import textops

    rows = [("d%d" % i, "common header line unique%d token%d end" % (i, i)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = textops.ngram_jaccard_pairs(df, k=3).collect()
    # every pair shares the boilerplate 'common header line' shingle
    assert len(uncapped) == 15
    capped = textops.ngram_jaccard_pairs(df, k=3, max_shingle_freq=3).collect()
    # the head shingle (df=6 > 3) no longer generates candidates
    assert len(capped) == 0


# --------------------------------------------------------------------------
# fuzzy candidate parity: top-max_terms by reference boost
# (levenshtein_filter.cpp:48-55 similarity; top_terms_collector.hpp:64-69
# tie-break towards the larger term) + charset prefilter soundness
# --------------------------------------------------------------------------


def test_fuzzy_prefilter_matches_bruteforce():
    import itertools
    import random

    from iresearch_spark.search.executor import _fuzzy_distances, _levenshtein_leq

    rng = random.Random(11)
    alpha = "abcd"
    vocab = sorted({"".join(rng.choice(alpha) for _ in range(rng.randint(1, 7))) for _ in range(400)})
    for q in ["abca", "dcba", "aa", "abcdabc"]:
        for maxd in (1, 2):
            for tr in (False, True):
                brute = _levenshtein_leq(vocab, q, maxd, transpose=tr)
                fast = _fuzzy_distances(vocab, q, maxd, transpose=tr)
                within_b = np.asarray(brute) <= maxd
                within_f = fast <= maxd
                assert np.array_equal(within_b, within_f), (q, maxd, tr)
                assert np.array_equal(np.asarray(brute)[within_b], fast[within_f])


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
# chunked norms (round-1 finding #7 / VERDICT r2 #4): doc_len stored in
# 2^16-doc VByte rows; kernels decode only the chunks their candidates touch
# --------------------------------------------------------------------------


def test_segment_norms_chunked_gather():
    import pandas as pd

    from iresearch_spark.index.codec import vbyte_encode
    from iresearch_spark.search.executor import _SegmentNorms

    rng = np.random.default_rng(3)
    lens = rng.integers(1, 500, size=1000).astype(np.int64)
    rows = []
    for ci, lo in enumerate(range(0, 1000, 256)):
        c = lens[lo : lo + 256]
        rows.append(
            {
                "segment_id": 0,
                "chunk_id": ci,
                "docs_count": len(c),
                "doc_len_enc": vbyte_encode(c),
                "docs_with_field": int((c > 0).sum()),
                "sum_len": int(c.sum()),
                "min_len": int(c.min()),
            }
        )
    sn = _SegmentNorms(pd.DataFrame(rows[::-1]))  # shuffled chunk order
    assert sn.size == 1000
    assert sn.min() == int(lens.min())
    idx = rng.integers(0, 1000, size=300)
    assert np.array_equal(sn[idx], lens[idx])
    # only touched chunks decoded
    one = _SegmentNorms(pd.DataFrame(rows))
    _ = one[np.array([0, 5, 10])]
    assert set(one._chunks) == {0}


def test_norms_rows_bounded_by_chunk_size(spark, tmp_path_factory):
    import os

    from iresearch_spark.index.builder import NORMS_CHUNK_DOCS

    path = str(tmp_path_factory.mktemp("chunks"))
    n = NORMS_CHUNK_DOCS + 5000  # forces a second chunk in the one segment
    df = spark.range(n).selectExpr(
        "cast(id as string) as doc_key",
        "case when id % 97 = 0 then 'scan scan rare' else 'scan pad' end as text",
    )
    IndexBuilder(spark, path, num_segments=1).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    rows = reader.norms().orderBy("chunk_id").collect()
    assert [r["chunk_id"] for r in rows] == [0, 1]
    assert rows[0]["docs_count"] == NORMS_CHUNK_DOCS
    assert rows[1]["docs_count"] == 5000
    assert all(r["docs_count"] <= NORMS_CHUNK_DOCS for r in rows)
    assert reader.segment_docs_counts() == {0: n}
    # queries across the chunk boundary score correctly (dl gathered lazily)
    hits = Searcher(reader).search(flt.Term("rare"), k=5).collect()
    assert len(hits) == 5 and all(h["score"] > 0 for h in hits)


# --------------------------------------------------------------------------
# OFFS offsets sidecar + highlight (token_attributes.hpp:39-47;
# formats_10.cpp:345-353 .pos/.pay streams analogue)
# --------------------------------------------------------------------------


def _offs_fixture(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("offs"))
    rows = [
        ("d1", "Fast scan, QUICK sort!"),
        ("d2", "scan scan scan"),
        ("d3", "  padding before a scan here"),
        ("d4", "no match at all"),
        ("d5", ""),
    ]
    df = spark.createDataFrame(rows, "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=2, with_offsets=True).build(
        df, key_col="doc_key", text_col="text"
    )
    return path, dict(rows)


def test_highlight_first_occurrence_offsets(spark, tmp_path_factory):
    import re

    path, texts = _offs_fixture(spark, tmp_path_factory)
    s = Searcher(IndexReader(spark, path))
    got = s.highlight(flt.Or((flt.Term("scan"), flt.Term("sort"))), k=10).collect()
    assert got, "expected highlight rows"
    for r in got:
        t = texts[r["doc_key"]].lower()
        m = [x for x in re.finditer(r"[a-z0-9]+", t) if x.group() == r["term"]]
        assert m and m[0].start() == r["start"] and m[0].end() == r["end"]
    # d2 has three 'scan' occurrences: highlight reports the FIRST (offset 0)
    d2 = [r for r in got if r["doc_key"] == "d2"]
    assert len(d2) == 1 and d2[0]["start"] == 0 and d2[0]["end"] == 4
    # non-matching docs never appear
    assert all(r["doc_key"] not in ("d4", "d5") for r in got)


def test_offsets_require_simple_analyzer_and_matching_append(spark, tmp_path_factory):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="simple"):
        IndexBuilder(spark, "/tmp/never", analyzer="text_en:", with_offsets=True)
    path, _ = _offs_fixture(spark, tmp_path_factory)
    extra = spark.createDataFrame([("d9", "another scan")], "doc_key string, text string")
    with _pytest.raises(ValueError, match="with_offsets"):
        IndexBuilder(spark, path, num_segments=1).append(extra)
    # matching append extends the sidecar; highlight sees the new segment
    IndexBuilder(spark, path, num_segments=1, with_offsets=True).append(extra)
    s = Searcher(IndexReader(spark, path))
    got = {r["doc_key"]: r for r in s.highlight(flt.Term("scan"), k=10).collect()}
    assert "d9" in got and got["d9"]["start"] == 8 and got["d9"]["end"] == 12


def test_highlight_requires_offsets_index(spark, tmp_path_factory):
    import pytest as _pytest

    path = str(tmp_path_factory.mktemp("nooffs"))
    df = spark.createDataFrame([("a", "scan")], "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=1).build(df, key_col="doc_key", text_col="text")
    with _pytest.raises(ValueError, match="offsets"):
        Searcher(IndexReader(spark, path)).highlight(flt.Term("scan"))
