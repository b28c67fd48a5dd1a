"""Zero-shuffle build fast path: segment planning from parquet footer stats.

The fast path (builder._footer_segment_groups) replaces the boundary-sample
job + full-corpus range shuffle with a driver-local footer read and a
one-task-per-segment pyarrow scan — the Iceberg-manifest-shaped plan the
north rule's 10^12-document build would use. These tests pin:

* trigger: a bare parquet scan over key-disjoint row groups plans file
  groups (filegroups.json persisted before the job);
* equivalence: the fast-path index preserves every invariant the legacy
  range-shuffle path guarantees — global key order == (segment_id, doc_id)
  order (rank tie-break parity), dense 1-based per-segment doc ids,
  identical per-key stored data, byte-identical term dictionary;
* fallback: a transformed DataFrame or overlapping key ranges fall back to
  the sampled-boundary path (correctness never depends on the input layout);
* resume: a persisted filegroups.json is reloaded verbatim.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from iresearch_spark.corpus import synth_pages
from iresearch_spark.index.builder import IndexBuilder, _direct_scan_files
from iresearch_spark.index.reader import IndexReader


N_PAGES = 600


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fastpath") / "pages")
    synth_pages(spark, N_PAGES, seed=42, partitions=6).write.parquet(path)
    return path


def _docs_invariants(reader):
    d = reader.docs().select("segment_id", "doc_id", "doc_key", "doc_len", "lang")
    keys = [r.doc_key for r in d.orderBy("segment_id", "doc_id").collect()]
    assert keys == sorted(keys), "(segment_id, doc_id) order must equal key order"
    per_seg = (
        d.groupBy("segment_id")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"), F.count("*").alias("c"))
        .collect()
    )
    assert all(r.mn == 1 and r.mx == r.c for r in per_seg), "dense 1-based ids"
    return {r.doc_key: (r.doc_len, r.lang) for r in d.collect()}


def _term_dict_rows(reader):
    return [
        tuple(r)
        for r in reader.term_dict()
        .select("field", "term", "df", "ttf", "max_freq")
        .orderBy("field", "term")
        .collect()
    ]


def test_direct_scan_detection(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    files = _direct_scan_files(df)
    assert files and len(files) == 6
    # any transformation (even a pure column select) disables the shortcut:
    # the detector must never claim a plan it can't replay from raw files
    assert _direct_scan_files(df.select("url", "text")) is None
    assert _direct_scan_files(df.filter(F.col("lang") == "en")) is None


def test_fastpath_build_matches_legacy(spark, pages_parquet, tmp_path):
    df = spark.read.parquet(pages_parquet)
    fast = IndexBuilder(spark, str(tmp_path / "fast"), analyzer="simple", num_segments=4)
    fast.build(df, key_col="url", text_col="text", stored_cols=("lang",))
    fg = str(tmp_path / "fast" / "gen=1" / "filegroups.json")
    assert os.path.exists(fg), "fast path must have planned file groups"
    groups = json.load(open(fg))
    assert 1 <= len(groups) <= 4
    assert sum(g["rows"] for g in groups) == N_PAGES

    # legacy path: the extra Project node forces the sampled-boundary shuffle
    legacy = IndexBuilder(spark, str(tmp_path / "legacy"), analyzer="simple", num_segments=4)
    legacy.build(
        df.select("url", "text", "lang"), key_col="url", text_col="text", stored_cols=("lang",)
    )
    assert os.path.exists(str(tmp_path / "legacy" / "gen=1" / "boundaries.json"))
    assert not os.path.exists(str(tmp_path / "legacy" / "gen=1" / "filegroups.json"))

    rf, rl = IndexReader(spark, str(tmp_path / "fast")), IndexReader(spark, str(tmp_path / "legacy"))
    assert _docs_invariants(rf) == _docs_invariants(rl)
    assert _term_dict_rows(rf) == _term_dict_rows(rl)

    from iresearch_spark.search import filters as flt
    from iresearch_spark.search.executor import Searcher

    got = [
        (r.doc_key, round(r.score, 6))
        for r in Searcher(rf).search(flt.Term("w00050"), k=10).select("doc_key", "score").collect()
    ]
    want = [
        (r.doc_key, round(r.score, 6))
        for r in Searcher(rl).search(flt.Term("w00050"), k=10).select("doc_key", "score").collect()
    ]
    assert got == want


def test_fallback_on_overlapping_ranges(spark, tmp_path):
    # hash-repartitioned write interleaves keys across files → overlapping
    # footer ranges → the planner must refuse and the build still succeeds
    # via the range-shuffle path
    path = str(tmp_path / "pages_overlap")
    synth_pages(spark, 200, seed=42, partitions=2).repartition(3, "url").write.parquet(path)
    df = spark.read.parquet(path)
    b = IndexBuilder(spark, str(tmp_path / "idx"), analyzer="simple", num_segments=3)
    b.build(df, key_col="url", text_col="text")
    assert not os.path.exists(str(tmp_path / "idx" / "gen=1" / "filegroups.json"))
    assert os.path.exists(str(tmp_path / "idx" / "gen=1" / "boundaries.json"))
    r = IndexReader(spark, str(tmp_path / "idx"))
    keys = [
        x.doc_key
        for x in r.docs().orderBy("segment_id", "doc_id").select("doc_key").collect()
    ]
    assert keys == sorted(keys) and len(keys) == 200


def test_filegroups_resume_stability(spark, pages_parquet, tmp_path):
    # a persisted plan is reloaded verbatim — segment membership (and hence
    # part-file identity) is restart-stable even if the planner would now
    # group differently
    df = spark.read.parquet(pages_parquet)
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, idx, analyzer="simple", num_segments=3)
    gen_dir = os.path.join(idx, "gen=1")
    os.makedirs(gen_dir, exist_ok=True)
    planned = b._footer_segment_groups(df, "url", 3, gen_dir)
    assert planned is not None and os.path.exists(os.path.join(gen_dir, "filegroups.json"))
    # mutate the persisted plan; the next call must return the mutation,
    # proving it reloads rather than re-plans
    mutated = list(planned)
    mutated[0] = dict(mutated[0], rows=-1)
    with open(os.path.join(gen_dir, "filegroups.json"), "w") as f:
        json.dump(mutated, f)
    again = b._footer_segment_groups(df, "url", 3, gen_dir)
    assert again[0]["rows"] == -1


def test_fastpath_multifield_matches_legacy(spark, tmp_path):
    """Multi-field + fast path: footer-planned segments must be
    score-identical to the legacy range-shuffle path on both fields
    (the per-(field, term) stats and layout are shared code, but the
    segment membership planner is not — this pins their equivalence)."""
    import os

    import pyspark.sql.functions as F

    from iresearch_spark import IndexBuilder, IndexReader, Searcher
    from iresearch_spark import filters as flt
    from tests.test_build_and_query import make_corpus

    docs = make_corpus(150)
    src = spark.createDataFrame(
        sorted(docs.items()), "doc_key string, text string"
    ).withColumn("title", F.substring("text", 1, 30))
    p = str(tmp_path / "mf_sorted")
    src.coalesce(2).write.parquet(p)
    bare = spark.read.parquet(p)
    fields = (("body", "text", "simple"), ("title", "title", "simple"))

    fast = str(tmp_path / "mf_fast")
    IndexBuilder(spark, fast, num_segments=4).build(bare, key_col="doc_key", fields=fields)
    assert os.path.exists(f"{fast}/gen=1/filegroups.json")

    legacy = str(tmp_path / "mf_legacy")
    IndexBuilder(spark, legacy, num_segments=4).build(
        bare.withColumn("_x", F.lit(1)).drop("_x"), key_col="doc_key", fields=fields
    )
    assert not os.path.exists(f"{legacy}/gen=1/filegroups.json")

    sf, sl = Searcher(IndexReader(spark, fast)), Searcher(IndexReader(spark, legacy))
    for q in (
        flt.Term("spark"),
        flt.Term("spark", field="title"),
        flt.Or((flt.Term("scan"), flt.Term("hash", field="title"))),
    ):
        a = [(h["doc_key"], round(h["score"], 10)) for h in sf.search(q, k=10).collect()]
        b = [(h["doc_key"], round(h["score"], 10)) for h in sl.search(q, k=10).collect()]
        assert a == b


def test_meta_records_segments_written(spark, tmp_path):
    # four key-disjoint one-row-group files plan at most four segments, however
    # many are requested: meta records the segments written, and an append's
    # fresh ids start past every id the build could have assigned
    src = str(tmp_path / "src")
    synth_pages(spark, 300, seed=7, partitions=3).select("url", "text").write.parquet(src)
    pages = spark.read.parquet(src)

    def key(i: int) -> str:
        return f"https://example.org/{i:010d}"

    def one_file_parts(path: str, cuts: list[int]) -> str:
        for lo, hi in zip(cuts, cuts[1:]):
            pages.where((F.col("url") >= key(lo)) & (F.col("url") < key(hi))).coalesce(
                1
            ).write.mode("append").parquet(path)
        return path

    first = one_file_parts(str(tmp_path / "first"), [0, 50, 100, 150, 200])
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, idx, analyzer="simple", num_segments=8)
    meta = b.build(spark.read.parquet(first), key_col="url", text_col="text")
    assert len(json.load(open(os.path.join(idx, "gen=1", "filegroups.json")))) == 4
    live = IndexReader(spark, idx).segment_docs_counts()
    assert meta["num_segments"] == len(live) == 4
    assert meta["next_segment_id"] == 8

    more = one_file_parts(str(tmp_path / "more"), [200, 250, 300])
    meta = b.append(spark.read.parquet(more))
    live = IndexReader(spark, idx).segment_docs_counts()
    assert meta["num_segments"] == len(live) == 6
    assert sorted(live) == [0, 1, 2, 3, 8, 9]
    assert sum(live.values()) == meta["docs_count"] == 300
