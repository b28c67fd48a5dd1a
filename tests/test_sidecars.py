"""The OFFS and PAY sidecars at the search surface: ``Searcher.highlight``'s
first-occurrence token offsets (token_attributes.hpp:39-47), the
per-occurrence payloads of ``Searcher.payloads`` (formats_10.cpp:345-353
`.pay`), the build-time checks of both sidecars, and consolidation merging
and purging them."""

import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt


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

# --------------------------------------------------------------------------
# PAY payload stream: end-to-end per-occurrence payloads
# --------------------------------------------------------------------------


def test_payloads_end_to_end(spark, tmp_path):
    path = str(tmp_path / "r4pay")
    rows = [
        ("d1", "scan|100 merge|200 scan|300"),
        ("d2", "merge|5 scan|6"),
        ("d3", "pad|1 pad|2 pad|3"),
    ]
    df = spark.createDataFrame(rows, "doc_key string, text string")
    b = IndexBuilder(
        spark, path, analyzer="payload:|", num_segments=1, with_payloads=True
    )
    b.build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    s = Searcher(reader)
    got = [
        (r["doc_key"], r["term"], r["pos"], r["payload"])
        for r in s.payloads(flt.Term("scan"), k=5)
        .orderBy("doc_key", "pos")
        .collect()
    ]
    assert got == [
        ("d1", "scan", 1, 100),
        ("d1", "scan", 3, 300),
        ("d2", "scan", 2, 6),
    ]
    # plain search over the payload index scores identically to the same
    # corpus without payloads (token stream is the token parts)
    plain = str(tmp_path / "r4plain")
    df2 = spark.createDataFrame(
        [(k, " ".join(p.split("|")[0] for p in t.split())) for k, t in rows],
        "doc_key string, text string",
    )
    IndexBuilder(spark, plain, num_segments=1).build(df2, key_col="doc_key", text_col="text")
    s2 = Searcher(IndexReader(spark, plain))
    r1 = [(r["doc_key"], round(r["score"], 9)) for r in s.search(flt.Term("scan"), k=5).collect()]
    r2 = [(r["doc_key"], round(r["score"], 9)) for r in s2.search(flt.Term("scan"), k=5).collect()]
    assert r1 == r2
    # with_payloads on a non-payload analyzer fails loudly at the driver —
    # validated on the RESOLVED field list at build time, so the per-field
    # `fields=` surface works even with the default constructor analyzer
    with pytest.raises(ValueError, match="payload-emitting"):
        IndexBuilder(spark, str(tmp_path / "bad"), with_payloads=True).build(
            df, key_col="doc_key", text_col="text"
        )


def test_payloads_via_fields_spec(spark, tmp_path):
    """with_payloads=True with a per-field analyzer spec (constructor keeps
    the default 'simple' analyzer — validation must use the field's)."""
    path = str(tmp_path / "r4payfields")
    df = spark.createDataFrame(
        [("d1", "scan|7 merge|8"), ("d2", "scan|9")],
        "doc_key string, text string",
    )
    IndexBuilder(spark, path, num_segments=1, with_payloads=True).build(
        df, key_col="doc_key", fields=(("text", "text", "payload:|"),)
    )
    s = Searcher(IndexReader(spark, path))
    got = sorted(
        (r["doc_key"], r["pos"], r["payload"])
        for r in s.payloads(flt.Term("scan"), k=5).collect()
    )
    assert got == [("d1", 1, 7), ("d2", 1, 9)]


# --------------------------------------------------------------------------
# consolidation now merges the OFFS / PAY sidecars (doc-id remap + purge)
# --------------------------------------------------------------------------


def _pay_rows():
    return [
        ("d1", "scan|100 merge|200 scan|300"),
        ("d2", "merge|5 scan|6"),
        ("d3", "pad|1 pad|2 pad|3"),
        ("d4", "scan|44 pad|9"),
    ]


def test_consolidate_merges_payload_sidecar(spark, tmp_path):
    from iresearch_spark.index.consolidate import consolidate

    path = str(tmp_path / "r4paycons")
    df = spark.createDataFrame(_pay_rows(), "doc_key string, text string")
    IndexBuilder(
        spark, path, analyzer="payload:|", num_segments=2, with_payloads=True
    ).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    before = sorted(
        (r["doc_key"], r["term"], r["pos"], r["payload"])
        for r in Searcher(reader).payloads(flt.Term("scan"), k=10).collect()
    )
    consolidate(reader)
    reader2 = IndexReader(spark, path)
    assert len(reader2.segment_docs_counts()) == 1
    after = sorted(
        (r["doc_key"], r["term"], r["pos"], r["payload"])
        for r in Searcher(reader2).payloads(flt.Term("scan"), k=10).collect()
    )
    assert after == before


def test_consolidate_purges_deleted_payloads(spark, tmp_path):
    from iresearch_spark.index.consolidate import consolidate
    from iresearch_spark.index.deletes import delete_docs

    path = str(tmp_path / "r4paydel")
    df = spark.createDataFrame(_pay_rows(), "doc_key string, text string")
    IndexBuilder(
        spark, path, analyzer="payload:|", num_segments=2, with_payloads=True
    ).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    delete_docs(reader, ["d1"])
    reader = IndexReader(spark, path)
    consolidate(reader)
    reader2 = IndexReader(spark, path)
    assert "deletes" not in reader2.meta["tables"]  # physically purged
    got = sorted(
        (r["doc_key"], r["term"], r["pos"], r["payload"])
        for r in Searcher(reader2).payloads(flt.Term("scan"), k=10).collect()
    )
    assert got == [("d2", "scan", 2, 6), ("d4", "scan", 1, 44)]


def test_consolidate_merges_offsets_sidecar(spark, tmp_path):
    from iresearch_spark.index.consolidate import consolidate

    path = str(tmp_path / "r4offcons")
    df = spark.createDataFrame(
        [("d1", "fast scan merge"), ("d2", "slow scan"), ("d3", "scan scan go")],
        "doc_key string, text string",
    )
    IndexBuilder(spark, path, num_segments=2, with_offsets=True).build(
        df, key_col="doc_key", text_col="text"
    )
    reader = IndexReader(spark, path)
    before = sorted(
        (r["doc_key"], r["term"], r["start"], r["end"])
        for r in Searcher(reader).highlight(flt.Term("scan"), k=10).collect()
    )
    consolidate(reader)
    reader2 = IndexReader(spark, path)
    after = sorted(
        (r["doc_key"], r["term"], r["start"], r["end"])
        for r in Searcher(reader2).highlight(flt.Term("scan"), k=10).collect()
    )
    assert after == before
