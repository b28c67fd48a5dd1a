"""The held-open segment reader: postings row groups chosen per term, doc
keys fetched by offset, both from footers held per generation.

* Row-group selection: for every read of a compiled scan,
  ``executor._postings_table`` (the row groups ``_row_groups`` picks from
  the held ``TableParts``, filtered by the read's predicate) returns exactly
  the rows of a pyarrow dataset scan of the whole table with that
  predicate. Cases: a postings row group spanning a field boundary, Prefix,
  Wildcard and Range tails, a term no row group holds, an Or whose terms
  lie in non-adjacent files, a positions split, mixed-field keys, and a
  single-field table. Synthetic parquet files fix the layout exactly; a
  built multi-field index checks the same on the builder's own layout.
* Selection prunes: an exact-term Or reads only its terms' files, not the
  files between them.
* Key fetch: ``IndexReader.fetch_docs`` returns each found pair's row in the
  input order, indexed by input position, also for pairs spread over
  several docs row groups and for pairs not in the table.
* Regression guard: a warm driver-placed keyed search makes no pyarrow
  dataset scan and reads no parquet footer.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index import reader as reader_mod
from iresearch_spark.index.builder import FIELD_SEP
from iresearch_spark.index.reader import TableParts, read_table
from iresearch_spark.search import executor
from iresearch_spark.search.executor import ScanSpec, _row_groups, _SegmentRead, scan_reads

# --------------------------------------------------------------------------
# synthetic postings layout
# --------------------------------------------------------------------------

#: (field, term) keys, ascending: each file holds a run of them
_KEYS = sorted(
    [("a", t) for t in ("apple", "apricot", "banana", "berry", "cherry", "citrus", "date", "fig")]
    + [("b", t) for t in ("alpha", "beta", "delta", "epsilon", "gamma", "kappa", "lambda")]
    + [("c", t) for t in ("one", "three", "two")]
)
SEGMENTS = (0, 1, 2)


def _write_postings(path: str, files: int, row_group_size: int) -> None:
    """(field, term)-sorted postings rows, one per (key, segment) minus a
    few, split into ``files`` files of ``row_group_size``-row groups."""
    rows = [
        (f, t, s) for i, (f, t) in enumerate(_KEYS) for s in SEGMENTS if (i + s) % 4
    ]
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(rows)), files)):
        sel = [rows[j] for j in part]
        tbl = pa.table(
            {
                "field": [r[0] for r in sel],
                "term": [r[1] for r in sel],
                "segment_id": pa.array([r[2] for r in sel], pa.int32()),
                "doc_ids_enc": [f"d{r[1]}{r[2]}".encode() for r in sel],
                "freqs_enc": [f"f{r[1]}{r[2]}".encode() for r in sel],
                "pos_enc": [f"p{r[1]}{r[2]}".encode() for r in sel],
            }
        )
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=row_group_size)


@pytest.fixture(scope="module")
def layout(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("rowgroups"))
    path = os.path.join(root, "postings")
    _write_postings(path, files=5, row_group_size=3)
    return root, path


def _read(index: str, path: str, scan: ScanSpec, multifield: bool) -> _SegmentRead:
    return _SegmentRead(
        index, 1, {"postings": path}, scan_reads(scan, multifield), scan.mixed,
        tuple(scan.fields), multifield,
    )


def _rows(table: pa.Table) -> list[tuple]:
    cols = ["segment_id", "term", "doc_ids_enc", "freqs_enc", "pos_enc"]
    d = {c: table.column(c).to_pylist() if c in table.column_names else [None] * len(table) for c in cols}
    return sorted(zip(*d.values()), key=repr)


def _scan_rows(read: _SegmentRead, sids) -> list[tuple]:
    """The rows of each read by a pyarrow dataset scan of the whole table
    (the former read path), keyed like ``_postings_table``."""
    seg = pc.field("segment_id").isin(list(sids))
    out = []
    for pred, pos, _ in read.reads:
        cols = ["segment_id", "field", "term", "doc_ids_enc", "freqs_enc"] + ["pos_enc"] * pos
        for r in read_table(read.tables["postings"], cols, pred & seg).to_pylist():
            key = f"{r['field']}{FIELD_SEP}{r['term']}" if read.mixed else r["term"]
            out.append((r["segment_id"], key, r["doc_ids_enc"], r["freqs_enc"], r.get("pos_enc")))
    return sorted(out, key=repr)


def _spec(field_terms=None, field_specs=None, pos_terms=None) -> ScanSpec:
    return ScanSpec(
        field_terms={f: list(t) for f, t in (field_terms or {}).items()},
        field_specs={f: list(s) for f, s in (field_specs or {}).items()},
        need_positions=bool(pos_terms),
        pos_terms={f: list(t) for f, t in (pos_terms or {}).items()},
    )


CASES = {
    "one_term": _spec({"a": ["cherry"]}),
    "terms_of_two_fields": _spec({"a": ["fig"], "b": ["alpha", "kappa"]}),
    "boundary_terms": _spec({"a": ["fig", "date"], "b": ["alpha"]}),
    "missing_in_range": _spec({"a": ["coconut"]}),
    "missing_past_all": _spec({"c": ["zzz"], "b": ["aaa"]}),
    "missing_field": _spec({"z": ["apple"]}),
    "far_apart_or": _spec({"a": ["apple", "fig"], "c": ["two"]}),
    "prefix": _spec({"a": ["fig"]}, {"a": [("prefix", "b")]}),
    "prefix_empty": _spec(None, {"c": [("prefix", "")]}),
    "wildcard": _spec(None, {"b": [("wildcard", "_e%a")], "a": [("wildcard", "ci%")]}),
    "range_open": _spec(None, {"b": [("range", "delta", None, False, True)]}),
    "range_closed": _spec({"c": ["one"]}, {"a": [("range", "apricot", "cherry", True, False)]}),
    "positions_split": _spec({"a": ["apple", "berry"], "b": ["gamma"]}, None, {"a": ["berry"]}),
    "positions_every_row": _spec({"b": ["beta", "delta"]}, None, {"b": ["beta", "delta"]}),
}


def _spans_fields(parts: TableParts) -> list[bool]:
    """Per row group: does it hold rows of more than one field?"""
    out = []
    for path, md in parts.files:
        j = md.schema.to_arrow_schema().get_field_index("field")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(j).statistics
            out.append(st.min != st.max)
    return out


def test_a_postings_row_group_spans_a_field_boundary(layout):
    _, path = layout
    parts = TableParts(path, ("field", "term"))
    assert parts.num_groups > len(parts.files) > 1
    spans = _spans_fields(parts)
    assert any(spans) and not all(spans)  # a group holding rows of two fields


@pytest.mark.parametrize("sids", [SEGMENTS, (1,), (0, 2)])
@pytest.mark.parametrize("case", sorted(CASES))
def test_row_group_reads_equal_the_dataset_scan(layout, case, sids):
    index, path = layout
    read = _read(index, path, CASES[case], multifield=True)
    got = _rows(executor._postings_table(list(sids), read))
    assert got == _scan_rows(read, sids)
    if case.startswith("missing"):
        assert got == []


def test_single_field_reads_equal_the_dataset_scan(tmp_path):
    path = str(tmp_path / "postings")
    os.makedirs(path)
    terms = sorted({t for _, t in _KEYS})
    for i, part in enumerate(np.array_split(np.arange(len(terms)), 3)):
        tbl = pa.table(
            {
                "field": ["text"] * len(part),
                "term": [terms[j] for j in part],
                "segment_id": pa.array([j % 2 for j in part], pa.int32()),
                "doc_ids_enc": [terms[j].encode() for j in part],
                "freqs_enc": [b"f"] * len(part),
            }
        )
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=2)
    for scan in (
        _spec({"text": ["apple", "two"]}),
        _spec({"text": ["nope"]}),
        _spec({"text": ["fig"]}, {"text": [("prefix", "be"), ("wildcard", "%a"), ("range", None, "beta", True, True)]}),
    ):
        read = _read(str(tmp_path), path, scan, multifield=False)
        assert _rows(executor._postings_table([0, 1], read)) == _scan_rows(read, (0, 1))


def test_exact_terms_read_only_their_files(layout):
    index, path = layout
    parts = TableParts(path, ("field", "term"))
    read = _read(index, path, CASES["far_apart_or"], multifield=True)
    (_, _, selects), = read.reads
    picked = _row_groups(parts, selects, True)
    files = set(parts.file_of[picked].tolist())
    holding = {
        i for i, (p, _) in enumerate(parts.files)
        for f, t in zip(*pq.read_table(p, columns=["field", "term"]).to_pydict().values())
        if (f, t) in {("a", "apple"), ("a", "fig"), ("c", "two")}
    }
    assert files == holding
    assert max(files) - min(files) > len(files) - 1  # some file between them is skipped
    assert picked.size < parts.num_groups


# --------------------------------------------------------------------------
# a built multi-field index
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mf_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rowgroups_mf"))
    rng = np.random.default_rng(11)
    words = ["scan", "seek", "sort", "spark", "merge", "hash", "join", "fast", "slow", "index"]
    rows = [
        (
            f"k{i:04d}",
            " ".join(rng.choice(words, size=int(rng.integers(3, 12)))),
            " ".join(rng.choice(words[:6], size=int(rng.integers(1, 4)))),
        )
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "doc_key string, body string, title string")
    IndexBuilder(spark, path, num_segments=3, postings_partitions=3).build(
        df, key_col="doc_key", fields=(("body", "body", "simple"), ("title", "title", "simple"))
    )
    return IndexReader(spark, path)


MF_FILTERS = {
    "term": flt.Term("spark", field="title"),
    "or_fields": flt.Or((flt.Term("scan", field="body"), flt.Term("hash", field="title"))),
    "prefix": flt.Prefix("s", field="body", scored_terms_limit=2),
    "wildcard": flt.Wildcard("%e%", field="title", scored_terms_limit=1),
    "range": flt.Range(low="index", high="seek", field="body", scored_terms_limit=1),
    "phrase": flt.Phrase(("fast", "scan"), field="body"),
    "missing": flt.Term("nothere", field="body"),
}


@pytest.mark.parametrize("name", sorted(MF_FILTERS))
def test_built_index_reads_equal_the_dataset_scan(mf_index, name):
    s = Searcher(mf_index)
    _, scan = s._compile({"": flt.normalize(MF_FILTERS[name])}, "float64")
    read = s._segment_read(scan)
    sids = sorted(mf_index.segment_docs_counts())
    assert _rows(executor._postings_table(sids, read)) == _scan_rows(read, sids)


def test_built_index_has_a_group_spanning_fields(mf_index):
    parts = TableParts(mf_index.meta["tables"]["postings"], ("field", "term"))
    assert any(_spans_fields(parts))


# --------------------------------------------------------------------------
# key fetch by offset
# --------------------------------------------------------------------------


def test_fetch_docs_by_offset(spark, tmp_path):
    root = str(tmp_path)
    docs = os.path.join(root, "docs")
    os.makedirs(docs)
    # two files; the second holds two segments, with shuffled rows and
    # two-row groups, so a fetch spans groups and files
    pq.write_table(
        pa.table({"segment_id": pa.array([0] * 4, pa.int32()), "doc_id": pa.array([1, 2, 3, 4], pa.int32()),
                  "doc_key": ["a1", "a2", "a3", "a4"]}),
        os.path.join(docs, "part-0.parquet"), row_group_size=2,
    )
    pq.write_table(
        pa.table({"segment_id": pa.array([1, 2, 1, 2, 1], pa.int32()), "doc_id": pa.array([2, 1, 1, 2, 3], pa.int32()),
                  "doc_key": ["b2", "c1", "b1", "c2", "b3"]}),
        os.path.join(docs, "part-1.parquet"), row_group_size=2,
    )
    with open(os.path.join(root, "meta.json"), "w") as fh:
        json.dump({"generation": 1, "tables": {"docs": docs}}, fh)
    reader = IndexReader(spark, root)
    sids = [2, 0, 1, 9, 0, 1]
    dids = [2, 4, 3, 1, 7, 1]
    got = reader.fetch_docs(sids, dids)
    assert got.index.tolist() == [0, 1, 2, 5]  # (9, 1) and (0, 7) are absent
    assert got["doc_key"].tolist() == ["c2", "a4", "b3", "b1"]
    assert got["segment_id"].tolist() == [2, 0, 1, 1]
    assert got["doc_id"].tolist() == [2, 4, 3, 1]
    assert reader.fetch_docs([], [])["doc_key"].tolist() == []


# --------------------------------------------------------------------------
# regression guard: a warm search reads no footer and scans no dataset
# --------------------------------------------------------------------------


def test_warm_driver_search_reads_no_footer_and_scans_no_dataset(mf_index, monkeypatch):
    s = Searcher(mf_index)
    s.DRIVER_MAX_POSTINGS = 1 << 62
    warm = {name: s.search(f, k=10).collect() for name, f in MF_FILTERS.items()}
    calls = []
    table_datasets, dataset = reader_mod.table_datasets, pads.dataset
    read_metadata, init = pq.read_metadata, pq.ParquetFile.__init__

    def parquet_file(self, source, *args, metadata=None, **kwargs):
        calls.append("held footer" if metadata is not None else "footer read")
        return init(self, source, *args, metadata=metadata, **kwargs)

    monkeypatch.setattr(reader_mod, "table_datasets", lambda *a, **k: calls.append("dataset") or table_datasets(*a, **k))
    monkeypatch.setattr(pads, "dataset", lambda *a, **k: calls.append("dataset") or dataset(*a, **k))
    monkeypatch.setattr(pq, "read_metadata", lambda *a, **k: calls.append("footer read") or read_metadata(*a, **k))
    monkeypatch.setattr(pq.ParquetFile, "__init__", parquet_file)
    for name, f in MF_FILTERS.items():
        assert s.search(f, k=10).collect() == warm[name]
    assert calls.count("dataset") == 0
    assert calls.count("footer read") == 0
    assert calls.count("held footer") > 0  # the reads went through the held footers
