"""Point-in-time index reader (segment_reader.hpp analogue).

Loads the committed generation's tables; global BM25 stats are read once per
field with pyarrow and cached on the driver — the ``filter::prepare`` stats
phase (SURVEY.md §3.2): the norms counters for field stats, and the field's
sorted term dictionary (:meth:`IndexReader.fuzzy_vocab_sorted`) for per-term
df/ttf and multiterm expansion.

Multi-field indexes (reference per-document field lists,
utils/index-put.cpp:258-277) carry a ``field`` column in postings / term_dict
/ norms; every scan helper takes an optional ``field`` (None = the index's
default field) and the field equality clause pushes down to the
(field, term)-sorted parquet layout.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..search.lev_automaton import SortedVocab
from .commit import read_meta

#: (path, directory mtime) → pyarrow dataset; a process-wide cache, so each
#: driver or Python worker lists a table's files once. A committed
#: generation's directories are never rewritten in place, and the mtime in the
#: key keeps a directory deleted and rebuilt under the same name from being
#: served stale.
_DATASETS: dict[tuple[str, int], pads.Dataset] = {}


def table_datasets(paths) -> list[pads.Dataset]:
    """pyarrow datasets over one index table's paths (``meta["tables"]``
    value: a path or a list of paths), opened once per process."""
    out = []
    for p in paths if isinstance(paths, list) else [paths]:
        p = p.removeprefix("file:")
        key = (p, os.stat(p).st_mtime_ns)
        d = _DATASETS.get(key)
        if d is None:
            d = _DATASETS[key] = pads.dataset(p, format="parquet")
        out.append(d)
    return out


def read_table(paths, columns: list[str], pred=None) -> pa.Table:
    """The ``columns`` of one index table's rows matching the pyarrow
    expression ``pred``, read with pyarrow — no Spark. Files and row groups
    whose statistics exclude ``pred`` are skipped. Columns a part lacks (an
    older layout) are null in that part's rows."""
    tables = [
        d.to_table(columns=[c for c in columns if c in d.schema.names], filter=pred)
        for d in table_datasets(paths)
    ]
    return tables[0] if len(tables) == 1 else pa.concat_tables(tables, promote_options="default")


def read_frame(paths, columns: list[str], pred=None) -> pd.DataFrame:
    """:func:`read_table` as a pandas frame."""
    return read_table(paths, columns, pred).to_pandas()


class TableParts:
    """One index table's parquet files held by their footers: each file's
    ``FileMetaData`` and, per row group, the min/max statistics of the
    ``keys`` columns. :meth:`read` opens a file with its held footer
    (``pq.ParquetFile(path, metadata=...)``), reads the chosen row groups
    and closes it: no read parses a footer again and no file handle stays
    open. Memory: each file's footer (its serialized size is
    ``FileMetaData.serialized_size``, about 3–6 KB for a postings file) plus
    two values per row group and key."""

    def __init__(self, paths, keys: tuple[str, ...]):
        self.files = [(f, pq.read_metadata(f)) for d in table_datasets(paths) for f in d.files]
        self._names = [set(md.schema.to_arrow_schema().names) for _, md in self.files]
        file_of, group_of = [], []
        lo: dict[str, list] = {k: [] for k in keys}
        hi: dict[str, list] = {k: [] for k in keys}
        for i, (_, md) in enumerate(self.files):
            col = {md.schema.column(j).path: j for j in range(md.num_columns)}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                file_of.append(i)
                group_of.append(g)
                for k in keys:
                    st = rg.column(col[k]).statistics if k in col else None
                    ok = st is not None and st.has_min_max
                    lo[k].append(st.min if ok else None)
                    hi[k].append(st.max if ok else None)
        self.file_of = np.array(file_of, np.int64)
        self.group_of = np.array(group_of, np.int64)
        self._lo = {k: np.array(v, dtype=object) for k, v in lo.items()}
        self._hi = {k: np.array(v, dtype=object) for k, v in hi.items()}
        self._has = {k: np.array([x is not None for x in v], bool) for k, v in lo.items()}

    @property
    def num_groups(self) -> int:
        return self.file_of.size

    def overlaps(self, key: str, lo=None, hi=None) -> np.ndarray:
        """Per row group: may it hold a ``key`` value in the closed interval
        ``[lo, hi]`` (None: unbounded)? True where it has no statistics."""
        has = self._has[key]
        hit = np.ones(int(has.sum()), bool)
        if lo is not None:
            hit &= self._hi[key][has] >= lo
        if hi is not None:
            hit &= self._lo[key][has] <= hi
        out = ~has
        out[has] = hit
        return out

    def holds_any(self, key: str, values: np.ndarray) -> np.ndarray:
        """Per row group: may it hold one of the ascending-sorted ``values``?
        One ``searchsorted`` of every group's min into them. True where it
        has no statistics."""
        has = self._has[key]
        out = ~has
        if values.size:
            j = np.searchsorted(values, self._lo[key][has])
            out[has] = (j < values.size) & (values[np.minimum(j, values.size - 1)] <= self._hi[key][has])
        return out

    def read(self, groups: np.ndarray, columns: list[str], use_threads: bool = True) -> pa.Table | None:
        """The ``columns`` of the row groups ``groups`` (indexes into this
        table's row groups, ascending), file by file; None when ``groups``
        is empty. Columns a file lacks are null in its rows. ``use_threads``
        decodes a file's columns in parallel."""
        groups = np.asarray(groups, np.int64)
        files = self.file_of[groups]
        tables = []
        for i in np.unique(files).tolist():
            path, md = self.files[i]
            with pq.ParquetFile(path, metadata=md) as pf:
                tables.append(pf.read_row_groups(
                    self.group_of[groups[files == i]].tolist(),
                    columns=[c for c in columns if c in self._names[i]],
                    use_threads=use_threads,
                ))
        if not tables:
            return None
        return tables[0] if len(tables) == 1 else pa.concat_tables(tables, promote_options="default")


#: the tables whose files a generation's held state depends on
STATE_TABLES = ("postings", "docs", "norms", "deletes")
#: index directory → (generation, files, norms, deletes, parts): what a
#: process holds of the newest generation of the index it has searched —
#: the readers a reference segment reader opens once
#: (segment_reader.hpp:35-110). ``norms`` and ``deletes`` are the search
#: executor's per-segment maps (its decoded norms and sorted delete ids);
#: ``parts`` maps a table name to its :class:`TableParts`. ``files`` are the
#: generation's :data:`STATE_TABLES` paths with their mtimes, like
#: ``_DATASETS``' keys. One generation is held per index directory: a newer
#: one replaces it, and a reader pinned to an older one (or a rebuilt
#: directory at a lower generation) gets its own state, uncached.
_SEGMENT_STATE: dict[str, tuple[int, tuple, dict, dict, dict]] = {}
#: held while a search looks up or fills :data:`_SEGMENT_STATE`: a search
#: must not see a segment's norms before its deletes are in
_SEGMENT_STATE_LOCK = threading.Lock()


def _files_key(tables: dict) -> tuple:
    """Every path of ``tables`` with its mtime."""
    paths = [p for v in tables.values() for p in (v if isinstance(v, list) else [v])]
    return tuple((p, os.stat(p.removeprefix("file:")).st_mtime_ns) for p in paths)


def generation_state(index: str, generation: int, tables: dict) -> tuple[dict, dict, dict]:
    """The (norms, deletes, parts) maps of ``index``'s ``generation``, whose
    :data:`STATE_TABLES` are ``tables``: held in :data:`_SEGMENT_STATE`
    unless a newer generation of the index is. The caller holds
    :data:`_SEGMENT_STATE_LOCK`."""
    files = _files_key(tables)
    held = _SEGMENT_STATE.get(index)
    if held is not None and held[1] == files:
        return held[2], held[3], held[4]
    state: tuple[dict, dict, dict] = ({}, {}, {})
    if held is None or generation >= held[0]:
        _SEGMENT_STATE[index] = (generation, files, *state)
    return state


def held_parts(index: str, generation: int, tables: dict, name: str, keys: tuple[str, ...]) -> TableParts:
    """Table ``name``'s :class:`TableParts` (row-group statistics of
    ``keys``) from the generation's state, read on first use."""
    with _SEGMENT_STATE_LOCK:
        parts = generation_state(index, generation, tables)[2]
        got = parts.get(name)
        if got is None:
            got = parts[name] = TableParts(tables[name], keys)
    return got


class IndexReader:
    def __init__(self, spark: SparkSession, index_path: str):
        self.spark = spark
        self.index_path = index_path
        self.meta = read_meta(index_path)
        if self.meta is None:
            raise FileNotFoundError(f"no index committed at {index_path}")
        self._field_stats: dict[str, dict] = {}
        self._tables: dict[str, DataFrame] = {}
        self._vocab: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._vocab_index: dict[str, SortedVocab] = {}
        self._norms_summary: pd.DataFrame | None = None
        self._segment_counts: dict[int, int] | None = None
        #: the tables that key this generation's held state
        self.state_tables = {t: v for t, v in self.meta["tables"].items() if t in STATE_TABLES}

    # ------------------------------------------------------------- fields
    @property
    def default_field(self) -> str:
        return self.meta.get("default_field") or self.meta.get("text_col", "text")

    @property
    def field_names(self) -> list[str]:
        fields = self.meta.get("fields")
        if fields:
            return [f["name"] for f in fields]
        return [self.default_field]

    @property
    def is_multifield(self) -> bool:
        return len(self.field_names) > 1

    def _resolve_field(self, field: str | None) -> str:
        return field if field is not None else self.default_field

    def _field_clause(self, field: str | None):
        """Pushdown field-equality clause, or None when the index has a single
        field."""
        if not self.is_multifield:
            return None
        return F.col("field") == self._resolve_field(field)

    def _table(self, name: str) -> DataFrame:
        """Point-in-time table handle, created ONCE per reader: re-reading
        parquet per query would redo file listing + footer reads (a multi-second
        serial driver cost on big indexes); a pinned reader is also exactly the
        reference's snapshot semantics (segment_reader.hpp:35-110)."""
        if name not in self._tables:
            v = self.meta["tables"][name]
            paths = v if isinstance(v, list) else [v]
            self._tables[name] = self.spark.read.parquet(*paths)
        return self._tables[name]

    def docs(self) -> DataFrame:
        df = self._table("docs")
        doc_cols = self.meta.get("doc_cols")
        return df.select(*doc_cols) if doc_cols else df

    def fetch_docs(
        self, segment_ids, doc_ids, columns: tuple[str, ...] = ("doc_key",)
    ) -> pd.DataFrame:
        """Stored columns of the given (segment_id, doc_id) docs, read on the
        driver with pyarrow — no Spark job and no dataset scan (the reference
        reads stored values by doc id from the open reader,
        index-search.cpp:676-748). The docs table's footers and each row
        group's (segment_id, doc_id) ranges are held per generation
        (:func:`held_parts`); a fetch reads ``segment_id``, ``doc_id`` and
        ``columns`` of only the row groups whose ranges cover a wanted pair,
        then takes each pair's row by its offset in them (a binary search
        over the pairs read). Returns (segment_id, doc_id, *columns): one row
        per pair found, in the input order, indexed by the pair's input
        position; pairs not in the table are absent."""
        sids = np.asarray(segment_ids, np.int64)
        dids = np.asarray(doc_ids, np.int64)
        cols = ["segment_id", "doc_id", *columns]
        parts = held_parts(
            os.path.abspath(self.index_path), int(self.meta["generation"]),
            self.state_tables, "docs", ("segment_id", "doc_id"),
        )
        pick = np.zeros(parts.num_groups, bool)
        for sid in np.unique(sids).tolist():
            d = dids[sids == sid]
            pick |= parts.overlaps("segment_id", sid, sid) & parts.overlaps(
                "doc_id", int(d.min()), int(d.max())
            )
        # a docs row group's few small columns decode about twice as fast
        # serially as on threads
        t = parts.read(np.flatnonzero(pick), cols, use_threads=False)
        if t is None:
            return pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})
        have = (t.column("segment_id").to_numpy().astype(np.int64) << 32) | t.column(
            "doc_id"
        ).to_numpy().astype(np.int64)
        order = np.argsort(have, kind="stable")
        have = have[order]
        want = (sids << 32) | dids
        at = np.minimum(np.searchsorted(have, want), max(have.size - 1, 0))
        found = np.flatnonzero(have[at] == want) if have.size else np.zeros(0, np.int64)
        rows = pa.array(order[at[found]])
        return pd.DataFrame(
            {c: t.column(c).take(rows).to_numpy(zero_copy_only=False) for c in cols},
            index=found,
        )

    def postings(self) -> DataFrame:
        return self._table("postings")

    def term_dict(self, field: str | None = None) -> DataFrame:
        td = self._table("term_dict")
        clause = self._field_clause(field)
        return td.where(clause) if clause is not None else td

    def fuzzy_vocab_sorted(self, field: str | None = None):
        """One field's term dictionary as term-ascending numpy arrays
        ``(terms, df, ttf)`` — the in-memory term index of the reference
        (formats_burst_trie.cpp:857-861), which every multiterm expansion
        (prefix, range, wildcard, fuzzy) and every (df, ttf) lookup reads on
        the driver: zero Spark jobs.

        Loaded once per (reader, field) by one pyarrow read of the term_dict
        table (``field == f`` on multi-field indexes). The table is written
        sorted by (field, term), so the rows normally arrive in ascending
        order; a list-valued table concatenates its parts, so the order is
        checked and a stable argsort restores it when needed.

        Memory: the whole field vocabulary stays on the driver, about 65
        bytes per term (3 MB for 50k terms, 650 MB for 10M); there is no
        cap."""
        fname = self._resolve_field(field)
        vocab = self._vocab.get(fname)
        if vocab is None:
            pred = pc.field("field") == fname if self.is_multifield else None
            pdf = read_frame(self.meta["tables"]["term_dict"], ["term", "df", "ttf"], pred)
            vocab = (
                pdf["term"].to_numpy(dtype=object),
                pdf["df"].to_numpy(np.int64),
                pdf["ttf"].to_numpy(np.int64),
            )
            terms = vocab[0]
            if len(terms) > 1 and not bool(np.all(terms[:-1] <= terms[1:])):
                perm = np.argsort(terms, kind="stable")
                vocab = tuple(a[perm] for a in vocab)
            self._vocab[fname] = vocab
        return vocab

    def fuzzy_vocab_index(self, field: str | None = None):
        """:meth:`fuzzy_vocab_sorted`'s terms laid out for the fuzzy walk
        (search/lev_automaton.py ``SortedVocab``): built on the field's
        first fuzzy expansion and cached with its arrays, so Term, Prefix and
        Wildcard never pay for it. About 4 bytes per character plus 16 per
        term (40 bytes per term on perfbench's 6-character terms)."""
        fname = self._resolve_field(field)
        index = self._vocab_index.get(fname)
        if index is None:
            index = self._vocab_index[fname] = SortedVocab(self.fuzzy_vocab_sorted(fname)[0])
        return index

    def deletes(self) -> DataFrame | None:
        """(segment_id, doc_id) delete pairs — the document_mask
        (segment_reader.hpp:92-93), or None when nothing is deleted."""
        if "deletes" not in self.meta["tables"]:
            return None
        return self._table("deletes")

    def live_docs(self) -> DataFrame:
        """docs minus deleted (mask applied; the surface of Nested's fold)."""
        docs = self.docs()
        dels = self.deletes()
        if dels is None:
            return docs
        return docs.join(dels, ["segment_id", "doc_id"], "left_anti")

    def norms(self, field: str | None = None) -> DataFrame:
        """Per-segment chunked Norm2 rows of one field's doc lengths (the
        default field when None)."""
        out = self._table("norms")
        clause = self._field_clause(field)
        return out.where(clause) if clause is not None else out

    def field_stats(self, field: str | None = None) -> dict:
        """{docs_with_field, total_term_freq, avgdl} for one field — collected
        once per field, tiny (bm25.cpp:495-519 field_collector analogue).

        Derived from the per-segment norms rows."""
        fname = self._resolve_field(field)
        if fname not in self._field_stats:
            rows = self._norms_rows(fname)
            n = int(rows["docs_with_field"].sum())
            ttf = int(rows["sum_len"].sum())
            self._field_stats[fname] = {
                "docs_with_field": n,
                "total_term_freq": ttf,
                "avgdl": ttf / n if n else 0.0,
            }
        return self._field_stats[fname]

    def term_stats(
        self, terms: list[str], field: str | None = None
    ) -> dict[str, tuple[int, int]]:
        """term → (df, ttf) within one field; the term_collector phase
        (collectors.cpp:144-219). One binary search per term in
        :meth:`fuzzy_vocab_sorted`'s arrays — no Spark job. Absent terms have
        no entry."""
        ta, dfa, ttfa = self.fuzzy_vocab_sorted(field)
        out: dict[str, tuple[int, int]] = {}
        for t in terms:
            i = int(np.searchsorted(ta, t))
            if i < len(ta) and ta[i] == t:
                out[t] = (int(dfa[i]), int(ttfa[i]))
        return out

    def _norms_rows(self, field: str) -> pd.DataFrame:
        """One field's per-chunk norms counters (segment_id, docs_count,
        docs_with_field, sum_len), read once per reader with pyarrow — the
        whole-table summary is a few numbers per segment chunk."""
        if self._norms_summary is None:
            self._norms_summary = read_frame(
                self.meta["tables"]["norms"],
                ["field", "segment_id", "docs_count", "docs_with_field", "sum_len"],
            )
        ns = self._norms_summary
        return ns[ns["field"] == field]

    def segment_docs_counts(self) -> dict[int, int]:
        """segment_id → live+masked doc count of every live segment (sums the
        default field's norm chunk rows — every field covers the same docs).
        No Spark job; summed once per reader (a reader is pinned to one
        generation). Returns a copy."""
        if self._segment_counts is None:
            rows = self._norms_rows(self.default_field)
            counts = rows.groupby("segment_id")["docs_count"].sum()
            self._segment_counts = {int(sid): int(n) for sid, n in counts.items()}
        return dict(self._segment_counts)
