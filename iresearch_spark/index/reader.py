"""Point-in-time index reader (segment_reader.hpp analogue).

Loads the committed generation's tables; global BM25 stats are collected once
per field (tiny) and cached — the ``filter::prepare`` stats phase
(SURVEY.md §3.2). Multi-field indexes (reference per-document field lists,
utils/index-put.cpp:258-277) carry a ``field`` column in postings / term_dict
/ norms; every scan helper takes an optional ``field`` (None = the index's
default field) and the field equality clause pushes down to the
(field, term)-sorted parquet layout exactly like the term predicates.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import vbyte_decode


class IndexReader:
    def __init__(self, spark: SparkSession, index_path: str):
        self.spark = spark
        self.index_path = index_path
        with open(os.path.join(index_path, "meta.json")) as f:
            self.meta = json.load(f)
        self._field_stats: dict[str, dict] = {}
        self._tables: dict[str, DataFrame] = {}
        self._vocab_cache: dict[str, tuple | None] = {}
        self._vocab_sorted_cache: dict[str, tuple | None] = {}
        self._docs_datasets: list | None = None  # pyarrow datasets, fetch_docs

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
        field (legacy tables may lack the column entirely)."""
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
        driver with pyarrow — no Spark job (the reference reads stored values
        by doc id from the open reader, index-search.cpp:676-748). The docs
        parquet paths are opened once per reader; the per-segment
        ``segment_id == s AND doc_id IN (...)`` filter prunes files and row
        groups by their statistics, so a top-k fetch reads only the touched
        segments' parts. Returns (segment_id, doc_id, *columns) in no
        particular order; pairs not in the table are absent."""
        import pyarrow.dataset as pads

        if self._docs_datasets is None:
            v = self.meta["tables"]["docs"]
            self._docs_datasets = [
                pads.dataset(p.removeprefix("file:"), format="parquet")
                for p in (v if isinstance(v, list) else [v])
            ]
        want = pd.DataFrame(
            {"segment_id": np.asarray(segment_ids, np.int64),
             "doc_id": np.asarray(doc_ids, np.int64)}
        )
        cols = ["segment_id", "doc_id", *columns]
        pred = None
        for sid, grp in want.groupby("segment_id"):
            p = (pads.field("segment_id") == int(sid)) & pads.field("doc_id").isin(
                grp["doc_id"].to_numpy()
            )
            pred = p if pred is None else pred | p
        if pred is None:
            return want.assign(**{c: pd.Series([], dtype=object) for c in columns})
        return pd.concat(
            [d.to_table(columns=cols, filter=pred).to_pandas() for d in self._docs_datasets],
            ignore_index=True,
        )

    def postings(self) -> DataFrame:
        return self._table("postings")

    def term_dict(self, field: str | None = None) -> DataFrame:
        td = self._table("term_dict")
        if "charmask" not in td.columns:
            # index committed before the fuzzy-prefilter feature columns
            # landed: derive tlen/charmask on the fly (same expressions the
            # build persists — see index/termfeat.py)
            from .termfeat import with_term_features

            td = with_term_features(td)
        clause = self._field_clause(field) if "field" in td.columns else None
        return td.where(clause) if clause is not None else td

    # in-memory term-dictionary cap for the fuzzy fast path (rows per field).
    # ~48 bytes/row → the default caps the driver cache at ~100 MB, far above
    # any natural-language vocabulary (enwiki ≈ 10M distinct body terms).
    FUZZY_VOCAB_MAX = int(os.environ.get("IRS_FUZZY_VOCAB_MAX", "2000000"))

    def fuzzy_vocab(self, field: str | None = None):
        """Driver-cached (terms, df, tlen, charmask) numpy columns for one
        field — the in-memory term-dictionary role of the reference's FST
        (formats_burst_trie.cpp:857-861: the prefix index lives in memory on
        the searching node; fuzzy intersects the automaton with it locally,
        levenshtein_filter.cpp:139-310). Expanding a fuzzy query against this
        cache is pure numpy (micro-seconds) instead of a dedicated Spark job
        whose scheduling floor dwarfs the actual work.

        BOUNDED: collected once per reader per field, only when the field's
        vocabulary has ≤ ``FUZZY_VOCAB_MAX`` rows; larger vocabularies return
        None and the caller keeps the fully distributed expansion (pushed-down
        tlen/charmask prefilter + pandas-UDF DP) — nothing unbounded ever
        reaches the driver."""
        fname = self._resolve_field(field)
        if fname in self._vocab_cache:
            return self._vocab_cache[fname]
        # collected in ascending term order: the JVM sorts the (one-time)
        # collect so fuzzy_vocab_sorted never pays a driver-side argsort over
        # millions of Python strings (the is-sorted check there then passes)
        cols = (
            self.term_dict(fname)
            .select("term", "df", "ttf", "tlen", "charmask")
            .orderBy("term")
        )
        # over-cap guard: when the table's parquet footers (driver-local, no
        # job) show more rows than the cap, a cheap limited COUNT decides
        # before any data transfer — a >cap vocabulary must not pay a
        # multi-GB toPandas just to be discarded (the first query on a huge
        # index would eat the collect). Footer total covers all fields, so
        # under-cap totals skip the probe entirely (zero extra jobs on the
        # common path).
        total = self._term_dict_total_rows()
        if total is None or total > self.FUZZY_VOCAB_MAX:
            if cols.limit(self.FUZZY_VOCAB_MAX + 1).count() > self.FUZZY_VOCAB_MAX:
                self._vocab_cache[fname] = None
                return None
        pdf = cols.limit(self.FUZZY_VOCAB_MAX + 1).toPandas()
        if len(pdf) > self.FUZZY_VOCAB_MAX:
            self._vocab_cache[fname] = None
            return None
        out = (
            pdf["term"].to_numpy(dtype=object),
            pdf["df"].to_numpy(np.int64),
            pdf["ttf"].to_numpy(np.int64),
            pdf["tlen"].to_numpy(np.int64),
            pdf["charmask"].to_numpy(np.int64),
        )
        self._vocab_cache[fname] = out
        return out

    def _term_dict_total_rows(self) -> int | None:
        """Total term_dict rows (ALL fields) from parquet footer metadata,
        read driver-local — no Spark job, no data. None when the paths are
        not locally readable (remote fs) — callers then fall back to a
        limited COUNT job."""
        try:
            import pyarrow.parquet as pq

            v = self.meta["tables"]["term_dict"]
            paths = v if isinstance(v, list) else [v]
            total = 0
            for p in paths:
                p = p.removeprefix("file:")
                if os.path.isdir(p):
                    for root, _dirs, files in os.walk(p):
                        for f in files:
                            if f.endswith(".parquet"):
                                total += pq.ParquetFile(
                                    os.path.join(root, f)
                                ).metadata.num_rows
                elif os.path.isfile(p):
                    total += pq.ParquetFile(p).metadata.num_rows
                else:
                    return None
            return total
        except Exception:
            return None

    def fuzzy_vocab_sorted(self, field: str | None = None):
        """:meth:`fuzzy_vocab` permuted into ASCENDING term order — the
        FST-role sorted view the Levenshtein-automaton intersect walk
        (search/lev_automaton.py) seeks over.  The collect order of the
        term_dict scan is not guaranteed (df-ranked / task order), so the
        permutation is computed once per (reader, field) and cached; the
        prefilter fast path keeps the unsorted arrays (its selection is
        order-independent) and never pays the sort."""
        fname = self._resolve_field(field)
        if fname in self._vocab_sorted_cache:
            return self._vocab_sorted_cache[fname]
        vocab = self.fuzzy_vocab(fname)
        if vocab is None:
            self._vocab_sorted_cache[fname] = None
            return None
        terms = vocab[0]
        if len(terms) > 1 and not bool(np.all(terms[:-1] <= terms[1:])):
            perm = np.argsort(terms, kind="stable")
            out = tuple(a[perm] for a in vocab)
        else:
            out = vocab
        self._vocab_sorted_cache[fname] = out
        return out

    def deletes(self) -> DataFrame | None:
        """(segment_id, doc_id) delete pairs — the document_mask
        (segment_reader.hpp:92-93), or None when nothing is deleted."""
        if "deletes" not in self.meta["tables"]:
            return None
        return self._table("deletes")

    def live_docs(self) -> DataFrame:
        """docs minus deleted (mask applied; stored-column query surface)."""
        docs = self.docs()
        dels = self.deletes()
        if dels is None:
            return docs
        return docs.join(dels, ["segment_id", "doc_id"], "left_anti")

    def norms(self, field: str | None = None, all_fields: bool = False) -> DataFrame:
        """Per-segment chunked Norm2 rows. ``field`` scopes to one field's doc
        lengths (the default field when None); ``all_fields=True`` returns
        every field's rows (the mixed-field kernel path builds a per-field
        norms map from them)."""
        df = self._table("norms")
        keep = [
            c
            for c in (
                "field", "segment_id", "chunk_id", "docs_count", "doc_len_enc",
                "docs_with_field", "sum_len", "min_len",
            )
            if c in df.columns
        ]
        out = df.select(*keep)
        if not all_fields and "field" in out.columns and self.is_multifield:
            out = out.where(F.col("field") == self._resolve_field(field))
        dels = self.deletes()
        if dels is not None:
            # per-segment sorted delete arrays ride the norms side into the
            # scoring kernels (the in-memory document_mask analogue)
            agg = dels.groupBy("segment_id").agg(
                F.sort_array(F.collect_list("doc_id")).alias("del_ids")
            )
            out = out.join(F.broadcast(agg), "segment_id", "left")
        return out

    def field_stats(self, field: str | None = None) -> dict:
        """{docs_with_field, total_term_freq, avgdl} for one field — collected
        once per field, tiny (bm25.cpp:495-519 field_collector analogue).

        Derived from the per-segment norms rows; legacy indexes with a
        dedicated field_stats table still read that."""
        fname = self._resolve_field(field)
        if fname not in self._field_stats:
            if "field_stats" in self.meta["tables"]:
                row = self.spark.read.parquet(self.meta["tables"]["field_stats"]).collect()[0]
                n = int(row["docs_with_field"])
                ttf = int(row["total_term_freq"])
            else:
                nt = self._table("norms")
                sel = nt
                if "field" in nt.columns:
                    sel = nt.where(F.col("field") == fname)
                rows = sel.select("docs_with_field", "sum_len").collect()
                n = sum(int(r["docs_with_field"]) for r in rows)
                ttf = sum(int(r["sum_len"]) for r in rows)
            self._field_stats[fname] = {
                "docs_with_field": n,
                "total_term_freq": ttf,
                "avgdl": ttf / n if n else 0.0,
            }
        return self._field_stats[fname]

    @staticmethod
    def _bare_term_pred(terms: list[str]):
        """Pushdown-friendly membership predicate: an explicit min/max range
        (always prunable from parquet row-group stats on the term-sorted
        layout) AND'd with the In set. Spark only converts small In lists to
        parquet filters, so the range clause is what guarantees file/row-group
        pruning for big term sets."""
        ts = sorted(terms)
        rng = (F.col("term") >= ts[0]) & (F.col("term") <= ts[-1])
        return rng & F.col("term").isin(ts)

    def _term_pred(self, terms: list[str], field: str | None = None):
        """:meth:`_bare_term_pred` plus the field equality on multi-field
        indexes."""
        pred = self._bare_term_pred(terms)
        clause = self._field_clause(field)
        return pred & clause if clause is not None else pred

    def postings_for_terms(
        self, terms: list[str], extra_pred=None, field: str | None = None
    ) -> DataFrame:
        """Pruned postings scan (the FST term-index role, done by layout):
        the postings table is range-partitioned + sorted by (field, term), so
        the field + min/max + In predicate prunes files and row groups.
        ``extra_pred`` widens the scan with a pushable term predicate
        (prefix/range/wildcard multiterm tails) OR'd in — evaluated in-scan,
        never collected. The whole scan is scoped to ONE field; mixed-field
        scans OR several of these predicates (executor `_batch_postings`).

        Very large term sets without an extra predicate use a broadcast
        semi-join plus the min/max range clause instead of a giant In
        expression (which costs seconds of driver planning)."""
        clause = self._field_clause(field)
        if not terms:
            pred = extra_pred if extra_pred is not None else F.lit(False)
            if clause is not None and extra_pred is not None:
                pred = clause & pred
            return self.postings().where(pred)
        ts = sorted(terms)
        if len(ts) > 2048 and extra_pred is None:
            rng = (F.col("term") >= ts[0]) & (F.col("term") <= ts[-1])
            if clause is not None:
                rng = clause & rng
            tdf = self.spark.createDataFrame([(t,) for t in ts], "term string")
            return self.postings().where(rng).join(F.broadcast(tdf), "term", "leftsemi")
        pred = self._bare_term_pred(ts)
        if extra_pred is not None:
            pred = pred | extra_pred
        if clause is not None:
            pred = clause & pred
        return self.postings().where(pred)

    def term_stats(
        self, terms: list[str], field: str | None = None
    ) -> dict[str, tuple[int, int]]:
        """term → (df, ttf) within one field; the term_collector phase
        (collectors.cpp:144-219).

        Served from the driver-cached sorted vocabulary when the field's
        dictionary fits the cache (binary search per term — zero Spark jobs;
        the cache is built once per reader and amortizes across every query,
        which leaves the postings kernel as a search's ONLY job).  Falls back
        to the distributed term_dict lookup above the cache cap or under
        IRS_STATS_VOCAB=0."""
        if os.environ.get("IRS_STATS_VOCAB", "1") != "0":
            vocab = self.fuzzy_vocab_sorted(field)
            if vocab is not None:
                ta, dfa, ttfa = vocab[0], vocab[1], vocab[2]
                out: dict[str, tuple[int, int]] = {}
                for t in terms:
                    i = int(np.searchsorted(ta, t))
                    if i < len(ta) and ta[i] == t:
                        out[t] = (int(dfa[i]), int(ttfa[i]))
                return out
        rows = self.term_dict(field).where(self._bare_term_pred(terms)).collect()
        return {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}

    def doc_lens(self, segment_id: int, field: str | None = None) -> np.ndarray:
        """Dense doc_len array for one segment+field (Norm2 reader analogue);
        chunked rows are concatenated in chunk order."""
        rows = self.norms(field=field).where(F.col("segment_id") == segment_id).collect()
        rows.sort(key=lambda r: r["chunk_id"] if "chunk_id" in r.__fields__ else 0)
        return np.concatenate(
            [vbyte_decode(r["doc_len_enc"]).astype(np.int64) for r in rows]
        ) if rows else np.empty(0, np.int64)

    def segment_docs_counts(self) -> dict[int, int]:
        """segment_id → live+masked doc count (sums the default field's norm
        chunk rows — every field covers the same docs)."""
        nt = self._table("norms")
        sel = nt
        if "field" in nt.columns:
            sel = nt.where(F.col("field") == self.default_field)
        rows = (
            sel.groupBy("segment_id").agg(F.sum("docs_count").alias("n")).collect()
        )
        return {int(r["segment_id"]): int(r["n"]) for r in rows}
