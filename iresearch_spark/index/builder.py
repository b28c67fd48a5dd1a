"""Index build pipeline: pages DataFrame → inverted-index tables on disk.

Spark-first re-expression of the reference write path (SURVEY.md §3.1):

* stage ``segments``  — deterministic key-range segments: boundaries come from
  a fixed-seed hash sample of the key column, persisted to
  ``gen=<g>/boundaries.json`` BEFORE the job (restart-stable, unlike
  ``repartitionByRange``'s RDD-id-seeded sampling); segment_id = bucket index,
  doc ids dense 1-based per segment, mirroring segment_writer.cpp:93-112. ONE
  ``mapInArrow`` pass per partition tokenizes (vectorized, C-backed — no
  per-row Python), inverts (field_data.cpp:1008-1099 analogue) and
  VByte-encodes every term's posting list for that segment in-kernel
  (segment_writer flush analogue, formats_10.cpp:803-953). Because a segment
  IS an input partition, posting construction involves **no shuffle of raw
  token data at all** — the widest data in the job never leaves the task that
  produced it. Tasks direct-write their docs/norms/raw-postings parquet parts
  (atomic rename, idempotent) and the job's Spark output is the per-segment
  LINEAGE manifest (rows/terms/tokens/seconds/skipped); a re-run task whose
  parts already exist and match this segment's keys SKIPS the heavy work —
  segment-granular resume.
* stage ``docs``      — per-doc stored columns + ``doc_len``
  (Norm2, norm.hpp:77-124); Parquet is the columnstore analogue.
* stage ``postings``  — the encoded posting rows (already compact: ~1 row per
  (term, segment), binary-encoded) are re-laid-out **range-partitioned and
  sorted by (term, segment_id)**: every parquet file covers a contiguous term
  range, so Catalyst's parquet row-group/file stats prune exact lookups
  (``term IN ...``), prefixes (``term LIKE 'p%'`` → StartsWith pushdown) AND
  lexicographic ranges (``term >= lo AND term < hi``) — the FST/burst-trie
  term-index role (formats_burst_trie.cpp:854-861) done by layout + stats, not
  code. This shuffle moves only encoded postings — orders of magnitude smaller
  than the token stream. Skew: a head term is split across all segments by
  construction (the salting analogue, bounded by segment size), and
  ``repartitionByRange(term, segment_id)`` further splits a head term's rows
  across adjacent range partitions; AQE is the backstop.
* stage ``term_dict`` — per-term global df/ttf (collectors.cpp:75-94 analogue).
* stage ``norms``     — per-segment dense ``doc_len`` arrays, VByte-encoded, one
  row per segment (Norm2 columnstore reader analogue — kernels index it by
  doc_id with zero joins).
  Each norms row also carries its chunk's docs_with_field and sum_len, the
  BM25 field stats (bm25.cpp:495-519) that ``IndexReader.field_stats`` sums.
* commit — through :mod:`.commit`, like every writer: the build or append
  claims ``gen=<g+1>/`` of the committed generation g, its stages write
  there, and the meta staged in that directory is renamed to ``meta.json``
  (index_writer.cpp:2606-2718 ``pending_segments_<gen>`` → ``segments_<gen>``).
  One local filesystem, one live writer per index at a time: a stale base or
  a rival live writer raises ``CommitConflict`` before any stage runs.

Every stage appends a manifest row (run_id, stage, status, rows, seconds) and
is skipped when the same run re-runs it (``build(run_id=...)``) and its
output + manifest row exist → an interrupted build resumes at stage
granularity. Any other run redoes the stages; its segments stage still skips
every segment whose part files hold exactly that segment's doc keys.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.tokenizers import (
    arrow_simple_token_offsets,
    arrow_tokenize_encode,
    get_tokenizer,
)

from .codec import encode_postings_batch_arrow, vbyte_encode
from .commit import Claim, claim, read_meta
from .reader import read_frame

POSTINGS_SCHEMA = (
    "field string, term string, segment_id int, docs_count int, total_freq long, "
    "max_freq int, doc_ids_enc binary, freqs_enc binary, pos_enc binary, "
    "block_last_doc array<long>, block_doc_off array<long>, "
    "block_freq_off array<long>, block_max_freq array<long>"
)

NORMS_SCHEMA = (
    "field string, segment_id int, chunk_id int, docs_count int, doc_len_enc binary, "
    "docs_with_field int, sum_len long, min_len int"
)

# separator for composite (field, term) kernel keys — must never appear in a
# field name (the builder validates); term text cannot contain it either for
# the builtin analyzers (it is a control char no tokenizer emits)
FIELD_SEP = "\x1f"

# Norm2 columnstore chunking: doc_len is stored in fixed 2^16-doc VByte rows
# (sparse_bitmap.hpp:62 block analogue) so query kernels decode only the
# chunks their candidate doc ids touch — a 100M-doc segment is 1526 ~64KB
# cells, not one multi-hundred-MB cell every kernel must decode in full.
NORMS_CHUNK_DOCS = 1 << 16

TERM_DICT_SCHEMA = "field string, term string, df long, ttf long, max_freq int"

OFFSETS_SCHEMA = (
    "term string, segment_id int, docs_count int, "
    "doc_ids_enc binary, freqs_enc binary, offs_enc binary"
)

# PAY stream sidecar (token_attributes.hpp payload; formats_10.cpp:345-353
# `.pay`): one integer payload per occurrence, in the same (term, doc, pos)
# stream order and codec as positions; pos_enc rides along so the table is
# self-contained (per-occurrence (position, payload) pairs decode without a
# join back to postings).
PAYLOADS_SCHEMA = (
    "term string, segment_id int, docs_count int, "
    "doc_ids_enc binary, freqs_enc binary, pos_enc binary, pay_enc binary"
)

LINEAGE_SCHEMA = (
    "segment_id int, n_docs long, n_terms long, n_tokens long, "
    "seconds double, skipped boolean"
)


def _direct_scan_files(df: DataFrame) -> list[str] | None:
    """The input's parquet files, iff the DataFrame is a BARE parquet scan
    (a single Relation node — no filter/projection/join whose semantics a
    direct file read would drop) over locally-readable files. Conservative by
    design: anything else returns None and the caller takes the shuffle path.
    On a real cluster the same decision comes from the table format's
    metadata layer (an Iceberg scan's file list + column bounds); the local
    check here covers the sandbox's plain-parquet inputs."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    if (
        len(lines) != 1
        or not lines[0].startswith("Relation")
        or "parquet" not in lines[0]
    ):
        return None
    out: list[str] = []
    try:
        in_files = df.inputFiles()
    except Exception:
        return None
    for f in in_files:
        if f.startswith("file:"):
            from urllib.parse import unquote, urlparse

            out.append(unquote(urlparse(f).path))
        elif f.startswith("/"):
            out.append(f)
        else:
            return None  # remote store: would need a task-side FileIO; not wired
    return sorted(out) or None


def _atomic_write_parquet(tbl, final_path: str, task_attempt: int) -> None:
    """Write an Arrow table as a parquet part file, atomic-rename publish —
    idempotent under task retries and job re-runs (FileOutputCommitter v2
    semantics done by hand, because these files are written from inside the
    python kernel, not by Spark's writer)."""
    import os as _os

    import pyarrow.parquet as _pq

    tmp = f"{final_path}.{task_attempt}.tmp"
    _pq.write_table(tbl, tmp, compression="snappy")
    _os.replace(tmp, final_path)


def _layout_and_aggregate(postings_dir: str):
    """Fused postings-layout + term_dict kernel (mapInArrow).

    Input: one (field, term)-RANGE partition of encoded posting rows, sorted
    by (field, term, segment_id). The task (a) writes its partition DIRECTLY
    as a parquet part file (atomic tmp+rename — idempotent under retries;
    parquet min/max column stats give the same file/row-group pruning a
    Spark-written layout has), and (b) emits the per-(field, term)
    (df, ttf, max_freq) aggregate rows, still sorted. Because the range
    partitioning is on (field, term) alone, a term's rows NEVER span
    partitions, so the per-partition aggregate is the exact global term_dict —
    the separate groupBy job of the unfused path (one full re-read + shuffle
    of the postings table) disappears.
    """

    def fn(arrow_batches):
        import os as _os

        import numpy as _np
        import pyarrow as _pa
        import pyarrow.parquet as _pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        batches = [b for b in arrow_batches if b.num_rows]
        if not batches:
            return
        tbl = _pa.Table.from_batches(batches)
        pid = tc.partitionId()
        final = _os.path.join(postings_dir, f"part-{pid:05d}.parquet")
        tmp = _os.path.join(
            postings_dir, f".part-{pid:05d}-{tc.taskAttemptId()}.parquet.tmp"
        )
        _pq.write_table(tbl, tmp, compression="snappy")
        _os.replace(tmp, final)  # atomic publish, idempotent across retries

        terms = tbl.column("term").combine_chunks().to_numpy(zero_copy_only=False)
        flds = tbl.column("field").combine_chunks().to_numpy(zero_copy_only=False)
        starts = _np.flatnonzero(
            _np.concatenate(
                ([True], (terms[1:] != terms[:-1]) | (flds[1:] != flds[:-1]))
            )
        )
        dc = tbl.column("docs_count").to_numpy().astype(_np.int64)
        tf = tbl.column("total_freq").to_numpy().astype(_np.int64)
        mf = tbl.column("max_freq").to_numpy().astype(_np.int64)
        yield _pa.RecordBatch.from_arrays(
            [
                _pa.array(flds[starts], _pa.string()),
                _pa.array(terms[starts], _pa.string()),
                _pa.array(_np.add.reduceat(dc, starts), _pa.int64()),
                _pa.array(_np.add.reduceat(tf, starts), _pa.int64()),
                _pa.array(
                    _np.maximum.reduceat(mf, starts).astype(_np.int32), _pa.int32()
                ),
            ],
            names=["field", "term", "df", "ttf", "max_freq"],
        )

    return fn


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        analyzer="simple",
        num_segments: int | None = None,
        with_positions: bool = True,
        with_offsets: bool = False,
        with_payloads: bool = False,
        postings_partitions: int | None = None,
    ):
        """``analyzer`` is a registry name/spec (resolved on executors) or a
        Tokenizer callable captured directly in the task closure — the
        distributed-safe way to use a custom analyzer (driver-side
        ``register_analyzer`` mutations are NOT visible to executor processes,
        which re-import the registry module)."""
        self.spark = spark
        self.index_path = index_path
        self.analyzer = analyzer
        self.num_segments = num_segments
        self.with_positions = with_positions
        # OFFS index feature (token_attributes.hpp:39-47): persist per-
        # occurrence token byte offsets in a sidecar `offsets` table (the
        # .pay stream analogue, formats_10.cpp:345-353). Opt-in; supported
        # for the `simple` analyzer (whose tokens are verbatim substrings).
        self.with_offsets = with_offsets
        if with_offsets and analyzer != "simple":
            raise ValueError(
                "with_offsets=True requires the 'simple' analyzer (token "
                "offsets are derived from the Arrow string buffers)"
            )
        # PAY stream (payload attribute): persist one integer payload per
        # occurrence in a `payloads` sidecar. Requires a payload-emitting
        # analyzer (the delimited-payload `payload:<sep>` spec or a callable
        # with emits_payloads=True) and positions (the sidecar pairs each
        # payload with its position).
        self.with_payloads = with_payloads
        if with_payloads and not with_positions:
            raise ValueError("with_payloads=True requires with_positions")
        self.postings_partitions = postings_partitions

    def _resolve_fields(self, text_col, fields) -> list[tuple[str, str, object]]:
        """Normalize the field spec: a list of ``(name, source_col, analyzer)``
        triples. ``fields=None`` is the single-field surface: one field named
        after ``text_col``, analyzed with the builder's analyzer. Multi-field
        indexing is the reference's per-document field list
        (utils/index-put.cpp:258-277 indexes title+date+body)."""
        if fields is None:
            if text_col is None:
                raise ValueError("either text_col or fields must be given")
            out: list[tuple[str, str, object]] = [(text_col, text_col, self.analyzer)]
        else:
            out = []
            for spec in fields:
                if isinstance(spec, str):
                    name, col, an = spec, spec, self.analyzer
                elif len(spec) == 2:
                    name, col = spec
                    an = self.analyzer
                else:
                    name, col, an = spec
                if FIELD_SEP in name:
                    raise ValueError(
                        f"field name {name!r} contains the reserved separator"
                    )
                out.append((name, col, an))
        if len({n for n, _, _ in out}) != len(out):
            raise ValueError("duplicate field names")
        if self.with_offsets and (len(out) > 1 or out[0][2] != "simple"):
            raise ValueError(
                "with_offsets=True supports a single 'simple'-analyzed field"
            )
        if self.with_payloads:
            # Validated on the RESOLVED field list (not the constructor
            # default) so `fields=(('body', 'text', 'payload:|'),)` works.
            if len(out) > 1:
                raise ValueError("with_payloads=True supports a single field")
            an = out[0][2]
            anl = get_tokenizer(an) if isinstance(an, str) else an
            if not getattr(anl, "emits_payloads", False):
                raise ValueError(
                    "with_payloads=True requires a payload-emitting analyzer "
                    "(e.g. 'payload:|' — delimited per-occurrence payloads)"
                )
        return out

    # ---------------------------------------------------------------- build
    def build(
        self,
        df: DataFrame,
        key_col: str,
        text_col: str | None = None,
        stored_cols: tuple[str, ...] = (),
        run_id: str | None = None,
        fields=None,
    ) -> dict:
        """Build (or resume) the index; returns the committed meta dict.

        ``fields`` (optional) indexes MULTIPLE per-document fields — a list of
        ``(name, source_col, analyzer)`` triples (or ``(name, col)`` /
        plain column names inheriting the builder analyzer). Every field gets
        its own postings namespace, norms (doc lengths) and BM25 stats, like
        the reference's per-field field_data (field_data.cpp) and per-field
        stats collectors (bm25.cpp:204-276)."""
        committed = self.read_meta()
        if committed is not None:
            return committed  # already committed — resume is a no-op

        field_list = self._resolve_fields(text_col, fields)
        run_id = run_id or uuid.uuid4().hex[:12]
        num_segments = self.num_segments or max(
            1, self.spark.sparkContext.defaultParallelism
        )
        stored_cols = tuple(stored_cols)
        doc_cols = ["segment_id", "doc_id", "doc_key", "doc_len", *stored_cols]
        with claim(self.index_path, 0) as c:
            docs_path, norms_path, postings_path, _ = self._invert_and_layout(
                df, c.dir, key_col, field_list, stored_cols, num_segments, 0, run_id, c.gen,
                fuse_term_dict=True,
            )
            return self._finish_commit(
                c, run_id, num_segments, num_segments,
                [docs_path], [norms_path], [postings_path],
                doc_cols, key_col, field_list, stored_cols,
                offsets_paths=(
                    [os.path.join(c.dir, "offsets")] if self.with_offsets else None
                ),
                payloads_paths=(
                    [os.path.join(c.dir, "payloads")] if self.with_payloads else None
                ),
            )

    def _invert_and_layout(
        self,
        df: DataFrame,
        gen_dir: str,
        key_col: str,
        field_list: list[tuple[str, str, object]],
        stored_cols: tuple[str, ...],
        num_segments: int,
        sid_base: int,
        run_id: str,
        gen: int,
        fuse_term_dict: bool = False,
    ) -> tuple[str, str, str, str | None]:
        """The segments (tokenize+invert+encode) and postings-layout stages;
        segment ids are ``sid_base + partition index`` so appended batches get
        fresh ids. The layout stage is FUSED with term aggregation (one job:
        tasks direct-write their term-range postings part file and emit exact
        per-term stats). With ``fuse_term_dict`` the aggregate IS the final
        term_dict (fresh build — single postings table); otherwise it lands in
        a partial table that :meth:`_finish_commit` merges with the previous
        generation's term_dict. Returns (docs_path, norms_path, postings_path,
        term_partial_path | None)."""
        spark = self.spark
        # (name, source col, registry name/spec or callable) per indexed field —
        # captured in the task closure, resolved on executors
        fspecs = list(field_list)
        with_positions = self.with_positions
        with_offsets = self.with_offsets
        with_payloads = self.with_payloads

        docs_path = os.path.join(gen_dir, "docs")
        norms_path = os.path.join(gen_dir, "norms")
        raw_path = os.path.join(gen_dir, "postings_raw")
        offsets_path = os.path.join(gen_dir, "offsets")
        payloads_path = os.path.join(gen_dir, "payloads")
        part_dirs = (
            [docs_path, norms_path, raw_path]
            + ([offsets_path] if with_offsets else [])
            + ([payloads_path] if with_payloads else [])
        )
        for p in part_dirs:
            os.makedirs(p, exist_ok=True)
        in_cols = list(
            dict.fromkeys([key_col, *(fc for _, fc, _ in fspecs), *stored_cols])
        )
        # zero-shuffle fast path: segment membership decided driver-local from
        # parquet footer stats (see _footer_segment_groups); legacy
        # sample+range-shuffle path otherwise
        seg_groups = self._footer_segment_groups(df, key_col, num_segments, gen_dir)
        boundaries = (
            None
            if seg_groups is not None
            else self._segment_boundaries(df, key_col, num_segments, gen_dir)
        )

        def invert_partition(arrow_batches):
            """Tokenize + invert + encode ONE whole segment (= input partition).

            The segment_writer flush analogue: everything from raw text to
            VByte posting blocks happens inside this task; nothing wide is
            shuffled. Memory bound = one segment's postings — size segments via
            `num_segments` (cluster: maxPartitionBytes) so a segment fits an
            executor, exactly like sizing the reference's flush threshold.

            The task publishes its docs / norms / raw-postings parquet part
            files DIRECTLY (atomic rename, idempotent) and returns only tiny
            lineage rows — the segment's bulk never crosses the python↔JVM
            boundary at all, which removes the union-schema row conversion +
            dynamic-partition write that used to dominate the stage. It also
            makes resume SEGMENT-granular: segment membership is fixed by the
            persisted deterministic key boundaries (NOT by Spark's sampled
            range partitioner), so a re-run task whose three part files
            already exist skips the tokenize/invert/encode/write work (the
            dominant cost). The skip still validates that the existing docs
            part holds EXACTLY this segment's doc keys — a blind file-exists
            skip could publish a stale segment if the input itself changed;
            a key mismatch recomputes (os.replace overwrites), so resume is
            always correct.

            A task may receive more than one bucket (Spark's secondary range
            shuffle on ``_b`` only guarantees co-location of equal buckets);
            the kernel splits its input on ``_b`` runs and emits one segment
            per bucket — segment identity follows the DATA, not the partition
            index.

            mapInArrow: the input batches stay in Arrow buffers end to end —
            document text and keys never become Python objects on the default
            analyzer path (the allocator-thrash that capped build scaling).
            """
            import os as _os
            import time as _time

            import pyarrow as pa
            import pyarrow.compute as pc
            from pyspark import TaskContext

            attempt = TaskContext.get().taskAttemptId()

            batches = list(arrow_batches)
            tbl = pa.Table.from_batches(batches) if batches else None
            if tbl is None or tbl.num_rows == 0:
                return
            bvals = tbl.column("_b").combine_chunks().to_numpy(zero_copy_only=False)
            run_starts = np.flatnonzero(np.diff(bvals, prepend=bvals[0] - 1))
            run_ends = np.append(run_starts[1:], bvals.size)
            for rs, re_ in zip(run_starts, run_ends):
                yield from process_segment(
                    tbl.slice(rs, re_ - rs), sid_base + int(bvals[rs]), attempt
                )

        def process_segment(tbl, sid: int, attempt: int):
            import os as _os
            import time as _time

            import pyarrow as pa
            import pyarrow.compute as pc

            t_start = _time.time()
            n_docs = tbl.num_rows
            docs_file = _os.path.join(docs_path, f"part-{sid:05d}.parquet")
            norms_file = _os.path.join(norms_path, f"part-{sid:05d}.parquet")
            raw_file = _os.path.join(raw_path, f"part-{sid:05d}.parquet")
            part_files = [docs_file, norms_file, raw_file]
            if with_offsets:
                offsets_file = _os.path.join(offsets_path, f"part-{sid:05d}.parquet")
                part_files.append(offsets_file)
            if with_payloads:
                payloads_file = _os.path.join(payloads_path, f"part-{sid:05d}.parquet")
                part_files.append(payloads_file)

            def lineage(n_docs, n_terms, n_tokens, skipped):
                return pa.RecordBatch.from_arrays(
                    [
                        pa.array([sid], pa.int32()),
                        pa.array([n_docs], pa.int64()),
                        pa.array([n_terms], pa.int64()),
                        pa.array([n_tokens], pa.int64()),
                        pa.array([_time.time() - t_start], pa.float64()),
                        pa.array([skipped], pa.bool_()),
                    ],
                    names=[
                        "segment_id", "n_docs", "n_terms", "n_tokens",
                        "seconds", "skipped",
                    ],
                )

            key_arr = pc.cast(tbl.column(key_col).combine_chunks(), pa.string())

            if all(_os.path.exists(p) for p in part_files):
                # segment-granular resume: validate the published docs part
                # covers exactly this segment's keys, then skip the heavy
                # tokenize/invert/encode/write path entirely
                import pyarrow.parquet as _pq

                try:
                    prev_keys = _pq.read_table(docs_file, columns=["doc_key"]).column(
                        "doc_key"
                    ).combine_chunks()
                    if len(prev_keys) == n_docs and bool(
                        pc.all(pc.equal(prev_keys, key_arr)).as_py()
                    ):
                        yield lineage(n_docs, 0, 0, True)
                        return
                except Exception:
                    pass  # unreadable/corrupt prior part → recompute

            stored_arrs = {c: tbl.column(c).combine_chunks() for c in stored_cols}

            def tokenize_field(fcol: str, tokenizer_spec):
                """Tokenize + term-id encode ONE field's column: Arrow fast
                path (tokens never become Python objects) or pandas fallback
                for custom analyzers. Returns (codes, uniq_terms, lens,
                tok_counts, explicit_pos, tok_start, payloads)."""
                explicit_pos = None  # set by positional analyzers (synonyms)
                tok_start = None
                payloads = None  # flat per-occurrence ints (PAY stream)
                res = (
                    arrow_tokenize_encode(tbl.column(fcol), tokenizer_spec)
                    if isinstance(tokenizer_spec, str)
                    else None
                )
                if res is not None:
                    codes, uniq_terms, lens = res
                    tok_counts = lens
                    if with_offsets:
                        # byte offsets aligned with the kept-token order
                        tok_start, _tok_len = arrow_simple_token_offsets(
                            tbl.column(fcol)
                        )
                    return codes, uniq_terms, lens, tok_counts, explicit_pos, tok_start, payloads
                tokenizer = (
                    get_tokenizer(tokenizer_spec)
                    if isinstance(tokenizer_spec, str)
                    else tokenizer_spec
                )
                col_pd = tbl.column(fcol).to_pandas()
                tok_res = tokenizer(col_pd).tolist()
                # A NULL field value means the doc does not HAVE the field
                # (json_doc_generator only adds fields present in the doc;
                # field_data::invert is never called for it) — it must index
                # NO terms. Single-token analyzers (norm/collation/delimiter)
                # would otherwise emit an empty-string term for the fillna(""),
                # making by_prefix("") / by_range() match docs without the
                # field, diverging from prefix_filter_test.cpp's empty-prefix
                # expectations.
                null_mask = col_pd.isna().to_numpy()
                if null_mask.any():
                    empty_of = {2: ([], []), 3: ([], [], [])}
                    for i in np.flatnonzero(null_mask):
                        r = tok_res[i]
                        tok_res[i] = (
                            empty_of.get(len(r), []) if isinstance(r, tuple) else []
                        )
                if getattr(tokenizer, "emits_positions", False):
                    # analyzer emits (tokens, positions): positions are 1-based
                    # and may repeat (increment-0 tokens, e.g. synonyms at the
                    # same slot — token_stream `increment` semantics)
                    tok_lists = [t for t, _ in tok_res]
                    pos_lists = [p for _, p in tok_res]
                    explicit_pos = np.concatenate(
                        [np.asarray(p, dtype=np.int64) for p in pos_lists]
                    ) if tok_res else np.empty(0, np.int64)
                    # doc_len (Norm2) counts position slots, not emitted tokens
                    lens = np.fromiter(
                        (max(p) if p else 0 for p in pos_lists), count=n_docs, dtype=np.int64
                    )
                elif getattr(tokenizer, "emits_payloads", False):
                    # analyzer emits (tokens, payloads): one payload per
                    # occurrence (payload attribute, token_attributes.hpp)
                    tok_lists = [t for t, _ in tok_res]
                    pay_lists = [p for _, p in tok_res]
                    payloads = (
                        np.concatenate([np.asarray(p, dtype=np.int64) for p in pay_lists])
                        if tok_res
                        else np.empty(0, np.int64)
                    )
                    lens = None
                else:
                    tok_lists = tok_res
                    lens = None
                tok_counts = np.fromiter(
                    (len(t) for t in tok_lists), count=n_docs, dtype=np.int64
                )
                if lens is None:
                    lens = tok_counts
                flat = np.empty(int(tok_counts.sum()), dtype=object)
                off = 0
                for t in tok_lists:
                    flat[off : off + len(t)] = t
                    off += len(t)
                codes, uniq_arr = pd.factorize(flat)
                return codes, list(uniq_arr), lens, tok_counts, explicit_pos, tok_start, payloads

            per_field = [
                (fname,) + tokenize_field(fcol, fspec) for fname, fcol, fspec in fspecs
            ]

            # ---- docs part (doc ids dense 1-based per segment; doc_len is
            # the DEFAULT field's — per-field lengths live in norms) ----
            _atomic_write_parquet(
                pa.table(
                    {
                        "segment_id": pa.array(np.full(n_docs, sid, np.int32), pa.int32()),
                        "doc_id": pa.array(np.arange(1, n_docs + 1, dtype=np.int32), pa.int32()),
                        "doc_key": key_arr,
                        "doc_len": pa.array(per_field[0][3].astype(np.int32), pa.int32()),
                        **stored_arrs,
                    }
                ),
                docs_file,
                attempt,
            )

            # ---- norms part (Norm2 columnstore + per-field stats, zero extra
            # stages: the kernel already holds each field's doc lengths);
            # chunked into NORMS_CHUNK_DOCS rows so kernels decode only the
            # chunks covering their candidates ----
            norm_cols: dict[str, list] = {
                k: []
                for k in (
                    "field", "segment_id", "chunk_id", "docs_count", "doc_len_enc",
                    "docs_with_field", "sum_len", "min_len",
                )
            }
            chunk_bounds = list(range(0, int(n_docs), NORMS_CHUNK_DOCS)) + [int(n_docs)]
            for fname, _codes, _uniq, lens, _tc, _ep, _ts, _pay in per_field:
                chunks = [
                    lens[lo:hi] for lo, hi in zip(chunk_bounds[:-1], chunk_bounds[1:])
                ]
                norm_cols["field"].extend([fname] * len(chunks))
                norm_cols["segment_id"].extend([sid] * len(chunks))
                norm_cols["chunk_id"].extend(range(len(chunks)))
                norm_cols["docs_count"].extend(len(c) for c in chunks)
                norm_cols["doc_len_enc"].extend(vbyte_encode(c) for c in chunks)
                norm_cols["docs_with_field"].extend(int((c > 0).sum()) for c in chunks)
                norm_cols["sum_len"].extend(int(c.sum()) for c in chunks)
                norm_cols["min_len"].extend(int(c.min()) if len(c) else 0 for c in chunks)
            _atomic_write_parquet(
                pa.table(
                    {
                        "field": pa.array(norm_cols["field"], pa.string()),
                        "segment_id": pa.array(norm_cols["segment_id"], pa.int32()),
                        "chunk_id": pa.array(norm_cols["chunk_id"], pa.int32()),
                        "docs_count": pa.array(norm_cols["docs_count"], pa.int32()),
                        "doc_len_enc": pa.array(norm_cols["doc_len_enc"], pa.binary()),
                        "docs_with_field": pa.array(norm_cols["docs_with_field"], pa.int32()),
                        "sum_len": pa.array(norm_cols["sum_len"], pa.int64()),
                        "min_len": pa.array(norm_cols["min_len"], pa.int32()),
                    }
                ),
                norms_file,
                attempt,
            )

            # ---- invert across the segment, per field (field_data::invert
            # analogue, fully vectorized: one hash pass + one int sort per
            # field for the whole segment, no per-doc Python) ----
            raw_schema = pa.schema(
                [
                    ("field", pa.string()),
                    ("term", pa.string()),
                    ("segment_id", pa.int32()),
                    ("docs_count", pa.int32()),
                    ("total_freq", pa.int64()),
                    ("max_freq", pa.int32()),
                    ("doc_ids_enc", pa.binary()),
                    ("freqs_enc", pa.binary()),
                    ("pos_enc", pa.binary()),
                    ("block_last_doc", pa.list_(pa.int64())),
                    ("block_doc_off", pa.list_(pa.int64())),
                    ("block_freq_off", pa.list_(pa.int64())),
                    ("block_max_freq", pa.list_(pa.int64())),
                ]
            )
            raw_tables = []
            total_tokens = 0
            total_terms = 0
            for fname, codes, uniq_terms, lens, tok_counts, explicit_pos, tok_start, payloads in per_field:
                n_tokens = int(tok_counts.sum())
                if n_tokens == 0:
                    continue
                total_tokens += n_tokens
                tok_doc = np.repeat(np.arange(1, n_docs + 1, dtype=np.int64), tok_counts)
                if explicit_pos is not None:
                    tok_pos = explicit_pos
                else:
                    starts = np.zeros(n_docs, dtype=np.int64)
                    np.cumsum(tok_counts[:-1], out=starts[1:])
                    tok_pos = np.arange(1, n_tokens + 1, dtype=np.int64) - np.repeat(starts, tok_counts)
                # sort tokens by (term, doc, pos): the flat stream is ALREADY in
                # (doc, pos) order, so a single STABLE (radix) sort on the term
                # code gives the full 3-key order — ~3× faster than np.lexsort.
                # Positional analyzers may emit arbitrary position order → full
                # lexsort on that (rare) path.
                if explicit_pos is not None:
                    order = np.lexsort((tok_pos, tok_doc, codes))
                else:
                    order = np.argsort(codes, kind="stable")
                c_s = codes[order]
                d_s = tok_doc[order]
                pos_sorted = tok_pos[order]
                # (term, doc) run boundaries → per-posting doc ids + freqs
                dt_break = np.flatnonzero(
                    np.diff(c_s, prepend=-1) | np.diff(d_s, prepend=-1)
                )
                s_codes = c_s[dt_break]
                s_doc = d_s[dt_break]
                s_counts = np.diff(np.append(dt_break, n_tokens))
                bounds = np.flatnonzero(np.diff(s_codes, prepend=-1))
                bounds = np.append(bounds, s_codes.size)
                enc_cols = encode_postings_batch_arrow(
                    s_doc, s_counts, bounds, pos_sorted if with_positions else None
                )
                T = len(uniq_terms)
                total_terms += T
                raw_tables.append(
                    pa.table(
                        {
                            "field": pa.array([fname] * T, pa.string()),
                            "term": pa.array(list(uniq_terms), pa.string()),
                            "segment_id": pa.array(np.full(T, sid, np.int32), pa.int32()),
                            "docs_count": enc_cols["docs_count"],
                            "total_freq": enc_cols["total_freq"],
                            "max_freq": enc_cols["max_freq"],
                            "doc_ids_enc": enc_cols["doc_ids_enc"],
                            "freqs_enc": enc_cols["freqs_enc"],
                            "pos_enc": enc_cols["pos_enc"],
                            "block_last_doc": enc_cols["block_last_doc"],
                            "block_doc_off": enc_cols["block_doc_off"],
                            "block_freq_off": enc_cols["block_freq_off"],
                            "block_max_freq": enc_cols["block_max_freq"],
                        }
                    )
                )

                # ---- offsets sidecar (OFFS stream): per-occurrence token
                # start byte offsets, same (term, doc, pos) stream order and
                # the same codec as positions — a self-addressed table like
                # the reference's separate .pos/.pay files
                # (formats_10.cpp:345-353). End offsets are derivable for the
                # `simple` analyzer (end = start + len(term): tokens are
                # verbatim substrings). Single-field indexes only. ----
                if with_offsets:
                    if tok_start is None:
                        raise ValueError(
                            "with_offsets requires the Arrow 'simple' analyzer path"
                        )
                    off_cols = encode_postings_batch_arrow(
                        s_doc, s_counts, bounds, tok_start[order]
                    )
                    _atomic_write_parquet(
                        pa.table(
                            {
                                "term": pa.array(list(uniq_terms), pa.string()),
                                "segment_id": pa.array(np.full(T, sid, np.int32), pa.int32()),
                                "docs_count": off_cols["docs_count"],
                                "doc_ids_enc": off_cols["doc_ids_enc"],
                                "freqs_enc": off_cols["freqs_enc"],
                                "offs_enc": off_cols["pos_enc"],
                            }
                        ),
                        offsets_file,
                        attempt,
                    )

                # ---- payloads sidecar (PAY stream): one integer payload per
                # occurrence in the SAME (term, doc, pos) order as positions
                # (formats_10.cpp:345-353 `.pay`); doc/freq/pos streams are
                # shared with enc_cols so (position, payload) pairs decode
                # without a postings join ----
                if with_payloads:
                    if payloads is None:
                        raise ValueError(
                            "with_payloads requires a payload-emitting analyzer"
                        )
                    from .codec import encode_value_stream_arrow

                    pay_arr = encode_value_stream_arrow(
                        payloads[order], s_counts, bounds
                    )
                    _atomic_write_parquet(
                        pa.table(
                            {
                                "term": pa.array(list(uniq_terms), pa.string()),
                                "segment_id": pa.array(np.full(T, sid, np.int32), pa.int32()),
                                "docs_count": enc_cols["docs_count"],
                                "doc_ids_enc": enc_cols["doc_ids_enc"],
                                "freqs_enc": enc_cols["freqs_enc"],
                                "pos_enc": enc_cols["pos_enc"],
                                "pay_enc": pay_arr,
                            }
                        ),
                        payloads_file,
                        attempt,
                    )
            if not raw_tables:
                _atomic_write_parquet(raw_schema.empty_table(), raw_file, attempt)
                yield lineage(n_docs, 0, 0, False)
                return
            _atomic_write_parquet(
                pa.concat_tables(raw_tables) if len(raw_tables) > 1 else raw_tables[0],
                raw_file,
                attempt,
            )
            yield lineage(n_docs, total_terms, total_tokens, False)

        # prune to the consumed columns BEFORE the range shuffle — the input
        # may carry wide payloads (e.g. raw html binary) that the index never
        # touches; without this they ride the whole shuffle. Key-RANGE (not
        # hash) segments are load-bearing: segment order follows key order, so
        # the engine's (segment_id, doc_id) tie-break equals the oracle's
        # doc_key tie-break — rank identity on equal scores (SURVEY §7.3 risk
        # 3). The bucket is computed from the PERSISTED deterministic
        # boundaries (a CASE chain over the sorted cut points), so membership is
        # restart-stable; the range shuffle on `_b` merely places buckets.
        if seg_groups is not None:
            # ---- footer-stats fast path: NO full-corpus motion at all ----
            # One job of len(seg_groups) tasks; each task reads ONLY its own
            # row groups (pyarrow), sorts its segment in memory (footer
            # disjointness guarantees the segment IS a contiguous key range;
            # per-row-group order is not assumed) and runs the same
            # process_segment kernel. Collision-free hash placement (shared
            # with the Searcher's kernel partitioning) puts exactly one
            # segment on one task — no wave-doubling hash collisions.
            def invert_groups(arrow_batches):
                import json as _json

                import pyarrow as pa
                import pyarrow.compute as pc
                import pyarrow.parquet as pq
                from pyspark import TaskContext

                attempt = TaskContext.get().taskAttemptId()
                for batch in arrow_batches:
                    bi = batch.schema.get_field_index("_b")
                    ui = batch.schema.get_field_index("_units")
                    for b, uj in zip(
                        batch.column(bi).to_pylist(), batch.column(ui).to_pylist()
                    ):
                        units = _json.loads(uj)
                        parts = [
                            pq.ParquetFile(f).read_row_group(rg, columns=in_cols)
                            for f, rg in units
                        ]
                        tbl = (
                            pa.concat_tables(parts, promote_options="default")
                            if len(parts) > 1
                            else parts[0]
                        )
                        order = pc.sort_indices(
                            tbl, sort_keys=[(key_col, "ascending")]
                        )
                        yield from process_segment(
                            tbl.take(order), sid_base + int(b), attempt
                        )

            # Exactly one descriptor row per task: parallelize() slices an
            # N-row list into N contiguous slices, so the segments job runs
            # len(seg_groups) tasks with zero empty partitions and zero hash
            # collisions. (Hash placement would need a collision-free
            # partition count — 250 partitions for 32 segment ids, 218 of
            # them empty, each paying a Python-worker round trip: measured
            # ~7 s of pure scheduling overhead on an 11.6 s stage.)
            from pyspark.sql import types as T

            rows = [(int(g["sid"]), json.dumps(g["units"])) for g in seg_groups]
            desc = spark.createDataFrame(
                spark.sparkContext.parallelize(rows, numSlices=max(1, len(rows))),
                schema=T.StructType(
                    [
                        T.StructField("_b", T.IntegerType()),
                        T.StructField("_units", T.StringType()),
                    ]
                ),
            )
            inverted = desc.mapInArrow(invert_groups, LINEAGE_SCHEMA)
        else:
            # bucket = the number of (sorted) boundaries <= key, i.e.
            # searchsorted(side="right"); string order is code point order on
            # both sides
            key = F.col(key_col).cast("string")
            bucket = F.lit(0)
            for i, bound in enumerate(boundaries):
                bucket = F.when(key >= bound, i + 1).otherwise(bucket)
            partitioned = (
                df.select(*in_cols)
                .withColumn("_b", bucket.cast("int"))
                .repartitionByRange(num_segments, "_b")
                .sortWithinPartitions("_b", key_col)
            )
            inverted = partitioned.mapInArrow(invert_partition, LINEAGE_SCHEMA)
        # segments stage: one job; tasks direct-write docs/norms/raw part
        # files and the job's Spark OUTPUT is the per-partition lineage table
        # (north-star manifest: segment_id, rows, tokens, seconds, skipped) —
        # writing it IS the job's action, no extra pass.
        lineage_path = os.path.join(gen_dir, "lineage")
        segments_done = (
            self._stage_done(run_id, gen, "segments", docs_path)
            and (
                # a prior run under a different sidecar mode must not satisfy
                # resume: the sidecar parts would be missing
                not with_offsets
                or os.path.exists(os.path.join(offsets_path, "_SUCCESS"))
            )
            and (
                not with_payloads
                or os.path.exists(os.path.join(payloads_path, "_SUCCESS"))
            )
        )
        if not segments_done:
            t0 = time.time()
            inverted.write.mode("overwrite").parquet(lineage_path)
            # prune part files left by an interrupted run whose range
            # boundaries shifted (sids absent from this run's lineage);
            # lineage is a few rows — read it driver-local, not as a Spark job
            lin = read_frame(lineage_path, ["segment_id", "n_docs", "skipped"])
            live = set(lin["segment_id"][lin["skipped"] | (lin["n_docs"] > 0)].tolist())
            for d in part_dirs:
                for fn in os.listdir(d):
                    if fn.startswith("part-") and fn.endswith(".parquet"):
                        if int(fn[5:10]) not in live:
                            os.remove(os.path.join(d, fn))
                with open(os.path.join(d, "_SUCCESS"), "w"):
                    pass
            self._manifest(run_id, gen, "segments", "done", time.time() - t0)

        postings_path = os.path.join(gen_dir, "postings")
        p_parts = self.postings_partitions or max(16, num_segments)
        has_raw = any(f.endswith(".parquet") for f in os.listdir(raw_path))
        term_partial: str | None = None

        if not has_raw:
            # empty input: publish empty tables with explicit schemas so
            # readers see a valid (0-doc) generation
            in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            doc_schema = "segment_id int, doc_id int, doc_key string, doc_len int" + (
                (", " + ", ".join(f"`{c}` {in_fields[c]}" for c in stored_cols))
                if stored_cols
                else ""
            )
            spark.createDataFrame([], doc_schema).write.mode("overwrite").parquet(docs_path)
            spark.createDataFrame([], NORMS_SCHEMA).write.mode("overwrite").parquet(norms_path)
            spark.createDataFrame([], POSTINGS_SCHEMA).write.mode("overwrite").parquet(postings_path)
            agg_path = os.path.join(
                gen_dir, "term_dict" if fuse_term_dict else "term_partial"
            )
            spark.createDataFrame([], TERM_DICT_SCHEMA).write.mode("overwrite").parquet(agg_path)
            if with_offsets:
                spark.createDataFrame([], OFFSETS_SCHEMA).write.mode("overwrite").parquet(
                    offsets_path
                )
            if with_payloads:
                spark.createDataFrame([], PAYLOADS_SCHEMA).write.mode("overwrite").parquet(
                    payloads_path
                )
            if fuse_term_dict:
                self._manifest(run_id, gen, "term_dict", "done", 0.0)
            else:
                term_partial = agg_path
            return docs_path, norms_path, postings_path, term_partial

        # postings layout pass: shuffle the already-encoded rows (compact) into
        # (field, term)-RANGE partitions sorted by (field, term, segment_id) —
        # every parquet file/row-group covers a contiguous term range within a
        # field, so Catalyst min/max stats prune exact, prefix and range term
        # predicates (the FST role). Skew: a head term is already split across
        # all segments by construction, so its rows in one range partition are
        # bounded by the segment count; partitioning on (field, term) ALONE
        # keeps every term whole within one partition, which is what makes the
        # fused per-partition term aggregation exact (no groupBy job). The
        # tasks write their postings part files directly (atomic rename) and
        # the job's OUTPUT is the term_dict — layout + global term stats in a
        # single pass.
        if not self._stage_done(run_id, gen, "postings", postings_path):
            t0 = time.time()
            import shutil

            if os.path.isdir(postings_path):
                shutil.rmtree(postings_path)  # stale partial attempt
            os.makedirs(postings_path, exist_ok=True)
            agg_path = (
                os.path.join(gen_dir, "term_dict")
                if fuse_term_dict
                else os.path.join(gen_dir, "term_partial")
            )
            (
                spark.read.parquet(raw_path)
                .repartitionByRange(p_parts, "field", "term")
                .sortWithinPartitions("field", "term", "segment_id")
                .mapInArrow(_layout_and_aggregate(postings_path), TERM_DICT_SCHEMA)
                .write.mode("overwrite")
                .parquet(agg_path)
            )
            with open(os.path.join(postings_path, "_SUCCESS"), "w"):
                pass
            self._manifest(run_id, gen, "postings", "done", time.time() - t0)
            if fuse_term_dict:
                self._manifest(run_id, gen, "term_dict", "done", 0.0)
            else:
                term_partial = agg_path
        elif not fuse_term_dict and os.path.exists(
            os.path.join(gen_dir, "term_partial", "_SUCCESS")
        ):
            term_partial = os.path.join(gen_dir, "term_partial")
        return docs_path, norms_path, postings_path, term_partial

    def _finish_commit(
        self,
        c: Claim,
        run_id: str,
        requested_segments: int,
        next_segment_id: int,
        docs_paths: list[str],
        norms_paths: list[str],
        postings_paths: list[str],
        doc_cols: list[str],
        key_col: str,
        field_list: list[tuple[str, str, object]],
        stored_cols: tuple[str, ...],
        carry_tables: dict | None = None,
        last_stream_batch: int | None = None,
        term_sources: list[str] | None = None,
        offsets_paths: list[str] | None = None,
        payloads_paths: list[str] | None = None,
    ) -> dict:
        """term_dict aggregation, then the meta published through the claim
        ``c`` on the generation the stages wrote.

        A fresh fused build already wrote term_dict (manifest row skips the
        stage). Appends pass ``term_sources`` = [previous term_dict, new
        partial] — merging two term_dict-shaped tables is far cheaper than
        re-scanning every generation's postings; the fallback (no sources)
        aggregates over all postings paths.

        ``requested_segments`` only sizes the term_dict partitions: the meta
        records the segments actually written (a footer-planned build makes
        at most one segment per input row group), counted from the norms
        rows. ``next_segment_id`` stays past every id a segments stage may
        have assigned, so appended ids never collide."""
        spark = self.spark
        p_parts = self.postings_partitions or max(16, requested_segments)
        term_dict_path = os.path.join(c.dir, "term_dict")
        if not self._stage_done(run_id, c.gen, "term_dict", term_dict_path):
            t0 = time.time()
            if term_sources:
                # select the term_dict columns only: an older source may
                # carry more
                srcs = [
                    spark.read.parquet(p).select("field", "term", "df", "ttf", "max_freq")
                    for p in term_sources
                ]
                unioned = srcs[0]
                for s in srcs[1:]:
                    unioned = unioned.unionByName(s)
                agg = unioned.groupBy("field", "term").agg(
                    F.sum("df").alias("df"),
                    F.sum("ttf").alias("ttf"),
                    F.max("max_freq").alias("max_freq"),
                )
            else:
                agg = (
                    spark.read.parquet(*postings_paths)
                    .groupBy("field", "term")
                    .agg(
                        F.sum("docs_count").alias("df"),
                        F.sum("total_freq").alias("ttf"),
                        F.max("max_freq").alias("max_freq"),
                    )
                )
            (
                agg.repartitionByRange(max(8, p_parts // 4), "field", "term")
                .sortWithinPartitions("field", "term")
                .write.mode("overwrite")
                .parquet(term_dict_path)
            )
            self._manifest(run_id, c.gen, "term_dict", "done", time.time() - t0)

        # docs_count and the live segment count for the meta from the tiny
        # norms rows of the DEFAULT field (every field covers the same docs;
        # counting one avoids multi-field double counting); driver-local
        # read — a Spark job for a few-KB stats table is pure serial time
        default_field = field_list[0][0]
        norm_pdf = read_frame(
            norms_paths, ["segment_id", "docs_count"], pc.field("field") == default_field
        )
        total_docs = int(norm_pdf["docs_count"].sum())
        num_segments = int(norm_pdf["segment_id"].nunique())
        tables = dict(carry_tables or {})
        tables.update(
            {
                "docs": docs_paths if len(docs_paths) > 1 else docs_paths[0],
                "postings": postings_paths if len(postings_paths) > 1 else postings_paths[0],
                "term_dict": term_dict_path,
                "norms": norms_paths if len(norms_paths) > 1 else norms_paths[0],
            }
        )
        if payloads_paths:
            tables["payloads"] = (
                payloads_paths if len(payloads_paths) > 1 else payloads_paths[0]
            )
        if offsets_paths:
            tables["offsets"] = (
                offsets_paths if len(offsets_paths) > 1 else offsets_paths[0]
            )
        meta = {
            "generation": c.gen,
            "analyzer": self.analyzer if isinstance(self.analyzer, str) else repr(self.analyzer),
            "with_positions": self.with_positions,
            "num_segments": num_segments,
            "next_segment_id": next_segment_id,
            "postings_partitions": p_parts,
            "docs_count": total_docs,
            "doc_cols": doc_cols,
            "key_col": key_col,
            "text_col": field_list[0][1],
            "fields": [
                {
                    "name": n,
                    "col": c,
                    "analyzer": a if isinstance(a, str) else repr(a),
                }
                for n, c, a in field_list
            ],
            "default_field": default_field,
            "stored_cols": list(stored_cols),
            "run_id": run_id,
            "tables": tables,
        }
        if last_stream_batch is not None:
            meta["last_stream_batch"] = last_stream_batch
        return c.publish(meta)

    # ---------------------------------------------------------------- append
    def append(
        self,
        df: DataFrame,
        key_col: str | None = None,
        text_col: str | None = None,
        stored_cols: tuple[str, ...] | None = None,
        batch_id: int | None = None,
        fields=None,
    ) -> dict:
        """Append a micro-batch as NEW segments under generation+1.

        The incremental write path (streaming ingestion / re-crawl appends):
        the batch is inverted into fresh segment ids (``next_segment_id`` +
        partition index), its postings land in a new range-laid-out table
        unioned with the existing ones, and ``term_dict`` (global df/ttf) is
        re-aggregated over all postings paths — global BM25 stats stay exact
        across appends. ``batch_id`` makes foreachBatch replays idempotent:
        an already-committed batch id is a no-op (exactly-once on top of the
        streaming checkpoint)."""
        meta = self.read_meta()
        if meta is None:
            return self.build(
                df, key_col=key_col, text_col=text_col,
                stored_cols=tuple(stored_cols or ()), run_id=None, fields=fields,
            )
        if batch_id is not None and batch_id <= meta.get("last_stream_batch", -1):
            return meta  # replayed micro-batch: already committed
        if self.with_offsets != ("offsets" in meta["tables"]):
            # fail BEFORE any stage runs: a half-run append under the wrong
            # offsets mode would mark stages done that a retry must redo
            raise ValueError(
                "append with_offsets must match the existing index "
                f"(index has offsets: {'offsets' in meta['tables']})"
            )
        if self.with_payloads != ("payloads" in meta["tables"]):
            raise ValueError(
                "append with_payloads must match the existing index "
                f"(index has payloads: {'payloads' in meta['tables']})"
            )
        key_col = key_col or meta["key_col"]
        stored_cols = tuple(stored_cols if stored_cols is not None else meta["stored_cols"])
        if fields is not None:
            field_list = self._resolve_fields(None, fields)
        elif "fields" in meta and text_col is None:
            # reuse the committed field specs; callable analyzers were stored
            # as reprs and cannot be resolved — pass `fields` explicitly then
            field_list = [(f["name"], f["col"], f["analyzer"]) for f in meta["fields"]]
            for fname, _, anl in field_list:
                if isinstance(anl, str) and anl.startswith("<"):
                    # a repr() of a callable — fail driver-side with a clear
                    # message instead of a KeyError deep inside executor tasks
                    raise ValueError(
                        f"field {fname!r} was built with a callable analyzer "
                        f"({anl}) that cannot be restored from the committed "
                        "meta — pass fields=((name, col, analyzer), ...) to "
                        "append() explicitly"
                    )
        else:
            field_list = self._resolve_fields(text_col or meta["text_col"], None)
        if [n for n, _, _ in field_list] != [
            f["name"] for f in meta.get("fields", [{"name": meta["text_col"]}])
        ]:
            raise ValueError("append field names must match the existing index")
        run_id = uuid.uuid4().hex[:12]
        n_new = self.num_segments or max(1, self.spark.sparkContext.defaultParallelism)
        sid_base = int(meta.get("next_segment_id", meta["num_segments"]))

        def paths_of(v) -> list[str]:
            return list(v) if isinstance(v, list) else [v]

        with claim(self.index_path, meta["generation"]) as c:
            docs_path, norms_path, postings_path, term_partial = self._invert_and_layout(
                df, c.dir, key_col, field_list, stored_cols, n_new, sid_base, run_id, c.gen
            )
            carry = {k: v for k, v in meta["tables"].items() if k == "deletes"}
            term_sources = (
                [meta["tables"]["term_dict"], term_partial] if term_partial else None
            )
            return self._finish_commit(
                c, run_id,
                meta["num_segments"] + n_new, sid_base + n_new,
                paths_of(meta["tables"]["docs"]) + [docs_path],
                paths_of(meta["tables"]["norms"]) + [norms_path],
                paths_of(meta["tables"]["postings"]) + [postings_path],
                meta["doc_cols"], key_col, field_list, stored_cols,
                carry_tables=carry,
                last_stream_batch=(
                    batch_id if batch_id is not None else meta.get("last_stream_batch")
                ),
                term_sources=term_sources,
                offsets_paths=(
                    paths_of(meta["tables"]["offsets"]) + [os.path.join(c.dir, "offsets")]
                    if self.with_offsets
                    else None
                ),
                payloads_paths=(
                    paths_of(meta["tables"]["payloads"]) + [os.path.join(c.dir, "payloads")]
                    if self.with_payloads
                    else None
                ),
            )

    # ------------------------------------------------------------- plumbing
    def read_meta(self) -> dict | None:
        """The committed meta, or None when nothing is committed."""
        return read_meta(self.index_path)

    def _footer_segment_groups(
        self, df: DataFrame, key_col: str, n: int, gen_dir: str
    ) -> list[dict] | None:
        """Driver-local segment planning from parquet FOOTER statistics — the
        zero-shuffle build fast path.

        When the input is a BARE parquet scan whose row groups are pairwise
        DISJOINT in the key column (the normal layout for a corpus table
        written sorted/range-partitioned by key — and exactly the per-file
        column bounds an Iceberg manifest records at cluster scale, so on a
        real cluster this same plan comes from manifest metadata without
        touching footers), segment membership can be decided on the driver
        from metadata alone: sort row groups by key min, split into ≤n
        contiguous groups balanced by row count. The segments job then needs
        NO boundary-sample pass and NO full-corpus range shuffle — the two
        serial/wide stages that capped build-side N→4N scaling. Parquet
        min/max stats may be truncated, but truncation is conservative
        (stored min ≤ true min, stored max ≥ true max), so the strict
        stored-max < next-stored-min check proves true disjointness; any
        overlap falls back to the sampled-boundary range-shuffle path.

        Segment ids are assigned in key order (groups sorted by min key), so
        the (segment_id, doc_id) tie-break still equals the global doc_key
        order — rank identity on equal scores is preserved (SURVEY §7.3).

        Returns ``[{"sid", "units": [[file, row_group], ...], "rows"}, ...]``
        or None when the fast path does not apply. The plan is persisted to
        ``gen_dir/filegroups.json`` BEFORE the job, so a resumed build over
        the same files reuses the exact same segment membership
        (restart-stable, the same contract as boundaries.json); an
        interrupted legacy-path build (boundaries.json already present) keeps
        resuming on the legacy path."""
        path = os.path.join(gen_dir, "filegroups.json")
        files = _direct_scan_files(df)
        if os.path.exists(path):
            with open(path) as f:
                groups = json.load(f)
            # reused only for the input it was planned from, never for the
            # other files of a failed earlier append
            if {u[0] for g in groups for u in g["units"]} == set(files or ()):
                return groups
        elif os.path.exists(os.path.join(gen_dir, "boundaries.json")):
            return None
        if not files:
            return None
        import pyarrow.parquet as pq

        units: list[tuple[str, str, str, int, int]] = []
        try:
            for fp in files:
                md = pq.ParquetFile(fp).metadata
                try:
                    ki = md.schema.to_arrow_schema().names.index(key_col)
                except ValueError:
                    return None
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    if rgm.num_rows == 0:
                        continue
                    st = rgm.column(ki).statistics
                    if st is None or not st.has_min_max:
                        return None
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn = mn.decode("utf-8", "surrogateescape")
                    if isinstance(mx, bytes):
                        mx = mx.decode("utf-8", "surrogateescape")
                    if not isinstance(mn, str) or not isinstance(mx, str):
                        return None  # string keys only; else legacy path
                    units.append((mn, mx, fp, rg, rgm.num_rows))
        except Exception:
            return None
        if not units:
            return None
        units.sort()
        for a, b in zip(units, units[1:]):
            if not a[1] < b[0]:
                return None  # overlapping key ranges → must shuffle
        total = sum(u[4] for u in units)
        n_eff = max(1, min(n, len(units)))
        groups: list[dict] = []
        cur: list[list] = []
        rows_acc = done = 0
        for i, u in enumerate(units):
            cur.append([u[2], u[3]])
            rows_acc += u[4]
            remaining_units = len(units) - i - 1
            remaining_groups = n_eff - len(groups) - 1
            if remaining_groups > 0 and (
                done + rows_acc >= total * (len(groups) + 1) / n_eff
                or remaining_units <= remaining_groups
            ):
                groups.append({"sid": len(groups), "units": cur, "rows": rows_acc})
                done += rows_acc
                cur, rows_acc = [], 0
        if cur:
            groups.append({"sid": len(groups), "units": cur, "rows": rows_acc})
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(groups, f)
        os.replace(tmp, path)
        return groups

    def _segment_boundaries(self, df: DataFrame, key_col: str, n: int, gen_dir: str) -> list[str]:
        """Deterministic segment key boundaries (≤ n-1 cut points), persisted.

        ``repartitionByRange`` samples with an RDD-id-derived seed, so its
        boundaries SHIFT across driver restarts — that would defeat
        segment-granular resume (every re-run segment would fail the key
        check and recompute). Instead: a deterministic hash sample of the key
        column (xxhash64 is fixed-seed) → driver-side quantiles → persisted
        to ``gen_dir/boundaries.json`` before the segments job starts. A
        resumed build reloads the persisted file, so every segment's key
        range — and therefore its part files — is restart-stable. The sample
        is ~64 keys per segment (bounded driver collect regardless of input
        size); the scan is a single column-pruned pass over the key column.
        """
        path = os.path.join(gen_dir, "boundaries.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        bounds: list[str] = []
        if n > 1:
            # deterministic bottom-k-by-hash sample in ONE job (the previous
            # count + modulo-filter pair cost two full passes — pure serial
            # driver time): the 64·n keys with the smallest xxhash64 are a
            # uniform fixed-size sample regardless of input size, and the
            # ordering is input-deterministic (fixed-seed hash, key tiebreak)
            keys = sorted(
                r["k"]
                for r in df.select(F.col(key_col).cast("string").alias("k"))
                .withColumn("h", F.xxhash64(F.col("k")))
                .orderBy("h", "k")
                .limit(n * 64)
                .collect()
            )
            if keys:
                bounds = sorted(
                    {keys[min(len(keys) - 1, (i * len(keys)) // n)] for i in range(1, n)}
                )
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(bounds, f)
        os.replace(tmp, path)
        return bounds

    def _manifest_path(self) -> str:
        return os.path.join(self.index_path, "manifest.jsonl")

    def _manifest(self, run_id: str, gen: int, stage: str, status: str, seconds: float):
        row = {
            "run_id": run_id,
            "generation": gen,
            "stage": stage,
            "status": status,
            "seconds": round(seconds, 3),
            "ts": time.time(),
        }
        with open(self._manifest_path(), "a") as f:
            f.write(json.dumps(row) + "\n")

    def _stage_done(self, run_id: str, gen: int, stage: str, path: str) -> bool:
        """Stage-granular resume: skip when output exists + a done manifest
        row of this run. Another run's stages under the same generation (a
        failed append, a build restarted without its ``run_id``) are redone;
        its segments still skip per segment on matching doc keys."""
        mp = self._manifest_path()
        if not (os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(mp)):
            return False
        want = {"run_id": run_id, "generation": gen, "stage": stage, "status": "done"}
        with open(mp) as f:
            return any(want.items() <= json.loads(line).items() for line in f)
