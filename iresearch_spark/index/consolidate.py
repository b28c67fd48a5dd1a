"""Segment consolidation — the merge plane of the engine.

Reference: ``merge_writer`` k-way segment merge with doc-id remapping
(core/index/merge_writer.cpp:72, 162-209, 359-455) driven by consolidation
policies (``consolidate_count`` / ``consolidate_docs_live`` / tiered,
utils/index_utils.hpp:36-126).

Spark-first re-expression: without deletes every doc is live and the
reference's per-doc ``doc_map_f`` closure degenerates to a constant
per-segment offset — new_doc_id = old_doc_id + sum(docs_count of earlier
merged segments), making the merge a pure layout job. With a document_mask
present, the full doc_map applies: masked docs are dropped, survivors are
shifted down by the number of deleted ids below them, positions re-encoded,
and term_dict/field stats recomputed (the deletes are physically purged,
exactly merge_writer's contract):

* postings — group the merged segments' rows by term (within a bucket kernel),
  decode, shift by the segment offsets, concatenate in segment order (ids stay
  strictly increasing) and re-encode blocks. Positions are per-doc deltas →
  byte-concatenation, no decode.
* norms    — concatenate doc_len arrays in segment order.
* docs     — column expression: offset lookup join (broadcast, tiny).
* term_dict / field_stats — **unchanged**: global df/ttf/avgdl are invariant
  under merge, which also proves BM25 scores are invariant (test asserts
  rank+score identity before/after).

The merge is based on the reader's generation g and commits g+1 through
:mod:`.commit`, like every writer: the index lives on one local filesystem
and has one live writer at a time. When another writer committed since the
reader opened, g is stale and the merge raises ``CommitConflict`` before it
writes anything. Readers pinned to gen g keep working (README.md:100-103
generation semantics).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .builder import POSTINGS_SCHEMA, NORMS_SCHEMA, IndexBuilder
from .codec import decode_positions, encode_postings_batch, vbyte_decode, vbyte_encode
from .commit import Claim, claim
from .reader import IndexReader


# ---------------------------------------------------------------- policies


def _decode_group_ids(pdf: pd.DataFrame, counts: np.ndarray):
    """Shared postings/sidecar merge decode: one global vbyte pass over the
    concatenated doc-id delta streams (self-delimiting) + per-row cumsum
    reset. Returns ``(ids_raw, row_starts, row_of, freqs)`` where ``ids_raw``
    are per-segment 1-based doc ids, element-aligned with ``freqs``."""
    n_rows = len(pdf)
    deltas = vbyte_decode(b"".join(pdf["doc_ids_enc"])).astype(np.int64)
    row_starts = np.zeros(n_rows, np.int64)
    np.cumsum(counts[:-1], out=row_starts[1:])
    row_of = np.repeat(np.arange(n_rows), counts)
    csum = np.cumsum(deltas)
    carry = csum[row_starts] - deltas[row_starts]
    ids_raw = csum - carry[row_of]
    freqs = vbyte_decode(b"".join(pdf["freqs_enc"])).astype(np.int64)
    return ids_raw, row_starts, row_of, freqs


def _mask_keep_shift(ids_raw: np.ndarray, seg_el: np.ndarray, dmask_v: dict):
    """Shared document_mask purge math: per element, ``keep`` = the doc id is
    not in its segment's sorted deleted-ids array, ``shift`` = how many
    deleted ids fall below it (the doc_map renumbering of
    merge_writer.cpp's compacting remap)."""
    keep = np.ones(ids_raw.size, dtype=bool)
    shift = np.zeros(ids_raw.size, np.int64)
    for s, ds in dmask_v.items():
        if ds.size == 0:
            continue
        m = seg_el == s
        idv = ids_raw[m]
        pos = np.searchsorted(ds, idv)
        posc = np.minimum(pos, ds.size - 1)
        keep[m] = ds[posc] != idv
        shift[m] = np.searchsorted(ds, idv, side="right")
    return keep, shift


def _longest_contiguous(ids: list[int], live_ids: list[int] | None = None) -> list[int]:
    """Longest run of segments consecutive IN THE LIVE ORDER (≥2) — merging a
    subset with an untouched LIVE segment in the middle would fold later
    segments' docs below it, reordering the global (segment_id, doc_id)
    tie-break on equal scores. Adjacency is therefore defined on the sorted
    live-id list, not on raw integers: id gaps with no live segment between
    (a build that created fewer segments than requested, or a previous
    consolidation — merging [0,1]→0 leaves live ids [0,2,3]) do not break a
    run. Without ``live_ids`` (legacy callers) numeric adjacency applies."""
    ids = sorted(ids)
    if live_ids is not None:
        pos = {s: i for i, s in enumerate(sorted(live_ids))}
        adjacent = lambda a, b: pos[b] == pos[a] + 1  # noqa: E731
    else:
        adjacent = lambda a, b: b == a + 1  # noqa: E731
    best: list[int] = []
    cur: list[int] = []
    for s in ids:
        if cur and adjacent(cur[-1], s):
            cur.append(s)
        else:
            cur = [s]
        if len(cur) > len(best):
            best = list(cur)
    return best if len(best) >= 2 else []


def pick_small_segments(reader: IndexReader, max_docs: int) -> list[int]:
    """``consolidate_docs_live``-style policy: merge segments whose live doc
    count is below ``max_docs`` (index_utils.hpp:96-111 analogue); restricted
    to the longest contiguous id run (tie-break identity, see above)."""
    counts = reader.segment_docs_counts()
    out = sorted(s for s, n in counts.items() if n < max_docs)
    return _longest_contiguous(out, live_ids=sorted(counts))


def _segment_bytes(reader: IndexReader) -> dict[int, int]:
    """Approximate per-segment byte size = encoded postings payload bytes
    (the dominant component; the reference's policies measure file sizes,
    index_utils.cpp size_bytes)."""
    rows = (
        reader.postings()
        .groupBy("segment_id")
        .agg(
            (
                F.sum(F.octet_length("doc_ids_enc"))
                + F.sum(F.octet_length("freqs_enc"))
                + F.sum(F.octet_length("pos_enc"))
            ).alias("bytes")
        )
        .collect()
    )
    return {int(r["segment_id"]): int(r["bytes"] or 0) for r in rows}


def pick_bytes(reader: IndexReader, threshold: float = 0.3) -> list[int]:
    """``consolidate_bytes`` analogue (index_utils.hpp:36-50): merge segments
    whose byte size is below ``threshold`` × average segment size; contiguous
    run restriction as everywhere."""
    sizes = _segment_bytes(reader)
    if len(sizes) < 2:
        return []
    avg = sum(sizes.values()) / len(sizes)
    out = sorted(s for s, b in sizes.items() if b <= threshold * avg or len(sizes) == 2)
    return _longest_contiguous(out, live_ids=sorted(sizes))


def pick_bytes_accum(reader: IndexReader, max_bytes: int) -> list[int]:
    """``consolidate_bytes_accum`` analogue (index_utils.hpp:52-66): take the
    longest contiguous run of segments whose accumulated byte size stays
    under ``max_bytes``."""
    sizes = _segment_bytes(reader)
    ids = sorted(sizes)
    best: list[int] = []
    i = 0
    acc = 0
    j = 0
    while j < len(ids):  # sliding window over the live order (ids IS the
        # full live list, so every consecutive pair is adjacent in live order)
        acc += sizes[ids[j]]
        j += 1
        while acc > max_bytes and i < j:
            acc -= sizes[ids[i]]
            i += 1
        if j - i > len(best):
            best = ids[i:j]
    return best if len(best) >= 2 else []


def pick_docs_fill(reader: IndexReader, min_fill: float = 0.85) -> list[int]:
    """``consolidate_docs_fill`` analogue (index_utils.hpp:96-126): merge
    segments whose live/total doc ratio dropped below ``min_fill`` (deletes
    make this meaningful — purging reclaims the masked docs)."""
    totals = reader.segment_docs_counts()
    deleted: dict[int, int] = {}
    dels = reader.deletes()
    if dels is not None:
        for r in dels.groupBy("segment_id").count().collect():
            deleted[int(r["segment_id"])] = int(r["count"])
    out = sorted(
        s for s, n in totals.items() if n and (n - deleted.get(s, 0)) / n < min_fill
    )
    return _longest_contiguous(out, live_ids=sorted(totals))


def pick_tier(
    reader: IndexReader,
    max_merge_segments: int = 10,
    floor_bytes: int = 1 << 20,
) -> list[int]:
    """``consolidate_tier``-style lookahead policy (index_utils.hpp:84-126):
    score every contiguous candidate run of ≤ ``max_merge_segments`` by size
    skew (smaller + more uniform merges first, the tiered-merge heuristic)
    and return the best-scoring run."""
    sizes = _segment_bytes(reader)
    ids = sorted(sizes)
    best: list[int] = []
    best_score = -1.0
    for i in range(len(ids)):
        run: list[int] = []
        for j in range(i, min(i + max_merge_segments, len(ids))):
            # ids is the full live list: consecutive entries are adjacent in
            # live order by construction, so every window is a valid run
            run.append(ids[j])
            if len(run) < 2:
                continue
            bs = [max(sizes[s], floor_bytes) for s in run]
            total = sum(bs)
            # skew score in (0,1]: 1 = perfectly uniform run; favor longer
            # uniform runs of small segments (tiered heuristic)
            score = (total / (len(bs) * max(bs))) * (len(bs) / max_merge_segments) / (
                1.0 + total / (64 * floor_bytes)
            )
            if score > best_score:
                best_score = score
                best = list(run)
    return best if len(best) >= 2 else []


def pick_count(reader: IndexReader, target_segments: int) -> list[int]:
    """``consolidate_count``-style policy: merge the first segments until
    ≤ ``target_segments`` remain (index_utils.hpp:84-94 analogue); contiguous
    prefix run so the doc-id remap preserves global tie order."""
    ids = sorted(reader.segment_docs_counts())
    n_merge = len(ids) - target_segments + 1
    if n_merge < 2:
        return []
    return _longest_contiguous(ids[:n_merge], live_ids=ids)


# ------------------------------------------------------------------ merge


def consolidate(
    reader: IndexReader,
    segment_ids: list[int] | None = None,
) -> dict:
    """Merge ``segment_ids`` (default: all) into one segment and commit it as
    the generation after the reader's; returns the new meta. Raises
    :class:`~.commit.CommitConflict` when the reader's generation is no
    longer the committed one (reopen the reader and retry), or another writer
    is committing."""
    all_ids = sorted(reader.segment_docs_counts())
    merge_ids = sorted(segment_ids) if segment_ids is not None else all_ids
    if len(merge_ids) < 2:
        return dict(reader.meta)  # nothing to merge
    live_between = [s for s in all_ids if merge_ids[0] <= s <= merge_ids[-1]]
    if merge_ids != live_between:
        raise ValueError(
            f"consolidate requires a run contiguous in the LIVE segment order, "
            f"got {merge_ids} with live segments {live_between} in that id "
            "range: merging around an untouched live segment reorders the "
            "global (segment_id, doc_id) tie-break on equal scores"
        )
    with claim(reader.index_path, reader.meta["generation"]) as c:
        return _merge(reader, merge_ids, c)


def _merge(reader: IndexReader, merge_ids: list[int], c: Claim) -> dict:
    """Write the reader's generation with ``merge_ids`` merged into the
    claimed generation ``c`` and publish it."""
    spark = reader.spark
    meta = dict(reader.meta)
    gen, gen_dir = c.gen, c.dir
    index_path = reader.index_path
    has_offsets = "offsets" in reader.meta.get("tables", {})
    has_payloads = "payloads" in reader.meta.get("tables", {})
    docs_count = reader.segment_docs_counts()
    target = merge_ids[0]

    # document_mask purge (merge_writer.cpp:162-209 doc_map_f): deleted docs
    # of the merged segments are dropped and survivors renumbered densely —
    # new_id = old_id - #deleted_below(old_id) + live_offset(segment)
    dmask: dict[int, np.ndarray] = {}
    dels_df = reader.deletes()
    if dels_df is not None:
        for r in (
            dels_df.where(F.col("segment_id").isin(merge_ids))
            .groupBy("segment_id")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .collect()
        ):
            dmask[int(r["segment_id"])] = np.asarray(r["ids"], dtype=np.int64)
    offsets = {}
    acc = 0
    for s in merge_ids:
        offsets[s] = acc
        acc += docs_count[s] - dmask.get(s, np.empty(0)).size
    b_offsets = spark.sparkContext.broadcast(offsets)
    b_dmask = spark.sparkContext.broadcast(dmask)
    p_parts = int(meta.get("postings_partitions", 16))

    t_all = time.time()
    builder = IndexBuilder(spark, index_path)

    # ---- postings ----
    postings = reader.postings()
    passthrough = postings.where(~F.col("segment_id").isin(merge_ids))
    to_merge = postings.where(F.col("segment_id").isin(merge_ids))

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        """Merge one term-hash group of posting rows into the target segment.

        Whole-group batch codec: TWO vbyte decode passes (vbyte streams are
        self-delimiting, so all rows' buffers concatenate) + ONE
        :func:`encode_postings_batch` call — no per-term Python re-encode
        (merge_writer.cpp's remapping iterators collapsed into flat numpy)."""
        cols = (
            "field", "term", "segment_id", "docs_count", "total_freq", "max_freq",
            "doc_ids_enc", "freqs_enc", "pos_enc",
            "block_last_doc", "block_doc_off", "block_freq_off", "block_max_freq",
        )
        if len(pdf) == 0:
            return pd.DataFrame({k: pd.Series([], dtype="object") for k in cols})
        offs = b_offsets.value
        dmask_v = b_dmask.value
        tgt = min(offs)
        pdf = pdf.sort_values(["field", "term", "segment_id"], kind="stable").reset_index(drop=True)
        n_rows = len(pdf)
        counts = pdf["docs_count"].to_numpy(np.int64)
        n = int(counts.sum())
        ids_raw, row_starts, row_of, freqs = _decode_group_ids(pdf, counts)
        seg_ids = pdf["segment_id"].to_numpy(np.int64)
        seg_off = pdf["segment_id"].map(offs).to_numpy(np.int64)
        # factorize on the (field, term) composite — per-field term namespaces
        # never merge across fields
        composite = pdf["field"] + "\x1f" + pdf["term"]
        codes, uniq_keys = pd.factorize(composite)
        uniq_terms = uniq_keys  # composite keys; split back on emit
        first_row = np.flatnonzero(np.diff(codes, prepend=-1))

        def split_keys(keys):
            fs, ts = [], []
            for k_ in keys:
                f_, _, t_ = k_.partition("\x1f")
                fs.append(f_)
                ts.append(t_)
            return fs, ts

        if any(ds.size for ds in dmask_v.values()):
            # purge + renumber: drop masked docs, shift survivors down by the
            # number of deleted ids below them (doc_map_f), re-encode incl.
            # positions (per-doc position streams of dropped docs must go)
            keep, shift = _mask_keep_shift(ids_raw, seg_ids[row_of], dmask_v)
            new_ids = ids_raw - shift + seg_off[row_of]
            pos_vals = [v if v is not None else b"" for v in pdf["pos_enc"]]
            has_pos = any(len(v) for v in pos_vals)
            positions = None
            if has_pos:
                pos_abs = decode_positions(b"".join(pos_vals), freqs)
                positions = pos_abs[np.repeat(keep, freqs)]
            t_el = codes[row_of]
            ids_k, freqs_k, t_k = new_ids[keep], freqs[keep], t_el[keep]
            if ids_k.size == 0:
                return pd.DataFrame({k: pd.Series([], dtype="object") for k in cols})
            firstk = np.flatnonzero(np.diff(t_k, prepend=-1))
            tb = np.append(firstk, ids_k.size)
            enc = encode_postings_batch(ids_k, freqs_k, tb, positions)
            out_keys = [uniq_terms[i] for i in t_k[firstk]]
            ofs, ots = split_keys(out_keys)
            out = {"field": ofs, "term": ots, "segment_id": np.full(len(out_keys), tgt, np.int32)}
            out.update(enc)
            return pd.DataFrame(out)[list(cols)]

        ids = ids_raw + seg_off[row_of]
        tb = np.append(row_starts[first_row], n)
        enc = encode_postings_batch(ids, freqs, tb, positions=None)
        # per-doc position deltas are remap-invariant → byte concat per term
        row_bounds = np.append(first_row, n_rows)
        pos_vals = [v if v is not None else b"" for v in pdf["pos_enc"]]
        enc["pos_enc"] = [
            b"".join(pos_vals[row_bounds[t] : row_bounds[t + 1]])
            for t in range(uniq_terms.size)
        ]
        ofs, ots = split_keys(list(uniq_terms))
        out = {"field": ofs, "term": ots, "segment_id": np.full(uniq_terms.size, tgt, np.int32)}
        out.update(enc)
        return pd.DataFrame(out)[list(cols)]

    n_groups = max(8, p_parts)
    merged = (
        to_merge.withColumn("mgrp", F.abs(F.hash("field", "term")) % n_groups)
        .groupBy("mgrp")
        .applyInPandas(lambda pdf: merge_group(pdf.drop(columns=["mgrp"])), POSTINGS_SCHEMA)
    )
    postings_path = os.path.join(gen_dir, "postings")
    (
        passthrough.unionByName(merged)
        .repartitionByRange(p_parts, "field", "term", "segment_id")
        .sortWithinPartitions("field", "term", "segment_id")
        .write.mode("overwrite")
        .parquet(postings_path)
    )
    builder._manifest(meta["run_id"], gen, "consolidate_postings", "done", time.time() - t_all)

    # ---- OFFS / PAY sidecars (same doc-id remap as postings; the
    # per-occurrence streams merge by byte-concat when nothing is deleted —
    # offset/position deltas restart absolute at each doc and payload bytes
    # are absolute values, both remap-invariant — and decode+filter+re-encode
    # under a document_mask, exactly like the postings pos_enc path) ----
    def merge_sidecar(pdf: pd.DataFrame, with_pos: bool, with_pay: bool) -> pd.DataFrame:
        cols = ["term", "segment_id", "docs_count", "doc_ids_enc", "freqs_enc"]
        val_col = "pos_enc" if with_pos else "offs_enc"
        cols.append(val_col)
        if with_pay:
            cols.append("pay_enc")
        if len(pdf) == 0:
            return pd.DataFrame({k: pd.Series([], dtype="object") for k in cols})
        offs_map = b_offsets.value
        dmask_v = b_dmask.value
        tgt = min(offs_map)
        pdf = pdf.sort_values(["term", "segment_id"], kind="stable").reset_index(drop=True)
        n_rows = len(pdf)
        counts = pdf["docs_count"].to_numpy(np.int64)
        n = int(counts.sum())
        ids_raw, row_starts, row_of, freqs = _decode_group_ids(pdf, counts)
        seg_off = pdf["segment_id"].map(offs_map).to_numpy(np.int64)
        codes, uniq_terms = pd.factorize(pdf["term"])
        first_row = np.flatnonzero(np.diff(codes, prepend=-1))
        val_bytes = [v if v is not None else b"" for v in pdf[val_col]]
        pay_bytes = (
            [v if v is not None else b"" for v in pdf["pay_enc"]] if with_pay else None
        )

        if any(ds.size for ds in dmask_v.values()):
            seg_ids = pdf["segment_id"].to_numpy(np.int64)
            keep, shift = _mask_keep_shift(ids_raw, seg_ids[row_of], dmask_v)
            new_ids = ids_raw - shift + seg_off[row_of]
            occ_keep = np.repeat(keep, freqs)
            vals_abs = decode_positions(b"".join(val_bytes), freqs)[occ_keep]
            pays_abs = (
                vbyte_decode(b"".join(pay_bytes)).astype(np.int64)[occ_keep]
                if with_pay
                else None
            )
            t_el = codes[row_of]
            ids_k, freqs_k, t_k = new_ids[keep], freqs[keep], t_el[keep]
            if ids_k.size == 0:
                return pd.DataFrame({k: pd.Series([], dtype="object") for k in cols})
            firstk = np.flatnonzero(np.diff(t_k, prepend=-1))
            tb = np.append(firstk, ids_k.size)
            enc = encode_postings_batch(ids_k, freqs_k, tb, vals_abs)
            out = {
                "term": [uniq_terms[i] for i in t_k[firstk]],
                "segment_id": np.full(firstk.size, tgt, np.int32),
                "docs_count": enc["docs_count"],
                "doc_ids_enc": enc["doc_ids_enc"],
                "freqs_enc": enc["freqs_enc"],
                val_col: enc["pos_enc"],
            }
            if with_pay:
                opre = np.zeros(ids_k.size + 1, np.int64)
                np.cumsum(freqs_k, out=opre[1:])
                occ_b = opre[tb]
                out["pay_enc"] = [
                    vbyte_encode(pays_abs[occ_b[t] : occ_b[t + 1]])
                    for t in range(firstk.size)
                ]
            return pd.DataFrame(out)[cols]

        ids = ids_raw + seg_off[row_of]
        tb = np.append(row_starts[first_row], n)
        enc = encode_postings_batch(ids, freqs, tb, positions=None)
        row_bounds = np.append(first_row, n_rows)
        out = {
            "term": list(uniq_terms),
            "segment_id": np.full(uniq_terms.size, tgt, np.int32),
            "docs_count": enc["docs_count"],
            "doc_ids_enc": enc["doc_ids_enc"],
            "freqs_enc": enc["freqs_enc"],
            val_col: [
                b"".join(val_bytes[row_bounds[t] : row_bounds[t + 1]])
                for t in range(uniq_terms.size)
            ],
        }
        if with_pay:
            out["pay_enc"] = [
                b"".join(pay_bytes[row_bounds[t] : row_bounds[t + 1]])
                for t in range(uniq_terms.size)
            ]
        return pd.DataFrame(out)[cols]

    from .builder import OFFSETS_SCHEMA, PAYLOADS_SCHEMA

    sidecar_paths = {}
    for tbl, schema, with_pos, with_pay, enabled in (
        ("offsets", OFFSETS_SCHEMA, False, False, has_offsets),
        ("payloads", PAYLOADS_SCHEMA, True, True, has_payloads),
    ):
        if not enabled:
            continue
        t0 = time.time()
        sdf = reader._table(tbl)
        s_pass = sdf.where(~F.col("segment_id").isin(merge_ids))
        def make_kernel(wp: bool, wy: bool):
            def _k(pdf: pd.DataFrame) -> pd.DataFrame:
                return merge_sidecar(pdf.drop(columns=["mgrp"]), wp, wy)

            return _k

        s_merge = (
            sdf.where(F.col("segment_id").isin(merge_ids))
            .withColumn("mgrp", F.abs(F.hash("term")) % n_groups)
            .groupBy("mgrp")
            .applyInPandas(make_kernel(with_pos, with_pay), schema)
        )
        out_path = os.path.join(gen_dir, tbl)
        (
            s_pass.unionByName(s_merge)
            .repartitionByRange(max(8, p_parts // 4), "term", "segment_id")
            .sortWithinPartitions("term", "segment_id")
            .write.mode("overwrite")
            .parquet(out_path)
        )
        sidecar_paths[tbl] = out_path
        builder._manifest(meta["run_id"], gen, f"consolidate_{tbl}", "done", time.time() - t0)

    # ---- norms ----
    t0 = time.time()
    # every field's rows (reader.norms() keeps one field of a multi-field index)
    norms = reader._table("norms")

    def merge_norms(pdf: pd.DataFrame) -> pd.DataFrame:
        """Merge ONE field's norm rows across the merged segments (the group
        key is the field — every field's doc-length space merges separately)."""
        from .builder import NORMS_CHUNK_DOCS

        offs = b_offsets.value
        dmask_v = b_dmask.value
        fname = pdf["field"].iloc[0] if len(pdf) else ""
        pdf = pdf.sort_values(["segment_id", "chunk_id"])
        parts = []
        for sid_in, grp in pdf.groupby("segment_id", sort=True):
            dl = np.concatenate(
                [vbyte_decode(e).astype(np.int64) for e in grp["doc_len_enc"]]
            )
            ds = dmask_v.get(int(sid_in))
            if ds is not None and ds.size:
                live = np.ones(dl.size, dtype=bool)
                live[ds - 1] = False  # doc ids are 1-based
                dl = dl[live]
            parts.append(dl)
        dl = np.concatenate(parts) if parts else np.empty(0, np.int64)
        bounds = list(range(0, len(dl), NORMS_CHUNK_DOCS)) + [len(dl)]
        chunks = [dl[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]
        return pd.DataFrame(
            [
                {
                    "field": fname,
                    "segment_id": min(offs),
                    "chunk_id": ci,
                    "docs_count": len(c),
                    "doc_len_enc": vbyte_encode(c),
                    "docs_with_field": int((c > 0).sum()),
                    "sum_len": int(c.sum()),
                    "min_len": int(c.min()) if len(c) else 0,
                }
                for ci, c in enumerate(chunks)
            ]
        )

    norms_path = os.path.join(gen_dir, "norms")
    merged_norms = (
        norms.where(F.col("segment_id").isin(merge_ids))
        .groupBy("field")
        .applyInPandas(lambda pdf: merge_norms(pdf), NORMS_SCHEMA)
    )
    (
        norms.where(~F.col("segment_id").isin(merge_ids))
        .unionByName(merged_norms)
        .write.mode("overwrite")
        .parquet(norms_path)
    )
    builder._manifest(meta["run_id"], gen, "consolidate_norms", "done", time.time() - t0)

    # ---- docs ----
    t0 = time.time()
    docs = reader.docs()
    docs_path = os.path.join(gen_dir, "docs")
    if any(ds.size for ds in dmask.values()):
        doc_schema = docs.schema
        passthrough_docs = docs.where(~F.col("segment_id").isin(merge_ids))

        def remap_docs(pdf: pd.DataFrame) -> pd.DataFrame:
            offs = b_offsets.value
            dmask_v = b_dmask.value
            if len(pdf) == 0:
                return pdf
            sid = int(pdf["segment_id"].iloc[0])
            ds = dmask_v.get(sid, np.empty(0, np.int64))
            ids = pdf["doc_id"].to_numpy(np.int64)
            if ds.size:
                pos = np.searchsorted(ds, ids)
                posc = np.minimum(pos, ds.size - 1)
                keep = ds[posc] != ids
                pdf = pdf[keep].copy()
                ids = ids[keep]
                shift = np.searchsorted(ds, ids, side="right")
            else:
                pdf = pdf.copy()
                shift = np.zeros(ids.size, np.int64)
            pdf["doc_id"] = (ids - shift + offs[sid]).astype(np.int32)
            pdf["segment_id"] = np.int32(min(offs))
            return pdf

        merged_docs = (
            docs.where(F.col("segment_id").isin(merge_ids))
            .groupBy("segment_id")
            .applyInPandas(remap_docs, doc_schema)
        )
        passthrough_docs.unionByName(merged_docs).write.mode("overwrite").parquet(docs_path)
    else:
        off_df = F.broadcast(
            spark.createDataFrame(
                [(s, offsets[s]) for s in merge_ids], "segment_id int, off int"
            )
        )
        (
            docs.join(off_df, "segment_id", "left")
            .withColumn(
                "doc_id",
                F.when(F.col("off").isNotNull(), F.col("doc_id") + F.col("off")).otherwise(
                    F.col("doc_id")
                ),
            )
            .withColumn(
                "segment_id",
                F.when(F.col("off").isNotNull(), F.lit(target)).otherwise(F.col("segment_id")),
            )
            .drop("off")
            .write.mode("overwrite")
            .parquet(docs_path)
        )
    builder._manifest(meta["run_id"], gen, "consolidate_docs", "done", time.time() - t0)

    # ---- commit gen+1 ----
    meta["num_segments"] = len(docs_count) - len(merge_ids) + 1
    # the purge drops the merged segments' deleted docs from storage
    meta["docs_count"] = sum(docs_count.values()) - sum(ds.size for ds in dmask.values())
    meta["tables"] = dict(meta["tables"])
    meta["tables"]["postings"] = postings_path
    meta["tables"]["norms"] = norms_path
    meta["tables"]["docs"] = docs_path
    for tbl, pth in sidecar_paths.items():
        meta["tables"][tbl] = pth
    if any(ds.size for ds in dmask.values()):
        # purged docs change df/ttf: rebuild term_dict from the new postings
        # (the reference merge recomputes term stats the same way)
        term_dict_path = os.path.join(gen_dir, "term_dict")
        (
            spark.read.parquet(postings_path)
            .groupBy("field", "term")
            .agg(
                F.sum("docs_count").alias("df"),
                F.sum("total_freq").alias("ttf"),
                F.max("max_freq").alias("max_freq"),
            )
            .repartitionByRange(max(8, p_parts // 4), "field", "term")
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .parquet(term_dict_path)
        )
        meta["tables"]["term_dict"] = term_dict_path
    if dels_df is not None:
        # merged segments' deletes are now physically purged; other segments'
        # masks carry over into the new generation
        remaining = dels_df.where(~F.col("segment_id").isin(merge_ids))
        if remaining.limit(1).count() > 0:
            deletes_path = os.path.join(gen_dir, "deletes")
            remaining.write.mode("overwrite").parquet(deletes_path)
            meta["tables"]["deletes"] = deletes_path
        else:
            meta["tables"].pop("deletes", None)
    return c.publish(meta)
