"""Document deletes — the ``document_mask`` plane of the engine.

Reference: per-segment delete bitsets written by the mask writer and applied
by every doc iterator (index_writer.cpp:321-330 RemovalsToMask;
segment_reader.hpp:92-93 ``docs_mask()``). Semantics mirrored exactly:

* a delete HIDES docs from every query immediately (kernels mask doc ids),
* global stats (term df/ttf, norms, avgdl) stay UNCHANGED until the deleted
  docs are physically purged by consolidation — the reference behaves the
  same way (stats are baked per segment; merge_writer drops masked docs and
  recomputes, merge_writer.cpp:162-209 doc_map_f).

Storage: a plain ``(segment_id, doc_id)`` parquet table per generation —
pair rows anti-join the docs table (Catalyst pushdown) and aggregate into
per-segment sorted arrays for the scoring kernels. Commit is the same
two-phase pending→rename as the build.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .reader import IndexReader

DELETES_SCHEMA = "segment_id int, doc_id int"


def delete_docs(reader: IndexReader, doc_keys) -> dict:
    """Mark documents deleted by ``doc_key``; commits generation+1.

    ``doc_keys`` is a list of keys or a DataFrame with a ``doc_key`` column.
    Returns the new meta. The reader itself stays pinned to its generation
    (snapshot semantics) — open a new IndexReader to see the deletes.
    """
    spark = reader.spark
    # commit against the CURRENT meta, not the pinned reader's snapshot: an
    # append/streaming-ingest commit between reader open and this rename would
    # otherwise be silently dropped (lost update). The delete pairs themselves
    # are still resolved against the reader's snapshot (point-in-time delete).
    meta_path = os.path.join(reader.index_path, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    gen = meta["generation"] + 1
    gen_dir = os.path.join(reader.index_path, f"gen={gen}")
    os.makedirs(gen_dir, exist_ok=True)

    docs = reader.docs().select("segment_id", "doc_id", "doc_key")
    if isinstance(doc_keys, DataFrame):
        new_pairs = docs.join(
            F.broadcast(doc_keys.select("doc_key").distinct()), "doc_key", "leftsemi"
        ).select("segment_id", "doc_id")
    else:
        new_pairs = docs.where(F.col("doc_key").isin(list(doc_keys))).select(
            "segment_id", "doc_id"
        )

    parts = [new_pairs]
    old_path = meta["tables"].get("deletes")  # current-meta deletes, not the snapshot's
    if old_path is not None:
        parts.append(spark.read.parquet(old_path).select("segment_id", "doc_id"))
    union = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    deletes_path = os.path.join(gen_dir, "deletes")
    n_parts = max(1, len(reader.segment_docs_counts()) // 8)
    union.distinct().repartitionByRange(n_parts, "segment_id", "doc_id").sortWithinPartitions(
        "segment_id", "doc_id"
    ).write.mode("overwrite").parquet(deletes_path)

    meta["generation"] = gen
    meta["tables"] = dict(meta["tables"])
    meta["tables"]["deletes"] = deletes_path
    pending = os.path.join(reader.index_path, "_pending.json")
    with open(pending, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(pending, os.path.join(reader.index_path, "meta.json"))
    return meta
