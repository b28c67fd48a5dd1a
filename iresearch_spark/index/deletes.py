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
per-segment sorted arrays for the scoring kernels. A delete applies to the
generation it commits on: it is based on the committed generation, not the
caller's reader, and commits the next one through :mod:`.commit` like every
writer (one local filesystem, one live writer per index at a time;
``CommitConflict`` when another writer commits first).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .commit import claim
from .reader import IndexReader

DELETES_SCHEMA = "segment_id int, doc_id int"


def delete_docs(reader: IndexReader, doc_keys) -> dict:
    """Mark documents deleted by ``doc_key``; commits the generation after
    the committed one and returns its meta.

    ``doc_keys`` is a list of keys or a DataFrame with a ``doc_key`` column.
    The keys resolve against the committed generation, which may be newer
    than ``reader``'s (an append or a consolidate since it opened); ``reader``
    itself stays pinned to its generation — open a new IndexReader to see the
    deletes. Raises :class:`~.commit.CommitConflict` when another writer is
    committing."""
    current = IndexReader(reader.spark, reader.index_path)
    with claim(current.index_path, current.meta["generation"]) as c:
        docs = current.docs().select("segment_id", "doc_id", "doc_key")
        if isinstance(doc_keys, DataFrame):
            new_pairs = docs.join(
                F.broadcast(doc_keys.select("doc_key").distinct()), "doc_key", "leftsemi"
            ).select("segment_id", "doc_id")
        else:
            new_pairs = docs.where(F.col("doc_key").isin(list(doc_keys))).select(
                "segment_id", "doc_id"
            )

        union = new_pairs
        old = current.deletes()
        if old is not None:
            union = union.unionByName(old.select("segment_id", "doc_id"))

        deletes_path = os.path.join(c.dir, "deletes")
        n_parts = max(1, len(current.segment_docs_counts()) // 8)
        union.distinct().repartitionByRange(n_parts, "segment_id", "doc_id").sortWithinPartitions(
            "segment_id", "doc_id"
        ).write.mode("overwrite").parquet(deletes_path)

        meta = dict(current.meta)
        meta["tables"] = {**meta["tables"], "deletes": deletes_path}
        return c.publish(meta)
