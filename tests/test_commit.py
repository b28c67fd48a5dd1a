"""The commit protocol shared by every index writer (index/commit.py): a
writer claims generation g+1 of the generation it is based on, a stale base
or a live rival writer raises CommitConflict before anything is written, a
delete resolves its keys on the generation it commits on, and a writer with
nothing to do claims nothing."""

import os
import sys
import threading

import pytest

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index import commit
from iresearch_spark.index.commit import CommitConflict
from iresearch_spark.index.consolidate import consolidate
from iresearch_spark.index.deletes import delete_docs

A_KEYS = [f"a{i}" for i in range(1, 7)]


def _docs(spark, keys):
    return spark.createDataFrame(
        [(k, f"scan merge pad{i % 3}") for i, k in enumerate(keys)],
        "doc_key string, text string",
    )


def _build(spark, path, num_segments=3):
    IndexBuilder(spark, path, num_segments=num_segments).build(
        _docs(spark, A_KEYS), key_col="doc_key", text_col="text"
    )
    return IndexReader(spark, path)


def _live_keys(spark, path):
    """The committed generation's live keys as a sorted list (duplicates
    kept)."""
    rows = IndexReader(spark, path).live_docs().select("doc_key").collect()
    return sorted(r["doc_key"] for r in rows)


def _rows(reader):
    return [
        (r["doc_key"], r["score"])
        for r in Searcher(reader).search(flt.Term("scan"), k=100).collect()
    ]


def _snapshot(path):
    """Every file and directory under ``path`` with its mtime."""
    out = {path: os.stat(path).st_mtime_ns}
    for root, dirs, files in os.walk(path):
        for n in dirs + files:
            p = os.path.join(root, n)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _gen_dirs(path):
    return sorted(n for n in os.listdir(path) if n.startswith("gen="))


def test_stale_consolidate_conflicts_and_keeps_the_append(spark, tmp_path_factory):
    # (a) a consolidate based on the generation before an append must not
    # reuse the append's directory nor drop its docs
    path = str(tmp_path_factory.mktemp("commit_a"))
    pinned = _build(spark, path)
    before = _rows(pinned)
    IndexBuilder(spark, path, num_segments=1).append(_docs(spark, ["b1"]))
    appended = _snapshot(os.path.join(path, "gen=2"))
    with pytest.raises(CommitConflict):
        consolidate(pinned)
    assert _snapshot(os.path.join(path, "gen=2")) == appended
    assert _gen_dirs(path) == ["gen=1", "gen=2"]
    assert _live_keys(spark, path) == sorted(A_KEYS + ["b1"])
    # (d) the pinned reader still reads its own generation
    assert _rows(pinned) == before
    # reopen the reader and retry: the merge commits on the append
    meta = consolidate(IndexReader(spark, path))
    assert meta["generation"] == 3
    assert _live_keys(spark, path) == sorted(A_KEYS + ["b1"])


def test_delete_after_consolidate_resolves_on_committed(spark, tmp_path_factory):
    # (b) the pinned reader's (segment_id, doc_id) of the key is renumbered
    # by the merge; the delete must still remove the key
    path = str(tmp_path_factory.mktemp("commit_b"))
    pinned = _build(spark, path)
    docs = pinned.docs().select("segment_id", "doc_key").collect()
    last = max(r["segment_id"] for r in docs)
    key = max(r["doc_key"] for r in docs if r["segment_id"] == last)
    consolidate(IndexReader(spark, path))
    delete_docs(pinned, [key])
    assert _live_keys(spark, path) == sorted(k for k in A_KEYS if k != key)


def test_live_claim_blocks_every_writer(spark, tmp_path_factory):
    # (c) a writer holding the claim on gen=2/ mid-stage: every other writer
    # raises and leaves the directory as it was
    path = str(tmp_path_factory.mktemp("commit_c"))
    pinned = _build(spark, path)
    before = _rows(pinned)
    gen_dir = os.path.join(path, "gen=2")
    with commit.claim(path, 1) as c:
        assert c.gen == 2 and c.dir == gen_dir
        held = _snapshot(gen_dir)
        with pytest.raises(CommitConflict):
            IndexBuilder(spark, path, num_segments=1).append(_docs(spark, ["b1"]))
        with pytest.raises(CommitConflict):
            delete_docs(IndexReader(spark, path), ["a1"])
        with pytest.raises(CommitConflict):
            consolidate(IndexReader(spark, path))
        assert _snapshot(gen_dir) == held
    assert IndexReader(spark, path).meta["generation"] == 1
    # (d) the pinned reader still reads its own generation
    assert _rows(pinned) == before


def test_writer_without_work_claims_nothing(spark, tmp_path_factory):
    # (e) a no-op build on a committed index and a one-segment consolidate
    # leave no new generation directory
    path = str(tmp_path_factory.mktemp("commit_e"))
    _build(spark, path, num_segments=1)
    meta = IndexBuilder(spark, path, num_segments=1).build(
        _docs(spark, ["z1"]), key_col="doc_key", text_col="text"
    )
    assert meta["generation"] == 1
    assert _gen_dirs(path) == ["gen=1"]
    reader = IndexReader(spark, path)
    assert len(reader.segment_docs_counts()) == 1
    assert consolidate(reader)["generation"] == 1
    assert _gen_dirs(path) == ["gen=1"]


def test_racing_claims_lose_no_commit(tmp_path):
    # more writer threads than cores, each committing a read-modify-write of
    # the meta and retrying on CommitConflict: a lost update would leave
    # fewer recorded writes than commits
    path = str(tmp_path)
    n_threads, per_thread = 8, 5
    wins: list[int] = []
    errors: list[BaseException] = []

    def writer(tid):
        try:
            done = 0
            while done < per_thread:
                meta = commit.read_meta(path) or {"generation": 0, "writes": []}
                try:
                    with commit.claim(path, meta["generation"]) as c:
                        c.publish({**meta, "writes": meta["writes"] + [tid]})
                except CommitConflict:
                    continue
                wins.append(tid)
                done += 1
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    meta = commit.read_meta(path)
    assert len(wins) == n_threads * per_thread
    assert meta["generation"] == len(wins)
    assert sorted(meta["writes"]) == sorted(wins)


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


@pytest.mark.parametrize("source", ["rows", "parquet"])
def test_failed_append_lends_nothing_to_the_next_append(
    spark, tmp_path_factory, monkeypatch, source
):
    # an append whose commit failed leaves its stages (and, from parquet
    # input, its file-group plan) under gen=2; the next, unrelated append
    # claims gen=2 again and must commit its own docs, not the failed ones
    path = str(tmp_path_factory.mktemp("commit_f"))

    def docs(keys):
        df = _docs(spark, keys)
        if source == "rows":
            return df
        p = str(tmp_path_factory.mktemp("src") / "docs")
        df.coalesce(1).write.parquet(p)
        return spark.read.parquet(p)

    IndexBuilder(spark, path, num_segments=1).build(
        _docs(spark, ["a1", "a2"]), key_col="doc_key", text_col="text"
    )

    def crash(self, meta):
        raise OSError("crashed before the rename")

    with monkeypatch.context() as m:
        m.setattr(commit.Claim, "publish", crash)
        with pytest.raises(OSError):
            IndexBuilder(spark, path, num_segments=1).append(docs(["x1"]))
    IndexBuilder(spark, path, num_segments=1).append(docs(["y1", "y2"]))
    assert _live_keys(spark, path) == ["a1", "a2", "y1", "y2"]
    # the term stats are the committed docs' too: scan's df counts 4 docs
    assert IndexReader(spark, path).term_stats(["scan"])["scan"][0] == 4
