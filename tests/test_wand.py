"""Rank-identity of the pruned kernels (block-max WAND / MaxScore / selective
conjunction) vs full unpruned evaluation.

The reference guarantees the wanderator returns exactly the same top-k as the
plain iterator (formats_10.cpp:2239-2578 + utils/index-search.cpp modes
all/wand); these tests assert the same property for our kernels on randomized
posting lists, in pure numpy. MaxScore is held to exact score equality with
the unpruned ``_union``. The last section builds a one-segment index whose
top docs are deleted and checks, through ``search``, that every pruned kernel
masks deletes before its threshold.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from iresearch_spark import IndexBuilder, IndexReader, Searcher, filters as flt
from iresearch_spark.index.codec import decode_postings, encode_postings
from iresearch_spark.index.deletes import delete_docs
from iresearch_spark.search.bm25 import BM25Model, bm25_idf, bm25_score
from iresearch_spark.search.executor import (
    PostingsView,
    _conjunction_selective,
    _local_topk,
    _maxscore_union,
    _union,
    _wand_single_term,
)
from tests.oracle import ScalarIndex

N_DOCS = 3000
K1, B = 1.2, 0.75
MODEL = BM25Model(K1, B)


def _view(enc, cls=PostingsView):
    """A view over one encoded list, decoded like a segment's lists."""
    ids, tfs, _ = decode_postings([enc.doc_ids_enc], [enc.freqs_enc])
    return cls.decoded(ids, tfs, lambda: np.zeros(0, np.int64))


def _make_corpus(rng, n_terms):
    """Random postings + doc lengths; returns (views, idfs, dl, avgdl)."""
    dl = rng.integers(20, 400, size=N_DOCS).astype(np.int64)
    avgdl = float(dl.mean())
    views, idfs = [], []
    for _ in range(n_terms):
        df = int(rng.integers(5, N_DOCS))
        ids = np.sort(rng.choice(np.arange(1, N_DOCS + 1), size=df, replace=False))
        tfs = rng.integers(1, 15, size=df).astype(np.int64)
        views.append(_view(encode_postings(ids, tfs)))
        idfs.append(float(bm25_idf(df, N_DOCS)))
    return views, idfs, dl, avgdl


def _full_term(view, idf, dl, avgdl, dt):
    ids, tfs = view.decode_all()
    return ids, bm25_score(tfs, dl[ids - 1], idf, avgdl, K1, B, 1.0, dt)


def _topk_tuple(ids, scores, k=10):
    i, s = _local_topk(ids, scores, k)
    return list(zip(i.tolist(), np.round(s.astype(np.float64), 9).tolist()))


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("seed", range(8))
def test_wand_single_term_rank_identical(seed, dtype):
    rng = np.random.default_rng(seed)
    views, idfs, dl, avgdl = _make_corpus(rng, 1)
    fresh = views[0]
    got = _wand_single_term(fresh, idfs[0], 1.0, 10, dl, avgdl, MODEL, dtype)
    want = _full_term(views[0], idfs[0], dl, avgdl, dtype)
    assert _topk_tuple(*got) == _topk_tuple(*want)


def _check_maxscore(lists, k, dl, avgdl, dt, dels=None):
    """``_maxscore_union`` over ``lists`` [(ids, tfs, idf, boost)] against
    ``_union`` of the fully scored, delete-masked lists: the same top-k, the
    scores equal to the bit. The legs go in MaxScore's processing order
    (descending upper bound), so both sides add each doc's leg scores in the
    same order. Returns the kernel's (ids, scores)."""
    ubs = MODEL.ub_batch(
        np.array([t.max() for _, t, _, _ in lists]), np.array([f for *_, f, _ in lists]),
        np.array([b for *_, b in lists]), float(dl.min()), avgdl, dt,
    )
    lists = [lists[i] for i in np.argsort(-ubs, kind="stable")]
    legs = [(_view(encode_postings(i, t)), f, b) for i, t, f, b in lists]
    got = _maxscore_union(legs, k, dl, avgdl, MODEL, dt, dels)
    full = []
    for ids, tfs, idf, boost in lists:
        keep = ~np.isin(ids, dels) if dels is not None else slice(None)
        ids, tfs = ids[keep], tfs[keep]
        full.append((ids, bm25_score(tfs, dl[ids - 1], idf, avgdl, K1, B, boost, dt)))
    want = _union(full, 1, dt)
    gi, gs = _local_topk(*got, k)
    wi, ws = _local_topk(*want, k)
    assert gi.tolist() == wi.tolist()
    assert gs.dtype == ws.dtype and gs.tobytes() == ws.tobytes()
    return got


def _random_lists(rng, n_terms, boosts=False):
    lists = []
    for _ in range(n_terms):
        df = int(rng.integers(5, N_DOCS))
        ids = np.sort(rng.choice(np.arange(1, N_DOCS + 1), size=df, replace=False))
        tfs = rng.integers(1, 15, size=df).astype(np.int64)
        boost = float(rng.choice([0.25, 1.0, 3.0])) if boosts else 1.0
        lists.append((ids, tfs, float(bm25_idf(df, N_DOCS)), boost))
    return lists


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("seed", range(8))
def test_maxscore_union_rank_identical(seed, dtype):
    rng = np.random.default_rng(100 + seed)
    lists = _random_lists(rng, int(rng.integers(2, 9)))
    dl = rng.integers(20, 400, size=N_DOCS).astype(np.int64)
    _check_maxscore(lists, 10, dl, float(dl.mean()), dtype)


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("seed", range(4))
def test_maxscore_union_deleted_docs_and_boosts(seed, dtype):
    """Deletes are masked in every leg and boosted legs keep their bound
    order; the top docs of the strongest leg are among the deleted ones."""
    rng = np.random.default_rng(300 + seed)
    lists = _random_lists(rng, int(rng.integers(2, 7)), boosts=True)
    dl = rng.integers(20, 400, size=N_DOCS).astype(np.int64)
    avgdl = float(dl.mean())
    ids, tfs, idf, boost = lists[0]
    top = ids[np.argsort(-bm25_score(tfs, dl[ids - 1], idf, avgdl, K1, B, boost, dtype))[:20]]
    rest = rng.choice(np.arange(1, N_DOCS + 1), size=200, replace=False)
    dels = np.unique(np.concatenate([top, rest]))
    _check_maxscore(lists, 10, dl, avgdl, dtype, dels)


def test_maxscore_union_candidates_only_phase(monkeypatch):
    """A rare, strong leg lifts the threshold above the two long legs'
    bound-sum: those are read only at the candidates' blocks, and the
    candidates' scores still gain their contributions."""
    n = 20000
    dl = np.full(n, 100, dtype=np.int64)
    rare = np.arange(1, n + 1, 997, dtype=np.int64)
    long_a = np.arange(1, n + 1, dtype=np.int64)
    long_b = np.arange(2, n + 1, 2, dtype=np.int64)
    lists = [
        (rare, np.full(rare.size, 40, np.int64), 6.0, 1.0),
        (long_a, np.ones(long_a.size, np.int64), 0.05, 1.0),
        (long_b, np.ones(long_b.size, np.int64), 0.02, 1.0),
    ]
    calls = []
    decode_blocks = PostingsView.decode_blocks

    def spy(self, blocks):
        calls.append(len(blocks))
        return decode_blocks(self, blocks)

    monkeypatch.setattr(PostingsView, "decode_blocks", spy)
    ids, _ = _check_maxscore(lists, 10, dl, 100.0, np.float64)
    assert calls and sum(calls) < 2 * (long_a.size // 128)
    assert ids.tolist() == sorted(ids.tolist()) and set(ids.tolist()) <= set(rare.tolist())


def test_maxscore_union_k_above_match_count():
    """k larger than the union: every match comes back, scored exactly."""
    rng = np.random.default_rng(7)
    dl = rng.integers(20, 400, size=N_DOCS).astype(np.int64)
    lists = [
        (np.array([3, 50, 900]), np.array([1, 4, 2]), 2.0, 1.0),
        (np.array([50, 901, 2999]), np.array([3, 1, 1]), 1.5, 2.0),
    ]
    ids, sc = _check_maxscore(lists, 100, dl, float(dl.mean()), np.float32)
    assert ids.tolist() == [3, 50, 900, 901, 2999] and sc.dtype == np.float32


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_maxscore_union_hit_on_last_doc(dtype):
    """The best hit is the segment's last doc id, the largest id any leg
    holds, which the score accumulator must cover."""
    dl = np.full(N_DOCS, 50, dtype=np.int64)
    dl[-1] = 5
    lists = [
        (np.array([N_DOCS], np.int64), np.array([30], np.int64), 4.0, 1.0),
        (np.array([1, 2, N_DOCS], np.int64), np.array([1, 1, 9], np.int64), 1.0, 1.0),
    ]
    ids, _ = _check_maxscore(lists, 2, dl, 50.0, dtype)
    assert N_DOCS in ids.tolist()


@pytest.mark.parametrize("seed", range(8))
def test_conjunction_selective_identical(seed):
    rng = np.random.default_rng(200 + seed)
    n_terms = int(rng.integers(2, 5))
    views, idfs, dl, avgdl = _make_corpus(rng, n_terms)
    legs = [(v, idf, 1.0) for v, idf in zip(views, idfs)]
    got_ids, got_sc = _conjunction_selective(legs, dl, avgdl, MODEL, np.float64)
    # full reference: intersect all, sum leg scores
    full = [_full_term(v, idf, dl, avgdl, np.float64) for v, idf in zip(views, idfs)]
    ids = full[0][0]
    for oids, _ in full[1:]:
        ids = np.intersect1d(ids, oids, assume_unique=True)
    want_sc = np.zeros(ids.size)
    for oids, osc in full:
        _, ia, ib = np.intersect1d(ids, oids, assume_unique=True, return_indices=True)
        want_sc[ia] += osc[ib]
    order = np.argsort(ids)
    assert got_ids.tolist() == ids[order].tolist()
    np.testing.assert_allclose(np.sort(got_sc), np.sort(want_sc), rtol=1e-12)


def test_wand_actually_skips_blocks():
    """The pruning must really skip decoding for long, flat posting lists."""
    ids = np.arange(1, 20001, dtype=np.int64)
    tfs = np.ones(20000, dtype=np.int64)
    tfs[:16] = 50  # one hot block holding the whole top-10
    enc = encode_postings(ids, tfs)
    calls = []

    class Spy(PostingsView):
        __slots__ = ()

        def decode_blocks(self, blocks):
            calls.append(len(blocks))
            return super().decode_blocks(blocks)

    view = _view(enc, Spy)
    dl = np.full(20000, 100, dtype=np.int64)
    _wand_single_term(view, 2.0, 1.0, 10, dl, 100.0, MODEL, np.float64)
    assert sum(calls) < enc.block_last_doc.size  # decoded strictly fewer blocks


def test_wand_skips_blocks_of_a_segment_view(monkeypatch):
    """The same skip holds for a view of a one-pass decoded segment
    (``_SegmentViews``): the lists arrive decoded, and WAND still gathers
    strictly fewer blocks than the list has, with the unpruned top-k."""
    import pyarrow as pa

    from iresearch_spark.search.executor import _SegmentViews

    ids = np.arange(1, 20001, dtype=np.int64)
    tfs = np.ones(20000, dtype=np.int64)
    tfs[:16] = 50  # one hot block holding the whole top-10
    enc = encode_postings(ids, tfs)
    other = encode_postings(np.array([3, 9]), np.array([1, 2]))
    sv = _SegmentViews(
        pa.table(
            {
                "term": ["other", "flat"],
                "doc_ids_enc": pa.array([other.doc_ids_enc, enc.doc_ids_enc], pa.binary()),
                "freqs_enc": pa.array([other.freqs_enc, enc.freqs_enc], pa.binary()),
            }
        )
    )
    calls = []
    decode_blocks = PostingsView.decode_blocks

    def spy(self, blocks):
        calls.append(len(blocks))
        return decode_blocks(self, blocks)

    monkeypatch.setattr(PostingsView, "decode_blocks", spy)
    dl = np.full(20000, 100, dtype=np.int64)
    got = _wand_single_term(sv.view("flat"), 2.0, 1.0, 10, dl, 100.0, MODEL, np.float64)
    assert 0 < sum(calls) < enc.block_last_doc.size
    whole = _view(enc)
    assert _topk_tuple(*got) == _topk_tuple(*_full_term(whole, 2.0, dl, 100.0, np.float64))


# --------------------------------------------------------------------------
# deletes must be masked BEFORE top-k pruning (ADVICE r2 high): a big single
# segment (>2 blocks so WAND actually skips) whose top-ranking docs are all
# deleted — theta computed over deleted docs would skip live-doc blocks
# --------------------------------------------------------------------------

N_BIG = 700  # ~6 blocks of 128


def _big_docs() -> dict[str, str]:
    docs = {}
    for i in range(N_BIG):
        # tf of 'scan' rises with i, so the best docs are at the end;
        # 'sort' appears on even docs with its own gradient
        tf_scan = 1 + (i * 7) % 13
        tf_sort = 1 + (i * 5) % 11 if i % 2 == 0 else 0
        filler = ["pad"] * (3 + i % 5)
        docs[f"d{i:05d}"] = " ".join(["scan"] * tf_scan + ["sort"] * tf_sort + filler)
    return docs


@pytest.fixture(scope="module")
def big_del_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bigdel"))
    docs = _big_docs()
    df = spark.createDataFrame(list(docs.items()), "doc_key string, text string")
    IndexBuilder(spark, path, num_segments=1).build(df, key_col="doc_key", text_col="text")
    reader = IndexReader(spark, path)
    oracle = ScalarIndex(docs)
    # delete the CURRENT top-30 'scan' docs and the top-30 'sort' docs: the
    # pre-fix kernels would compute theta over exactly these and skip blocks
    top_scan = [k for k, _ in oracle.term_query("scan", k=30)]
    top_sort = [k for k, _ in oracle.term_query("sort", k=30)]
    deleted = sorted(set(top_scan) | set(top_sort))
    delete_docs(reader, deleted)
    return IndexReader(spark, path), docs, set(deleted), oracle


def _live(oracle_hits, deleted, k):
    return [(key, s) for key, s in oracle_hits if key not in deleted][:k]


def test_wand_single_term_masks_before_theta(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    got = [
        (r["doc_key"], r["score"])
        for r in Searcher(reader).search(flt.Term("scan"), k=10).collect()
    ]
    exp = _live(oracle.term_query("scan", k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-9


def test_maxscore_union_masks_before_theta(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    got = [
        (r["doc_key"], r["score"])
        for r in Searcher(reader)
        .search(flt.Or((flt.Term("scan"), flt.Term("sort"))), k=10)
        .collect()
    ]
    exp = _live(oracle.or_query(["scan", "sort"], k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-9


def test_conjunction_masks_driving_leg(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    got = [
        (r["doc_key"], r["score"])
        for r in Searcher(reader)
        .search(flt.And((flt.Term("scan"), flt.Term("sort"))), k=10)
        .collect()
    ]
    exp = _live(oracle.and_query(["scan", "sort"], k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]


def test_batch_path_masks_before_theta(spark, big_del_idx):
    reader, docs, deleted, oracle = big_del_idx
    res = Searcher(reader).search_many({"q": flt.Term("scan")}, k=10)
    keys = reader.docs().select("segment_id", "doc_id", "doc_key")
    got = [
        (r["doc_key"], r["score"])
        for r in res.join(keys, ["segment_id", "doc_id"])
        .orderBy(F.desc("score"), "doc_key")
        .collect()
    ]
    exp = _live(oracle.term_query("scan", k=N_BIG), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]
