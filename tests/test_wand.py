"""Rank-identity of the pruned kernels (block-max WAND / MaxScore / selective
conjunction) vs full unpruned evaluation — pure numpy, no Spark session.

The reference guarantees the wanderator returns exactly the same top-k as the
plain iterator (formats_10.cpp:2239-2578 + utils/index-search.cpp modes
all/wand); these tests assert the same property for our kernels on randomized
posting lists.
"""

import numpy as np
import pytest

from iresearch_spark.index.codec import decode_postings, encode_postings
from iresearch_spark.search.bm25 import BM25Model, bm25_idf, bm25_score
from iresearch_spark.search.executor import (
    PostingsView,
    _conjunction_selective,
    _local_topk,
    _maxscore_union,
    _union,
    _wand_single_term,
)

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


@pytest.mark.parametrize("dtype", [np.float64, np.float32])
@pytest.mark.parametrize("seed", range(8))
def test_maxscore_union_rank_identical(seed, dtype):
    rng = np.random.default_rng(100 + seed)
    n_terms = int(rng.integers(2, 9))
    views, idfs, dl, avgdl = _make_corpus(rng, n_terms)
    legs = [(v, idf, 1.0) for v, idf in zip(views, idfs)]
    got = _maxscore_union(legs, 10, dl, avgdl, MODEL, dtype)
    full_legs = [_full_term(v, idf, dl, avgdl, dtype) for v, idf in zip(views, idfs)]
    want = _union(full_legs, 1, dtype)
    assert _topk_tuple(*got) == _topk_tuple(*want)


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
