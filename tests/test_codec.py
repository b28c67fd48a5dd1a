"""Codec round-trip + block metadata tests (FIXTURES.md F7; mirrors the
formats_1x round-trip style of tests/formats in the reference)."""

import numpy as np
import pytest

from iresearch_spark.index.codec import (
    BLOCK_SIZE,
    decode_doc_ids,
    decode_freqs,
    decode_positions,
    decode_postings,
    encode_postings,
    encode_postings_batch,
    vbyte_decode,
    vbyte_encode,
)

RNG = np.random.default_rng(42)


@pytest.mark.parametrize(
    "values",
    [
        np.array([0]),
        np.array([1, 2, 3]),
        np.array([127, 128, 129, 16383, 16384]),
        np.array([2**32 - 1, 2**40, 2**63 - 1]),
        RNG.integers(0, 2**31, size=10_000),
        np.empty(0, dtype=np.int64),
    ],
)
def test_vbyte_roundtrip(values):
    enc = vbyte_encode(values)
    dec = vbyte_decode(enc)
    np.testing.assert_array_equal(dec.astype(np.uint64), np.asarray(values, np.uint64))


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 255, 256, 4096, 5000])
def test_postings_roundtrip(n):
    gaps = RNG.integers(1, 50, size=n)
    doc_ids = np.cumsum(gaps)
    freqs = RNG.integers(1, 20, size=n)
    positions = np.concatenate(
        [np.cumsum(RNG.integers(1, 9, size=f)) for f in freqs]
    )
    enc = encode_postings(doc_ids, freqs, positions)
    assert enc.docs_count == n
    assert enc.total_freq == int(freqs.sum())
    assert enc.max_freq == int(freqs.max())
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(enc.block_last_doc) == nblocks
    # block metadata correctness
    for i in range(nblocks):
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n)
        assert enc.block_last_doc[i] == doc_ids[hi - 1]
        assert enc.block_max_freq[i] == freqs[lo:hi].max()
    np.testing.assert_array_equal(
        decode_doc_ids(enc.doc_ids_enc, enc.block_doc_off, enc.block_last_doc), doc_ids
    )
    np.testing.assert_array_equal(decode_freqs(enc.freqs_enc, enc.block_freq_off), freqs)
    np.testing.assert_array_equal(decode_positions(enc.pos_enc, freqs), positions)


def test_partial_block_decode():
    n = 1000
    doc_ids = np.cumsum(RNG.integers(1, 10, size=n))
    freqs = RNG.integers(1, 5, size=n)
    enc = encode_postings(doc_ids, freqs)
    blocks = np.array([0, 3, 7])
    got = decode_doc_ids(enc.doc_ids_enc, enc.block_doc_off, enc.block_last_doc, blocks)
    expect = np.concatenate(
        [doc_ids[b * BLOCK_SIZE : (b + 1) * BLOCK_SIZE] for b in blocks]
    )
    np.testing.assert_array_equal(got, expect)
    got_f = decode_freqs(enc.freqs_enc, enc.block_freq_off, blocks)
    expect_f = np.concatenate([freqs[b * BLOCK_SIZE : (b + 1) * BLOCK_SIZE] for b in blocks])
    np.testing.assert_array_equal(got_f, expect_f)


def test_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_postings(np.array([5, 3]), np.array([1, 1]))


def test_encode_postings_batch_matches_per_term():
    """encode_postings_batch must be byte-identical to per-term encode_postings."""
    import numpy as np
    from iresearch_spark.index.codec import encode_postings, encode_postings_batch

    rng = np.random.default_rng(5)
    for trial in range(10):
        T = int(rng.integers(1, 40))
        doc_parts, freq_parts, pos_parts, bounds = [], [], [], [0]
        for _ in range(T):
            df = int(rng.integers(1, 400))
            ids = np.sort(rng.choice(np.arange(1, 2000), size=df, replace=False))
            tfs = rng.integers(1, 9, size=df).astype(np.int64)
            pos = np.concatenate(
                [np.sort(rng.choice(np.arange(1, 500), size=t, replace=False)) for t in tfs]
            )
            doc_parts.append(ids); freq_parts.append(tfs); pos_parts.append(pos)
            bounds.append(bounds[-1] + df)
        doc_ids = np.concatenate(doc_parts)
        freqs = np.concatenate(freq_parts)
        positions = np.concatenate(pos_parts)
        batch = encode_postings_batch(doc_ids, freqs, np.array(bounds), positions)
        for t in range(T):
            lo, hi = bounds[t], bounds[t + 1]
            ppos = np.concatenate(pos_parts[: t + 1])[-len(pos_parts[t]):] if False else pos_parts[t]
            single = encode_postings(doc_parts[t], freq_parts[t], pos_parts[t])
            assert batch["docs_count"][t] == single.docs_count
            assert batch["total_freq"][t] == single.total_freq
            assert batch["max_freq"][t] == single.max_freq
            assert batch["doc_ids_enc"][t] == single.doc_ids_enc, (trial, t)
            assert batch["freqs_enc"][t] == single.freqs_enc
            assert batch["pos_enc"][t] == single.pos_enc
            assert batch["block_last_doc"][t] == single.block_last_doc.tolist()
            assert batch["block_doc_off"][t] == single.block_doc_off.tolist()
            assert batch["block_freq_off"][t] == single.block_freq_off.tolist()
            assert batch["block_max_freq"][t] == single.block_max_freq.tolist()


def test_multiblock_decode_vectorized_matches_full():
    """Selective multi-block decode (one gather, no per-block loop) must equal
    slicing the full decode at the same blocks, including non-adjacent and
    first/last block subsets."""
    import numpy as np

    from iresearch_spark.index.codec import (
        decode_doc_ids,
        decode_freqs,
        encode_postings_batch_arrow,
    )

    rng = np.random.default_rng(7)
    n = 1000  # ~8 blocks of 128
    doc_ids = np.unique(rng.integers(1, 50_000, size=n)).astype(np.int64)
    freqs = rng.integers(1, 2000, size=doc_ids.size).astype(np.int64)
    enc = encode_postings_batch_arrow(
        doc_ids, freqs, np.array([0, doc_ids.size]), None
    )
    doc_enc = enc["doc_ids_enc"][0].as_py()
    freq_enc = enc["freqs_enc"][0].as_py()
    doff = np.array(enc["block_doc_off"][0].as_py())
    foff = np.array(enc["block_freq_off"][0].as_py())
    blast = np.array(enc["block_last_doc"][0].as_py())
    full_ids = decode_doc_ids(doc_enc, doff, blast)
    full_fr = decode_freqs(freq_enc, foff)
    assert np.array_equal(full_ids, doc_ids)
    nblocks = len(doff)
    for blocks in ([0], [nblocks - 1], [0, nblocks - 1], [1, 3, 4], list(range(nblocks))):
        b = np.array(blocks, dtype=np.int64)
        sel = np.concatenate(
            [np.arange(i * 128, min((i + 1) * 128, doc_ids.size)) for i in blocks]
        )
        assert np.array_equal(decode_doc_ids(doc_enc, doff, blast, b), full_ids[sel])
        assert np.array_equal(decode_freqs(freq_enc, foff, b), full_fr[sel])


def _random_segment(rng, sizes):
    """One segment's encode_postings_batch rows for lists of ``sizes``
    postings (gaps up to 2^16, so deltas take 1-3 varint bytes), with
    positions; returns (batch, per-list (ids, tfs, positions))."""
    lists, bounds = [], [0]
    for n in sizes:
        ids = np.cumsum(rng.integers(1, 1 << 16, size=n)).astype(np.int64)
        tfs = rng.integers(1, 300, size=n).astype(np.int64)
        pos = np.concatenate([np.sort(rng.choice(np.arange(1, 5000), t, replace=False)) for t in tfs])
        lists.append((ids, tfs, pos))
        bounds.append(bounds[-1] + n)
    batch = encode_postings_batch(
        np.concatenate([lst[0] for lst in lists]),
        np.concatenate([lst[1] for lst in lists]),
        np.array(bounds),
        np.concatenate([lst[2] for lst in lists]),
    )
    return batch, lists


_SEGMENT_SIZES = [1, 1, 5, 127, 128, 129, 256, 300, 1, 1000, 2]


@pytest.mark.parametrize("seed", range(4))
def test_decode_postings_matches_per_row_decode(seed):
    """The one-pass segment decoder equals per-row decode_doc_ids /
    decode_freqs on every row (1-posting, exactly-one-block and multi-block
    lists), from byte strings and from a sliced pyarrow binary column."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    sizes = list(rng.permutation(_SEGMENT_SIZES))
    batch, lists = _random_segment(rng, sizes)
    ids, tfs, off = decode_postings(batch["doc_ids_enc"], batch["freqs_enc"])
    assert off.tolist() == np.concatenate([[0], np.cumsum(sizes)]).tolist()
    for r, (want_ids, want_tfs, _) in enumerate(lists):
        row_ids = decode_doc_ids(
            batch["doc_ids_enc"][r], batch["block_doc_off"][r], batch["block_last_doc"][r]
        )
        row_tfs = decode_freqs(batch["freqs_enc"][r], batch["block_freq_off"][r])
        assert ids[off[r] : off[r + 1]].tolist() == row_ids.tolist() == want_ids.tolist()
        assert tfs[off[r] : off[r + 1]].tolist() == row_tfs.tolist() == want_tfs.tolist()
    # a sliced arrow column (non-zero array offset) decodes the same rows
    docs = pa.array([b"x"] + batch["doc_ids_enc"], pa.binary()).slice(1)
    freqs = pa.array([b"x"] + batch["freqs_enc"], pa.binary()).slice(1)
    a_ids, a_tfs, a_off = decode_postings(docs, freqs)
    assert a_ids.tolist() == ids.tolist() and a_tfs.tolist() == tfs.tolist()
    assert a_off.tolist() == off.tolist()


@pytest.mark.parametrize("seed", range(4))
def test_segment_views_match_per_row_decode(seed):
    """A kernel's views of a one-pass decoded segment (``_SegmentViews``)
    equal the per-row decoders: whole lists, random block subsets
    (``decode_doc_ids(blocks=...)``), the block metadata WAND reads, and
    positions when only some rows carry them."""
    import pyarrow as pa

    from iresearch_spark.search.executor import _SegmentViews

    rng = np.random.default_rng(100 + seed)
    sizes = list(rng.permutation(_SEGMENT_SIZES))
    batch, lists = _random_segment(rng, sizes)
    terms = [f"t{r:02d}" for r in range(len(sizes))]
    with_pos = rng.random(len(sizes)) < 0.5
    sv = _SegmentViews(
        pa.table(
            {
                "term": pa.array(terms),
                "doc_ids_enc": pa.array(batch["doc_ids_enc"], pa.binary()),
                "freqs_enc": pa.array(batch["freqs_enc"], pa.binary()),
                "pos_enc": pa.array(
                    [p if w else None for p, w in zip(batch["pos_enc"], with_pos)], pa.binary()
                ),
            }
        )
    )
    assert sv.view("absent") is None
    for r in rng.permutation(len(sizes)):
        enc_ids, enc_tfs = batch["doc_ids_enc"][r], batch["freqs_enc"][r]
        doc_off, freq_off = batch["block_doc_off"][r], batch["block_freq_off"][r]
        last = batch["block_last_doc"][r]
        v = sv.view(terms[r])
        assert v.docs_count == sizes[r] and v.max_freq == batch["max_freq"][r]
        assert v.block_last.tolist() == last
        assert v.block_maxf.tolist() == batch["block_max_freq"][r]
        for _ in range(3):
            sel = np.flatnonzero(rng.random(len(last)) < 0.5)
            got_ids, got_tfs = v.decode_blocks(sel)
            assert got_ids.tolist() == decode_doc_ids(enc_ids, doc_off, last, blocks=sel).tolist()
            assert got_tfs.tolist() == decode_freqs(enc_tfs, freq_off, blocks=sel).tolist()
        want_pos = decode_positions(batch["pos_enc"][r], lists[r][1]) if with_pos[r] else []
        assert v.positions().tolist() == list(want_pos)
        all_ids, all_tfs = v.decode_all()
        assert all_ids.tolist() == decode_doc_ids(enc_ids, doc_off, last).tolist()
        assert all_tfs.tolist() == decode_freqs(enc_tfs, freq_off).tolist()
