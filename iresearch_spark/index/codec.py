"""Posting-list codecs: delta + VByte, fixed 128-doc blocks, block-max metadata.

Functional twin of the reference format (``core/formats/formats_10.cpp``):

* doc ids are delta-encoded in blocks of 128 (formats_10.cpp:74 ``BLOCK_SIZE``,
  803-829 delta+bitpack) — we use VByte (LSB-first base-128 varint) instead of
  SIMD bit-packing; numpy-vectorized, no per-element Python.
* per-block metadata ``(last_doc, byte offsets, max_freq)`` replaces the skip
  list (formats_10.cpp:334-343) and the WAND block-max scores
  (formats_10.cpp:912-953): a query kernel binary-searches ``last_doc`` to skip
  to a block (np.searchsorted) and prunes blocks whose ``max_freq`` cannot beat
  the current top-k threshold (block-max WAND, formats_10.cpp:2239-2578).
* positions are per-doc delta-encoded and concatenated; ``freqs`` double as the
  per-doc position counts (field_data.cpp:767-871 prox stream analogue).

Everything here is driver/executor-side pure numpy — safe inside pandas UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128  # formats_10.cpp:74


# --------------------------------------------------------------------------
# VByte (LSB-first varint), vectorized over uint64 arrays
# --------------------------------------------------------------------------

_MAX_VBYTE_LEN = 10  # enough for uint64


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative integer array as LSB-first base-128 varints."""
    a = np.asarray(values, dtype=np.uint64)
    if a.size == 0:
        return b""
    nbytes = np.ones(a.size, dtype=np.int64)
    for k in range(1, _MAX_VBYTE_LEN):
        nbytes += (a >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    vals = a.copy()
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        idx = starts[mask] + j
        cont = (nbytes[mask] > j + 1).astype(np.uint8)
        out[idx] = (vals[mask] & np.uint64(0x7F)).astype(np.uint8) | (cont << 7)
        vals[mask] >>= np.uint64(7)
    return out.tobytes()


def vbyte_decode(buf: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Decode an LSB-first base-128 varint byte stream to uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return vals


# --------------------------------------------------------------------------
# Blocked posting list
# --------------------------------------------------------------------------


@dataclass
class EncodedPostings:
    """One (field, term, segment) posting list, blocked + block-max metadata."""

    docs_count: int
    total_freq: int
    max_freq: int
    doc_ids_enc: bytes
    freqs_enc: bytes
    pos_enc: bytes  # empty when positions not indexed
    block_last_doc: np.ndarray  # int64[num_blocks]
    block_doc_off: np.ndarray  # int64[num_blocks] byte offset of block start in doc_ids_enc
    block_freq_off: np.ndarray  # int64[num_blocks]
    block_max_freq: np.ndarray  # int64[num_blocks]  (WAND block-max)


def encode_postings(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    positions: np.ndarray | None = None,
) -> EncodedPostings:
    """Encode sorted 1-based ``doc_ids`` + ``freqs`` (+ flattened ``positions``).

    ``positions`` is the concatenation of each doc's ascending position list;
    ``freqs`` gives the per-doc counts. Blocks are independent: each 128-doc
    chunk of doc deltas / freqs is its own VByte run so a reader can decode a
    single block from its byte offset (skip-list analogue).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    n = doc_ids.size
    if n == 0:
        raise ValueError("empty posting list")

    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    if n > 1 and deltas[1:].min() <= 0:
        raise ValueError("doc_ids must be strictly increasing")

    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    doc_chunks: list[bytes] = []
    freq_chunks: list[bytes] = []
    block_last = np.empty(nblocks, dtype=np.int64)
    block_maxf = np.empty(nblocks, dtype=np.int64)
    doc_off = np.zeros(nblocks, dtype=np.int64)
    freq_off = np.zeros(nblocks, dtype=np.int64)
    for i in range(nblocks):
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n)
        d = deltas[lo:hi].copy()
        if i > 0:
            # first delta of a block is relative to previous block's last doc
            d[0] = doc_ids[lo] - doc_ids[lo - 1]
        doc_chunks.append(vbyte_encode(d))
        freq_chunks.append(vbyte_encode(freqs[lo:hi]))
        block_last[i] = doc_ids[hi - 1]
        block_maxf[i] = freqs[lo:hi].max()
        if i + 1 < nblocks:
            doc_off[i + 1] = doc_off[i] + len(doc_chunks[-1])
            freq_off[i + 1] = freq_off[i] + len(freq_chunks[-1])

    pos_enc = b""
    if positions is not None and len(positions):
        pos = np.asarray(positions, dtype=np.int64)
        if pos.size != int(freqs.sum()):
            raise ValueError("positions length must equal sum(freqs)")
        # delta-encode within each doc: subtract previous position, but reset
        # at doc boundaries (first position of each doc stays absolute)
        pdelta = np.empty(pos.size, dtype=np.int64)
        pdelta[0] = pos[0]
        np.subtract(pos[1:], pos[:-1], out=pdelta[1:])
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(freqs[:-1], out=starts[1:])
        pdelta[starts] = pos[starts]
        pos_enc = vbyte_encode(pdelta)

    return EncodedPostings(
        docs_count=int(n),
        total_freq=int(freqs.sum()),
        max_freq=int(freqs.max()),
        doc_ids_enc=b"".join(doc_chunks),
        freqs_enc=b"".join(freq_chunks),
        pos_enc=pos_enc,
        block_last_doc=block_last,
        block_doc_off=doc_off,
        block_freq_off=freq_off,
        block_max_freq=block_maxf,
    )


def _vbyte_len(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized)."""
    a = np.asarray(values, dtype=np.uint64)
    n = np.ones(a.size, dtype=np.int64)
    for k in range(1, _MAX_VBYTE_LEN):
        n += (a >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    return n


def _encode_postings_core(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    term_bounds: np.ndarray,
    positions: np.ndarray | None = None,
) -> dict:
    """Shared whole-segment encode math → flat buffers + per-term offsets.

    All outputs are numpy buffers/offsets; presenters below slice them into
    Python lists (pandas kernels) or wrap them ZERO-COPY as Arrow offset
    arrays (the mapInArrow build path)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    term_bounds = np.asarray(term_bounds, dtype=np.int64)
    n = doc_ids.size
    T = term_bounds.size - 1
    starts = term_bounds[:-1]
    ends = term_bounds[1:]
    counts = ends - starts

    deltas = np.empty(n, dtype=np.int64)
    if n:
        deltas[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    deltas[starts] = doc_ids[starts]  # absolute at each term start
    doc_buf = vbyte_encode(deltas)
    freq_buf = vbyte_encode(freqs)
    dpre = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(_vbyte_len(deltas), out=dpre[1:])
    fpre = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(_vbyte_len(freqs), out=fpre[1:])

    total_freq = np.add.reduceat(freqs, starts) if n else np.empty(0, np.int64)
    max_freq = np.maximum.reduceat(freqs, starts) if n else np.empty(0, np.int64)

    # block starts: term_start + 128*j for each term (rows are contiguous, so
    # consecutive block-start indices delimit blocks exactly)
    nb = (counts + BLOCK_SIZE - 1) // BLOCK_SIZE
    first_block = np.zeros(T + 1, dtype=np.int64)
    np.cumsum(nb, out=first_block[1:])
    total_blocks = int(first_block[-1])
    term_of_block = np.repeat(np.arange(T), nb)
    j_in_term = np.arange(total_blocks) - first_block[term_of_block]
    bstart = starts[term_of_block] + BLOCK_SIZE * j_in_term
    bend = np.minimum(bstart + BLOCK_SIZE, ends[term_of_block])
    blk_last = doc_ids[bend - 1] if total_blocks else np.empty(0, np.int64)
    blk_maxf = np.maximum.reduceat(freqs, bstart) if total_blocks else np.empty(0, np.int64)
    blk_doff = dpre[bstart] - dpre[starts[term_of_block]]
    blk_foff = fpre[bstart] - fpre[starts[term_of_block]]

    core = {
        "T": T,
        "counts": counts,
        "total_freq": total_freq,
        "max_freq": max_freq,
        "doc_buf": doc_buf,
        "doc_bounds": dpre[term_bounds],
        "freq_buf": freq_buf,
        "freq_bounds": fpre[term_bounds],
        "first_block": first_block,
        "blk_last": blk_last,
        "blk_doff": blk_doff,
        "blk_foff": blk_foff,
        "blk_maxf": blk_maxf,
    }

    if positions is not None:
        pos = np.asarray(positions, dtype=np.int64)
        if pos.size != int(freqs.sum()):
            raise ValueError("positions length must equal sum(freqs)")
        ppre = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(freqs, out=ppre[1:])
        pdelta = np.empty(pos.size, dtype=np.int64)
        if pos.size:
            pdelta[0] = pos[0]
            np.subtract(pos[1:], pos[:-1], out=pdelta[1:])
        row_starts = ppre[:-1]
        pdelta[row_starts] = pos[row_starts]  # absolute at each doc start
        pos_buf = vbyte_encode(pdelta)
        plen_pre = np.zeros(pos.size + 1, dtype=np.int64)
        np.cumsum(_vbyte_len(pdelta), out=plen_pre[1:])
        core["pos_buf"] = pos_buf
        core["pos_bounds"] = plen_pre[ppre[term_bounds]]
    else:
        core["pos_buf"] = b""
        core["pos_bounds"] = np.zeros(T + 1, dtype=np.int64)
    return core


def encode_postings_batch(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    term_bounds: np.ndarray,
    positions: np.ndarray | None = None,
) -> dict[str, list]:
    """Encode MANY posting lists at once — the whole-segment flush.

    ``doc_ids``/``freqs`` are the concatenation of every term's postings,
    sorted by (term, doc); ``term_bounds`` (len T+1) delimits terms;
    ``positions`` is the matching flattened position stream (token order
    (term, doc, pos)). Semantically identical to calling
    :func:`encode_postings` per term (property-tested). List presenter for
    pandas kernels; the build path uses :func:`encode_postings_batch_arrow`.
    """
    c = _encode_postings_core(doc_ids, freqs, term_bounds, positions)
    T = c["T"]
    db, fb, pb = c["doc_bounds"], c["freq_bounds"], c["pos_bounds"]
    first = c["first_block"]
    return {
        "docs_count": c["counts"].tolist(),
        "total_freq": c["total_freq"].tolist(),
        "max_freq": c["max_freq"].tolist(),
        "doc_ids_enc": [c["doc_buf"][db[t] : db[t + 1]] for t in range(T)],
        "freqs_enc": [c["freq_buf"][fb[t] : fb[t + 1]] for t in range(T)],
        "pos_enc": [c["pos_buf"][pb[t] : pb[t + 1]] for t in range(T)],
        "block_last_doc": [c["blk_last"][first[t] : first[t + 1]].tolist() for t in range(T)],
        "block_doc_off": [c["blk_doff"][first[t] : first[t + 1]].tolist() for t in range(T)],
        "block_freq_off": [c["blk_foff"][first[t] : first[t + 1]].tolist() for t in range(T)],
        "block_max_freq": [c["blk_maxf"][first[t] : first[t + 1]].tolist() for t in range(T)],
    }


def _binary_arrow(buf, bounds: np.ndarray, n: int, what: str) -> "object":
    """Zero-copy Arrow binary array over one shared byte buffer + per-row
    offset bounds (len n+1). Shared by the postings and value-stream
    encoders; guards the int32 offset limit of ``pa.binary()``."""
    import pyarrow as pa

    if bounds.size and int(bounds[-1]) >= 2**31:
        # pa.binary() carries int32 offsets; silently wrapped offsets would
        # write a corrupt index. Fail loud — the fix is more/smaller
        # segments (num_segments / maxPartitionBytes), same as sizing the
        # reference's segment-flush threshold.
        raise ValueError(
            f"segment {what} column exceeds 2 GiB ({int(bounds[-1])} bytes): "
            "increase num_segments so each segment's encoded streams stay "
            "under the Arrow binary 2 GiB offset limit"
        )
    data = pa.py_buffer(buf if isinstance(buf, bytes) else bytes(buf))
    offsets = pa.py_buffer(bounds.astype(np.int32))
    return pa.Array.from_buffers(pa.binary(), n, [None, offsets, data])


def encode_postings_batch_arrow(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    term_bounds: np.ndarray,
    positions: np.ndarray | None = None,
) -> dict:
    """Arrow presenter of the whole-segment encode: binary/list columns are
    built ZERO-COPY from the shared buffers + per-term offset arrays
    (``pa.Array.from_buffers`` / ``ListArray.from_arrays``) — no per-term
    Python slicing at all. This is what the mapInArrow build kernel emits."""
    import pyarrow as pa

    c = _encode_postings_core(doc_ids, freqs, term_bounds, positions)
    T = c["T"]

    def bin_arr(buf, bounds: np.ndarray) -> "pa.Array":
        return _binary_arrow(buf, bounds, T, "postings")

    def list_arr(values: np.ndarray, offsets: np.ndarray) -> "pa.Array":
        return pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32), pa.int32()),
            pa.array(values.astype(np.int64), pa.int64()),
        )

    first = c["first_block"]
    return {
        "docs_count": pa.array(c["counts"].astype(np.int32), pa.int32()),
        "total_freq": pa.array(c["total_freq"], pa.int64()),
        "max_freq": pa.array(c["max_freq"].astype(np.int32), pa.int32()),
        "doc_ids_enc": bin_arr(c["doc_buf"], c["doc_bounds"]),
        "freqs_enc": bin_arr(c["freq_buf"], c["freq_bounds"]),
        "pos_enc": bin_arr(c["pos_buf"], c["pos_bounds"]),
        "block_last_doc": list_arr(c["blk_last"], first),
        "block_doc_off": list_arr(c["blk_doff"], first),
        "block_freq_off": list_arr(c["blk_foff"], first),
        "block_max_freq": list_arr(c["blk_maxf"], first),
    }


def _gather_block_ranges(
    buf: np.ndarray, offs: np.ndarray, blocks: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(selected bytes, per-block byte lengths) for a sorted block subset —
    ONE fancy-index gather instead of a per-block Python loop, so a
    candidate-driven decode touching thousands of blocks stays vectorized."""
    offs = np.asarray(offs, dtype=np.int64)
    ends = np.empty(offs.size, dtype=np.int64)
    ends[:-1] = offs[1:]
    ends[-1] = buf.size
    los = offs[blocks]
    lens = ends[blocks] - los
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8), lens
    out_starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=out_starts[1:])
    pos = np.arange(total, dtype=np.int64) - np.repeat(out_starts, lens) + np.repeat(los, lens)
    return buf[pos], lens


def decode_doc_ids(
    doc_ids_enc: bytes,
    block_doc_off: np.ndarray,
    block_last_doc: np.ndarray,
    blocks: np.ndarray | None = None,
) -> np.ndarray:
    """Decode doc ids; ``blocks`` selects a subset of block indices (WAND skip)."""
    buf = np.frombuffer(doc_ids_enc, dtype=np.uint8)
    if blocks is None:
        deltas = vbyte_decode(buf).astype(np.int64)
        return np.cumsum(deltas)
    blocks = np.asarray(blocks, dtype=np.int64)
    if blocks.size == 0:
        return np.empty(0, dtype=np.int64)
    sel, lens = _gather_block_ranges(buf, block_doc_off, blocks)
    deltas = vbyte_decode(sel).astype(np.int64)
    # per-block value counts = varint terminators (high bit clear) per slice;
    # every block is non-empty so the reduceat boundaries are strictly valid
    bnd = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=bnd[1:])
    counts = np.add.reduceat(((sel & 0x80) == 0).astype(np.int64), bnd)
    v_starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=v_starts[1:])
    csum = np.cumsum(deltas)
    last = np.asarray(block_last_doc, dtype=np.int64)
    base = np.where(blocks > 0, last[blocks - 1], 0)
    carry = csum[v_starts] - deltas[v_starts]  # stream cumsum entering each block
    return csum + np.repeat(base - carry, counts)


def decode_freqs(
    freqs_enc: bytes,
    block_freq_off: np.ndarray,
    blocks: np.ndarray | None = None,
) -> np.ndarray:
    buf = np.frombuffer(freqs_enc, dtype=np.uint8)
    if blocks is None:
        return vbyte_decode(buf).astype(np.int64)
    blocks = np.asarray(blocks, dtype=np.int64)
    if blocks.size == 0:
        return np.empty(0, dtype=np.int64)
    sel, _ = _gather_block_ranges(buf, block_freq_off, blocks)
    return vbyte_decode(sel).astype(np.int64)


def _flat_bytes(column) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated bytes, per-row byte bounds of len rows+1) of a binary
    column: a pyarrow binary array is read zero-copy from its buffers, any
    other sequence of byte strings (nulls as empty) is joined."""
    import pyarrow as pa

    if isinstance(column, pa.ChunkedArray):
        column = column.combine_chunks()
    if isinstance(column, pa.Array):
        n = len(column)
        _, offs, data = column.buffers()
        if data is None:
            return np.empty(0, np.uint8), np.zeros(n + 1, np.int64)
        odt = np.int64 if pa.types.is_large_binary(column.type) else np.int32
        bounds = np.frombuffer(offs, odt, n + 1, column.offset * np.dtype(odt).itemsize)
        bounds = bounds.astype(np.int64)
        buf = np.frombuffer(data, np.uint8)[bounds[0] : bounds[-1]]
        return buf, bounds - bounds[0]
    rows = [b or b"" for b in column]
    bounds = np.zeros(len(rows) + 1, np.int64)
    np.cumsum(np.fromiter(map(len, rows), np.int64, len(rows)), out=bounds[1:])
    return np.frombuffer(b"".join(rows), np.uint8), bounds


def decode_postings(doc_ids_enc, freqs_enc) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY posting lists at once — the read-side twin of
    :func:`encode_postings_batch`: every row's ``doc_ids_enc`` in one
    :func:`vbyte_decode` call and every row's ``freqs_enc`` in another (a
    column-at-a-time decode; the per-call cost no longer lands on each short
    list). Each argument is a pyarrow binary array or a sequence of byte
    strings, one row per posting list.

    Returns ``(ids, tfs, offsets)``: the flat doc ids and freqs, and the
    per-row value bounds (len rows+1), so row r is
    ``ids[offsets[r]:offsets[r + 1]]``. Only a row's first delta is absolute
    (block starts are relative to the previous block's last doc), so a
    cumsum restarted at each row start gives the doc ids."""
    dbuf, dbounds = _flat_bytes(doc_ids_enc)
    fbuf, _ = _flat_bytes(freqs_enc)
    # values per row = varint terminators (high bit clear) in its bytes
    vpre = np.zeros(dbuf.size + 1, np.int64)
    np.cumsum((dbuf & 0x80) == 0, out=vpre[1:])
    offsets = vpre[dbounds]
    deltas = vbyte_decode(dbuf).astype(np.int64)
    tfs = vbyte_decode(fbuf).astype(np.int64)
    ids = np.cumsum(deltas)
    if ids.size:
        starts = offsets[:-1]
        carry = ids[np.minimum(starts, ids.size - 1)] - deltas[np.minimum(starts, ids.size - 1)]
        ids -= np.repeat(carry, np.diff(offsets))
    return ids, tfs, offsets


def encode_value_stream_arrow(
    values: np.ndarray, freqs: np.ndarray, term_bounds: np.ndarray
) -> "object":
    """Per-term vbyte buffers of ABSOLUTE per-occurrence values — the PAY
    payload stream codec (formats_10.cpp:345-353 `.pay`). Unlike positions,
    payloads are arbitrary non-negative ints with no monotonicity, so no
    delta step (a delta could be negative, which the unsigned varint cannot
    carry). ``values`` is the flattened (term, doc, occurrence)-ordered
    stream, ``freqs`` the per-(term, doc) occurrence counts, ``term_bounds``
    the (len T+1) posting-row bounds per term. Returns a zero-copy Arrow
    binary array of one buffer per term; decode with :func:`vbyte_decode`."""
    values = np.asarray(values, dtype=np.int64)
    if values.size and int(values.min()) < 0:
        raise ValueError("payload values must be non-negative")
    freqs = np.asarray(freqs, dtype=np.int64)
    term_bounds = np.asarray(term_bounds, dtype=np.int64)
    if values.size != int(freqs.sum()):
        raise ValueError("values length must equal sum(freqs)")
    T = term_bounds.size - 1
    ppre = np.zeros(freqs.size + 1, dtype=np.int64)
    np.cumsum(freqs, out=ppre[1:])
    tok_bounds = ppre[term_bounds]
    buf = vbyte_encode(values)
    lpre = np.zeros(values.size + 1, dtype=np.int64)
    np.cumsum(_vbyte_len(values), out=lpre[1:])
    byte_bounds = lpre[tok_bounds]
    return _binary_arrow(buf, byte_bounds, T, "payload")


def decode_positions(pos_enc: bytes | np.ndarray, freqs: np.ndarray) -> np.ndarray:
    """Decode the flattened per-doc delta positions back to absolute positions.
    The stream may span several posting lists (their bytes concatenated,
    ``freqs`` likewise): each doc's first position is absolute."""
    if len(pos_enc) == 0:
        return np.empty(0, dtype=np.int64)
    pdelta = vbyte_decode(pos_enc).astype(np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    # absolute = per-doc cumsum; do a global cumsum then correct at doc starts
    starts = np.zeros(freqs.size, dtype=np.int64)
    np.cumsum(freqs[:-1], out=starts[1:])
    csum = np.cumsum(pdelta)
    # value carried into each doc's start that must be removed from the whole doc
    carry = np.zeros(pdelta.size, dtype=np.int64)
    carry[starts] = csum[starts] - pdelta[starts]
    # propagate each doc's carry across the doc via cumulative max of start idx
    doc_idx = np.repeat(np.arange(freqs.size), freqs)
    return csum - carry[starts][doc_idx]
