"""Posting-list codec: delta + varbyte, vectorized NumPy.

North-rule extension — the reference stores raw interleaved u32 (docId, tf)
pairs (src/lexicon.cpp:122-126); we store, per chunk of up to CHUNK_SIZE
postings (sorted by doc_id):

    blob = varbyte(doc_gaps) || varbyte(tf) || varbyte(doc_len)

with the two stream-boundary offsets kept as chunk-row columns. ``doc_len`` is
denormalized into the blob (index-time join with the docs table) so the query
path never joins postings against docs — the Spark analog of the reference's
O(1) ``seg.docs[docId].doc_len`` array index (src/api_engine.cpp:477).

Varbyte layout: little-endian 7-bit groups, MSB set on every byte except the
last of a value (standard v-byte, public IR technique; e.g. Manning/Raghavan/
Schütze IIR §5.3). Both encode and decode are vectorized — the only Python
loops are over the max byte-width (≤10 iterations), never over postings.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "varbyte_encode",
    "varbyte_encode_all",
    "varbyte_decode",
    "encode_chunk",
    "decode_chunk",
    "decode_chunks_concat",
]


def varbyte_encode(vals: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative ints to a v-byte stream."""
    return varbyte_encode_all(vals)[0].tobytes()


def varbyte_encode_all(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a whole batch in ONE vectorized pass.

    Returns (byte_stream: uint8[], value_start_offsets: int64[len+1]) so a
    caller can slice out any contiguous value range as a valid v-byte stream
    — the per-chunk encoder then costs one memoryview slice instead of ~20
    NumPy kernel launches per chunk."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    nb = np.ones(vals.size, dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        nb += v > 0
        v >>= np.uint64(7)
    offs = np.zeros(vals.size + 1, dtype=np.int64)
    np.cumsum(nb, out=offs[1:])
    out = np.zeros(int(offs[-1]), dtype=np.uint8)
    starts = offs[:-1]
    rem = vals.copy()
    for j in range(int(nb.max())):
        mask = nb > j
        pos = starts[mask] + j
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = np.where(nb[mask] - 1 == j, 0, 0x80).astype(np.uint8)
        out[pos] = byte | cont
        rem[mask] >>= np.uint64(7)
    return out, offs


def varbyte_decode(buf: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Decode a v-byte stream to a uint64 array (all values in the stream)."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # dominant case in practice — dense doc-gap streams (gap 1) and small
    # tf/doc_len values encode in ONE byte each; when the whole stream is
    # single-byte the bytes ARE the values (top bit clear), skipping the
    # boundary bookkeeping entirely (~5× on the serving tier's hot decode)
    if is_last.all():
        return b.astype(np.uint64)
    ends = np.nonzero(is_last)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    nb = ends - starts + 1
    max_nb = int(nb.max())
    if max_nb == 2:
        # mixed 1-2 byte streams (doc_len, mid-size gaps): both byte-count
        # branches computed vectorized over VALUES (not bytes) and selected
        # with where — no repeat/reduceat over the byte stream
        last = b[ends].astype(np.uint64)
        prev = b[ends - 1] & np.uint8(0x7F)  # garbage where nb==1, masked out
        return np.where(nb == 1, last, (last << np.uint64(7)) | prev)
    if max_nb <= 9:
        # general vectorized path: each byte's 7 payload bits shifted into
        # place, then one C segment-sum per value (bit groups are disjoint,
        # so sum == or). Replaces the per-byte-position masked loop — ~4×
        # on the mixed 1-2 byte doc_len streams the serving tier decodes.
        # ≤9 bytes ⇒ shifts ≤56+7 < 64 stay defined; 10-byte encodings
        # (full uint64 range) take the masked loop below.
        pos_in_val = np.arange(b.size, dtype=np.int64) - np.repeat(starts, nb)
        byte_val = np.left_shift((b & np.uint8(0x7F)).astype(np.uint64),
                                 (7 * pos_in_val).astype(np.uint64))
        return np.add.reduceat(byte_val, starts)
    vals = np.zeros(ends.size, dtype=np.uint64)
    for j in range(max_nb):
        mask = nb > j
        pos = starts[mask] + j
        vals[mask] |= (b[pos] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return vals


def encode_chunk(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> tuple[bytes, int, int]:
    """Encode one posting chunk (doc_ids strictly ascending).

    Returns (blob, tf_offset, dl_offset): byte offsets where the tf / doc_len
    streams start inside the blob.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    gaps = np.empty_like(doc_ids)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    g = varbyte_encode(gaps)
    t = varbyte_encode(tfs)
    d = varbyte_encode(dls)
    return g + t + d, len(g), len(g) + len(t)


def decode_chunk(
    blob: bytes | memoryview, tf_off: int, dl_off: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one chunk → (doc_ids:int64, tfs:int64, dls:int64)."""
    mv = memoryview(blob)
    gaps = varbyte_decode(mv[:tf_off])
    doc_ids = np.cumsum(gaps, dtype=np.int64)
    tfs = varbyte_decode(mv[tf_off:dl_off]).astype(np.int64)
    dls = varbyte_decode(mv[dl_off:]).astype(np.int64)
    return doc_ids, tfs, dls


def decode_chunks_concat(
    blobs, tf_offs, dl_offs, counts
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY chunks in three vectorized passes (one per stream) →
    concatenated (doc_ids, tfs, dls). ``counts`` = postings per chunk (the
    chunk-row ``count`` column) locates segment boundaries so the gap
    cumsum can be reset per chunk. ~chunk-count× fewer NumPy kernel launches
    than per-chunk decode_chunk — the serving tier's hot decode path."""
    if len(blobs) == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    g = b"".join(memoryview(b)[:to] for b, to in zip(blobs, tf_offs))
    t = b"".join(memoryview(b)[to:do]
                 for b, to, do in zip(blobs, tf_offs, dl_offs))
    d = b"".join(memoryview(b)[do:] for b, do in zip(blobs, dl_offs))
    gaps = varbyte_decode(np.frombuffer(g, dtype=np.uint8)).astype(np.int64)
    tfs = varbyte_decode(np.frombuffer(t, dtype=np.uint8)).astype(np.int64)
    dls = varbyte_decode(np.frombuffer(d, dtype=np.uint8)).astype(np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    cum = np.cumsum(gaps)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # per-segment cumsum: subtract the running total at each chunk start
    # (gaps[start] is the chunk's absolute first doc id)
    corr = np.zeros(len(counts), dtype=np.int64)
    corr[1:] = cum[starts[1:] - 1]
    doc_ids = cum - np.repeat(corr, counts)
    return doc_ids, tfs, dls
