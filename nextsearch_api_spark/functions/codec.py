"""Posting-list codec, postings format v8 — the only module that knows a
blob's layout.

The reference stores raw interleaved u32 (docId, tf) pairs
(src/lexicon.cpp:122-126). Here each postings row holds one chunk of up to
CHUNK_SIZE postings sorted by doc_id, with its doc-id range in the row's
``doc_lo``/``doc_hi`` columns and

    blob = varbyte(doc-id gaps) ‖ varbyte(tf)

``tf_off`` (a row column) is the byte offset where the tf stream starts;
it runs to the end of the blob. It is the only binary layout the build
writes: the segment build's doc lengths travel as chunks of the reserved
term '' in it too (operators/build.py:build_posting_chunks_segment).

* Doc-id gaps restart at every chunk: the first is taken from the row's
  ``doc_lo`` (so it is 0), each later one from the previous id. A chunk
  decodes from its own row, and a streamed id near 2^62 costs no 9-byte
  first gap.
* Varbyte: little-endian 7-bit groups, MSB set on every byte except the
  last of a value (standard v-byte; Manning/Raghavan/Schütze IIR §5.3).

Doc lengths are not in the blobs: BM25 reads them by doc id from the docs
component's doc store (functions/docstore.py:DocStore.doc_lens), the
reference's ``seg.docs[docId].doc_len`` (api_engine.cpp:477). Up to format
7 every blob carried a frame-of-reference doc_len stream, about 40% of the
raw blob bytes, which snappy barely compressed. It stayed inline while a
range group of the batch plan would have fetched lengths from scattered
docs row groups; the memory-mapped store answers a range with one offset
gather instead.

Encode and decode are vectorized over whole batches of chunks: the only
Python loops run over varbyte byte positions (≤ 10), never over chunks or
postings.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "varbyte_encode",
    "varbyte_encode_all",
    "varbyte_decode",
    "encode_chunks",
    "decode_doc_ids",
    "decode_chunks_concat",
]


def varbyte_encode(vals: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative ints to a v-byte stream."""
    return varbyte_encode_all(vals)[0].tobytes()


def varbyte_encode_all(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a whole batch in ONE vectorized pass.

    Returns (byte_stream: uint8[], value_start_offsets: int64[len+1]), so a
    caller can find the bytes of any contiguous value range."""
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
    # tf values encode in ONE byte each; when the whole stream is
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
        # mixed 1-2 byte streams (mid-size gaps): both byte-count branches
        # computed vectorized over VALUES (not bytes) and selected with
        # where — no repeat/reduceat over the byte stream
        last = b[ends].astype(np.uint64)
        prev = b[ends - 1] & np.uint8(0x7F)  # garbage where nb==1, masked out
        return np.where(nb == 1, last, (last << np.uint64(7)) | prev)
    if max_nb <= 9:
        # general vectorized path: each byte's 7 payload bits shifted into
        # place, then one C segment-sum per value (bit groups are disjoint,
        # so sum == or). ≤9 bytes ⇒ shifts ≤56+7 < 64 stay defined; 10-byte
        # encodings (full uint64 range) take the masked loop below.
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


def _segments(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat positions [starts[0], starts[0]+lens[0]) ++ [starts[1], …) …:
    a gather (or scatter) index for many byte ranges at once."""
    total = int(lens.sum())
    before = np.cumsum(lens) - lens
    return np.arange(total, dtype=np.int64) + np.repeat(starts - before, lens)


def encode_chunks(doc_ids, tfs, starts) -> "tuple[pa.Array, np.ndarray]":  # noqa: F821
    """Encode many chunks in one vectorized pass.

    ``doc_ids``/``tfs`` hold the postings of consecutive chunks; chunk i is
    rows [starts[i], starts[i+1]) (the last runs to the end), doc ids
    strictly ascending inside a chunk. Returns (blobs as an Arrow
    ``binary`` array, tf_off int32[]); each chunk's doc_lo is its first
    doc id."""
    import pyarrow as pa

    ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    n, k = ids.size, starts.size
    ends = np.append(starts[1:], n)
    if k and (starts[0] != 0 or (ends - starts <= 0).any()):
        raise ValueError("chunk starts must begin at 0 and be increasing")
    if not k:
        return pa.array([], type=pa.binary()), np.zeros(0, dtype=np.int32)

    gaps = np.zeros(n, dtype=np.int64)
    gaps[1:] = ids[1:] - ids[:-1]
    gaps[starts] = 0  # each chunk's first gap is taken from its doc_lo
    gbytes, goffs = varbyte_encode_all(gaps)
    tbytes, toffs = varbyte_encode_all(tfs)
    glen = goffs[ends] - goffs[starts]
    tlen = toffs[ends] - toffs[starts]

    offs = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(glen + tlen, out=offs[1:])
    if offs[-1] > np.iinfo(np.int32).max:
        raise ValueError("one batch of chunk blobs exceeds 2 GiB")
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    out[_segments(offs[:-1], glen)] = gbytes
    out[_segments(offs[:-1] + glen, tlen)] = tbytes
    blobs = pa.Array.from_buffers(
        pa.binary(), k,
        [None, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(out)])
    return blobs, glen.astype(np.int32)


def _blob_bytes(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Blobs (an Arrow binary array, or a sequence of bytes-like values) →
    (their bytes back to back as uint8[], the start offset of each blob in
    it and the end of the last). Zero-copy for an Arrow array."""
    import pyarrow as pa

    if not isinstance(blobs, pa.Array):
        blobs = pa.array([memoryview(b) for b in blobs], type=pa.binary())
    off_type = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
    _, obuf, dbuf = blobs.buffers()
    offs = np.frombuffer(obuf, dtype=off_type)[
        blobs.offset: blobs.offset + len(blobs) + 1].astype(np.int64)
    data = (np.frombuffer(dbuf, dtype=np.uint8)[offs[0]: offs[-1]]
            if dbuf is not None and len(blobs) else np.zeros(0, np.uint8))
    return data, offs - offs[0]


def _doc_ids(data, starts, tf_offs, counts, doc_los) -> np.ndarray:
    """Gap stream of every chunk → absolute doc ids (per-chunk cumsum from
    doc_lo). uint64 arithmetic: the running sum may wrap past 2^63 over
    many streamed-id chunks, the per-chunk difference never does."""
    gaps = varbyte_decode(data[_segments(starts, tf_offs)])
    cum = np.cumsum(gaps)
    first = np.cumsum(counts) - counts
    before = cum[first] - gaps[first]
    ids = cum - np.repeat(before - doc_los.astype(np.uint64), counts)
    return ids.view(np.int64)


def _chunk_args(*cols) -> list[np.ndarray]:
    return [np.asarray(c, dtype=np.int64) for c in cols]


def decode_doc_ids(blobs, tf_offs, counts, doc_los) -> np.ndarray:
    """Doc ids only of many chunks (the gap stream; tf bytes are never
    read) → int64[], chunks in input order."""
    tf_offs, counts, doc_los = _chunk_args(tf_offs, counts, doc_los)
    if not counts.size:
        return np.zeros(0, dtype=np.int64)
    data, offs = _blob_bytes(blobs)
    return _doc_ids(data, offs[:-1], tf_offs, counts, doc_los)


def decode_chunks_concat(
    blobs, tf_offs, counts, doc_los,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode many chunks at once → concatenated (doc_ids, tfs), both
    int64, chunks in input order. ``counts`` and ``doc_los`` are the chunk
    rows' ``count`` and ``doc_lo`` columns. One vectorized pass per
    stream — the serving tier's hot decode path."""
    tf_offs, counts, doc_los = _chunk_args(tf_offs, counts, doc_los)
    if not counts.size:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy()
    data, offs = _blob_bytes(blobs)
    starts = offs[:-1]
    doc_ids = _doc_ids(data, starts, tf_offs, counts, doc_los)
    tfs = varbyte_decode(
        data[_segments(starts + tf_offs, offs[1:] - starts - tf_offs)])
    return doc_ids, tfs.astype(np.int64)
