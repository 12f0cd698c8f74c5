"""Posting codec, format v8: the vectorized encoder and decoders against an
independent pure-Python reference decoder of the two-stream blob layout
(functions/codec.py docstring)."""

import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nextsearch_api_spark.functions.codec import (
    decode_chunks_concat, decode_doc_ids, encode_chunks, varbyte_decode,
    varbyte_encode,
)


def ref_varbyte(buf: bytes) -> list[int]:
    """Byte loop: 7 payload bits per byte, low group first, MSB = more."""
    vals, cur, shift = [], 0, 0
    for byte in buf:
        cur |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            vals.append(cur)
            cur, shift = 0, 0
    assert shift == 0, "stream ends inside a value"
    return vals


def ref_decode_chunk(blob: bytes, tf_off: int, count: int,
                     doc_lo: int) -> tuple[list[int], list[int]]:
    """One chunk, straight from the layout: varbyte gaps from doc_lo, then
    varbyte tf to the end of the blob."""
    gaps = ref_varbyte(blob[:tf_off])
    tfs = ref_varbyte(blob[tf_off:])
    ids, cur = [], doc_lo
    for g in gaps:
        cur += g
        ids.append(cur)
    assert len(ids) == len(tfs) == count
    return ids, tfs


def encode(chunks):
    """[(ids, tfs)] → (blobs, tf_off, counts, doc_los)."""
    counts = np.array([len(c[0]) for c in chunks], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    cat = [np.concatenate([np.asarray(c[i], dtype=np.int64) for c in chunks])
           for i in range(2)]
    blobs, tfo = encode_chunks(*cat, starts)
    return blobs, tfo, counts, cat[0][starts]


def check_against_reference(chunks):
    blobs, tfo, counts, doc_los = encode(chunks)
    assert len(blobs) == len(chunks)
    for i, (ids, tfs) in enumerate(chunks):
        got = ref_decode_chunk(blobs[i].as_py(), int(tfo[i]), int(counts[i]),
                               int(doc_los[i]))
        assert got == (list(ids), list(tfs))
        assert blobs[i].as_py()[0] == 0  # first gap is taken from doc_lo
    g_ids, g_tfs = decode_chunks_concat(blobs, tfo, counts, doc_los)
    assert g_ids.dtype == g_tfs.dtype == np.int64
    assert g_ids.tolist() == [d for c in chunks for d in c[0]]
    assert g_tfs.tolist() == [t for c in chunks for t in c[1]]
    assert decode_doc_ids(blobs, tfo, counts, doc_los).tolist() \
        == g_ids.tolist()
    # a plain list of bytes decodes the same as the Arrow array, and so
    # does a sliced Arrow array (a non-zero array offset)
    l_ids, l_tfs = decode_chunks_concat(blobs.to_pylist(), tfo, counts,
                                        doc_los)
    assert l_ids.tolist() == g_ids.tolist()
    assert l_tfs.tolist() == g_tfs.tolist()
    if len(chunks) > 1:
        s_ids, s_tfs = decode_chunks_concat(blobs.slice(1), tfo[1:],
                                            counts[1:], doc_los[1:])
        assert s_ids.tolist() == [d for c in chunks[1:] for d in c[0]]
        assert s_tfs.tolist() == [t for c in chunks[1:] for t in c[1]]
    return blobs


@st.composite
def chunk(draw):
    doc_lo = draw(st.one_of(
        st.sampled_from([0, 2**62 - 3, 2**62, 2**62 + 2**60 - 10**6]),
        st.integers(0, 2**40)))
    n = draw(st.integers(1, 60))
    gaps = draw(st.lists(st.integers(1, 2**20), min_size=n - 1,
                         max_size=n - 1))
    ids = (doc_lo + np.concatenate(([0], np.cumsum(gaps, dtype=np.int64)))
           ).tolist()
    tfs = draw(st.lists(st.integers(1, 2**31 - 1), min_size=n, max_size=n))
    return ids, tfs


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=60, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


def test_varbyte_single_byte_values():
    arr = np.arange(0, 128, dtype=np.uint64)
    enc = varbyte_encode(arr)
    assert len(enc) == 128  # every value < 2^7 → exactly one byte
    assert np.array_equal(varbyte_decode(enc), arr)
    assert ref_varbyte(enc) == arr.tolist()


@given(chunk())
@settings(max_examples=60, deadline=None)
def test_chunk_roundtrip(c):
    check_against_reference([c])


@given(st.lists(chunk(), min_size=1, max_size=8))
@settings(max_examples=40, deadline=None)
def test_decode_chunks_concat_matches_per_chunk(chunks):
    """One decode call over many chunks of different widths, doc_lo and
    sizes equals the reference decode of each chunk."""
    check_against_reference(chunks)


def test_chunk_edge_layouts():
    """Single-posting chunks at doc_lo 0 and near 2^62, a chunk of
    one-byte gaps and tfs and a chunk of multi-byte values, all in one
    decode call: each blob is its gap bytes then its tf bytes, nothing
    after them."""
    chunks = [
        ([0], [1]),
        ([2**62 + 5], [2**31 - 1]),
        ([10, 11, 12, 40], [1, 2, 3, 4]),
        ([2**62 - 2**40, 2**62 - 1, 2**62], [9, 300, 70000]),
    ]
    blobs = check_against_reference(chunks)
    _, tfo, _, _ = encode(chunks)
    assert tfo.tolist() == [1, 1, 4, 1 + 6 + 1]
    assert [len(b) for b in blobs.to_pylist()] == [2, 6, 8, 8 + 1 + 2 + 3]
    z = decode_chunks_concat([], [], [], [])
    assert len(z) == 2 and all(len(a) == 0 for a in z)
    assert len(decode_doc_ids([], [], [], [])) == 0


def test_chunk_compression_beats_raw():
    # dense doc ids → gaps ~1 → one byte per gap and one per small tf, vs
    # 8 raw (the reference stores 2×u32); no doc_len bytes at all
    ids = np.arange(10_000, 20_000, 2, dtype=np.int64)
    tfs = np.ones(len(ids), dtype=np.int64)
    blobs, tfo = encode_chunks(ids, tfs, [0])
    blob = blobs[0].as_py()
    assert int(tfo[0]) == len(ids)
    assert len(blob) == 2 * len(ids)


@pytest.mark.parametrize("fmt", [4, 5, 6, 7, 8])
def test_check_index_format_refuses_old_formats(tmp_path, fmt):
    """An engine reads format 9 only, and refuses older indexes with
    "rebuild the index": v5 chunk rows carry sum_tf/max_tf/min_dl and a
    lexicon cf and max_impact, and a v5 index built by compact_deltas can
    hold max_impact values from an older avgdl; a v6 index has no doc store
    beside its Parquet docs; a v7 index carries a doc_len stream in every
    blob and a ``dl_off`` column; a v8 index stores ``uid`` in its docs
    and keys every row of its doc store's twins by a ``doc_id`` column."""
    from nextsearch_api_spark.operators.build import FORMAT_VERSION
    from nextsearch_api_spark.operators.query import check_index_format

    assert FORMAT_VERSION == 9
    path = tmp_path / "stats.json"
    path.write_text(json.dumps({"format": fmt, "N": 1, "avgdl": 1.0}))
    with pytest.raises(ValueError, match=f"format {fmt}.*rebuild the index"):
        check_index_format(json.loads(path.read_text()), str(path))
    check_index_format({"format": 9}, str(path))
