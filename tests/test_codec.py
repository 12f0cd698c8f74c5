"""Posting codec, format v5: the vectorized encoder and decoders against an
independent pure-Python reference decoder of the blob layout
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


def ref_decode_chunk(blob: bytes, tf_off: int, dl_off: int, count: int,
                     doc_lo: int) -> tuple[list[int], list[int], list[int]]:
    """One chunk, straight from the layout: varbyte gaps from doc_lo,
    varbyte tf, then FOR doc_len (u32 base, u8 width, bit loop)."""
    gaps = ref_varbyte(blob[:tf_off])
    tfs = ref_varbyte(blob[tf_off:dl_off])
    for_bytes = blob[dl_off:]
    base = int.from_bytes(for_bytes[:4], "little")
    width = for_bytes[4]
    packed = for_bytes[5:]
    assert len(packed) == (count * width + 7) // 8
    dls = []
    for i in range(count):
        v = 0
        for j in range(width):
            bit = i * width + j
            v |= ((packed[bit // 8] >> (bit % 8)) & 1) << j
        dls.append(base + v)
    ids, cur = [], doc_lo
    for g in gaps:
        cur += g
        ids.append(cur)
    assert len(ids) == len(tfs) == count
    return ids, tfs, dls


def encode(chunks):
    """[(ids, tfs, dls)] → (blobs, tf_off, dl_off, counts, doc_los)."""
    counts = np.array([len(c[0]) for c in chunks], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    cat = [np.concatenate([np.asarray(c[i], dtype=np.int64) for c in chunks])
           for i in range(3)]
    blobs, tfo, dlo = encode_chunks(*cat, starts)
    return blobs, tfo, dlo, counts, cat[0][starts]


def check_against_reference(chunks):
    blobs, tfo, dlo, counts, doc_los = encode(chunks)
    assert len(blobs) == len(chunks)
    for i, (ids, tfs, dls) in enumerate(chunks):
        got = ref_decode_chunk(blobs[i].as_py(), int(tfo[i]), int(dlo[i]),
                               int(counts[i]), int(doc_los[i]))
        assert got == (list(ids), list(tfs), list(dls))
        assert blobs[i].as_py()[0] == 0  # first gap is taken from doc_lo
    g_ids, g_tfs, g_dls = decode_chunks_concat(blobs, tfo, dlo, counts,
                                               doc_los)
    assert g_ids.dtype == g_tfs.dtype == g_dls.dtype == np.int64
    assert g_ids.tolist() == [d for c in chunks for d in c[0]]
    assert g_tfs.tolist() == [t for c in chunks for t in c[1]]
    assert g_dls.tolist() == [d for c in chunks for d in c[2]]
    assert decode_doc_ids(blobs, tfo, counts, doc_los).tolist() \
        == g_ids.tolist()
    # a plain list of bytes decodes the same as the Arrow array
    l_ids, _, l_dls = decode_chunks_concat(blobs.to_pylist(), tfo, dlo,
                                           counts, doc_los)
    assert l_ids.tolist() == g_ids.tolist()
    assert l_dls.tolist() == g_dls.tolist()
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
    tfs = draw(st.lists(st.integers(1, 2**16), min_size=n, max_size=n))
    width = draw(st.sampled_from([0, 1, 3, 9, 17, 31]))
    base = draw(st.integers(0, 2**31 - 1 - (2**width - 1)))
    dls = draw(st.lists(st.integers(base, base + 2**width - 1),
                        min_size=n, max_size=n))
    return ids, tfs, dls


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
    """Single-posting chunks at doc_lo 0 and near 2^62, a width-0 chunk
    (all doc_len equal: header only) and a width-31 chunk (doc_len
    2^31−1), all in one decode call."""
    chunks = [
        ([0], [1], [7]),
        ([2**62 + 5], [3], [2**31 - 1]),
        ([10, 11, 12, 40], [1, 2, 3, 4], [300, 300, 300, 300]),
        ([2**62 - 2, 2**62 - 1, 2**62], [9, 8, 7], [1, 2**31 - 1, 5]),
    ]
    blobs = check_against_reference(chunks)
    _, tfo, dlo, _, _ = encode(chunks)
    widths = [blobs[i].as_py()[int(dlo[i]) + 4] for i in range(len(chunks))]
    assert widths == [0, 0, 0, 31]
    assert len(blobs[2].as_py()) == int(dlo[2]) + 5  # width 0: no payload
    z = decode_chunks_concat([], [], [], [], [])
    assert all(len(a) == 0 for a in z)
    assert len(decode_doc_ids([], [], [], [])) == 0


def test_chunk_compression_beats_raw():
    # dense doc ids → gaps ~1 → ~2 bytes/posting plus the packed doc_len
    # spread, vs 8 raw (the reference stores 2×u32)
    rng = np.random.default_rng(3)
    ids = np.arange(10_000, 20_000, 2, dtype=np.int64)
    tfs = np.ones(len(ids), dtype=np.int64)
    dls = rng.integers(300, 800, len(ids))
    blobs, tfo, dlo = encode_chunks(ids, tfs, dls, [0])
    blob = blobs[0].as_py()
    assert len(blob) < len(ids) * 8
    # 500 distinct lengths need 9 bits each, not varbyte's 2 bytes
    assert len(blob) - int(dlo[0]) == 5 + (len(ids) * 9 + 7) // 8


def test_check_index_format_refuses_v4(tmp_path):
    from nextsearch_api_spark.operators.build import FORMAT_VERSION
    from nextsearch_api_spark.operators.wand import check_index_format

    assert FORMAT_VERSION == 7
    path = tmp_path / "stats.json"
    path.write_text(json.dumps({"format": 4, "N": 1, "avgdl": 1.0}))
    with pytest.raises(ValueError, match="format 4.*rebuild the index"):
        check_index_format(json.loads(path.read_text()), str(path))
    check_index_format({"format": 7}, str(path))


def test_check_index_format_refuses_v5(tmp_path):
    """v5 chunk rows carry sum_tf/max_tf/min_dl and a lexicon cf and
    max_impact, and a v5 index built by compact_deltas can hold max_impact
    values from an older avgdl: a v6 engine refuses it."""
    from nextsearch_api_spark.operators.wand import check_index_format

    path = tmp_path / "stats.json"
    path.write_text(json.dumps({"format": 5, "N": 1, "avgdl": 1.0,
                                "impact_avgdl": 1.0}))
    with pytest.raises(ValueError, match="format 5.*rebuild the index"):
        check_index_format(json.loads(path.read_text()), str(path))


def test_check_index_format_refuses_v6(tmp_path):
    """A v6 index has no doc store beside its Parquet docs, and its docs
    row groups were sized for keyed Parquet reads: a v7 engine refuses it
    rather than hydrate from it."""
    from nextsearch_api_spark.operators.wand import check_index_format

    path = tmp_path / "stats.json"
    path.write_text(json.dumps({"format": 6, "N": 1, "avgdl": 1.0}))
    with pytest.raises(ValueError, match="format 6.*rebuild the index"):
        check_index_format(json.loads(path.read_text()), str(path))
