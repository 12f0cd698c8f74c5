"""The chunking rule both postings builders share, against a pure-Python
reference: group postings by (term, part) in doc order and split each group
every ``chunk_size`` rows. ``part`` is the id bucket ``seg`` in the segment
build and the doc block in the compactions' re-chunker; the segment build's
doc-length postings of the reserved term '' are chunked like any term."""

from collections import Counter

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from nextsearch_api_spark.config import BuildConfig
from nextsearch_api_spark.functions.codec import decode_chunks_concat
from nextsearch_api_spark.functions.text import kept_tokens_py
from nextsearch_api_spark.operators.build import (
    DOC_BLOCK, _rechunk, _segment_chunks, build_posting_chunks,
    build_posting_chunks_segment,
)

WORDS = ["ab", "cd", "the", "x", "hotterm", "zz9", "load", "a1"]


def reference_chunks(postings, chunk_size):
    """(term, part, doc_id, tf) postings → sorted chunk tuples
    (term, doc_lo, doc_hi, count, ((doc_id, tf), ...))."""
    groups: dict = {}
    for term, part, doc, tf in postings:
        groups.setdefault((term, part), []).append((doc, tf))
    out = []
    for (term, _), rows in groups.items():
        rows.sort()
        for i in range(0, len(rows), chunk_size):
            c = tuple(rows[i:i + chunk_size])
            out.append((term, c[0][0], c[-1][0], len(c), c))
    return sorted(out)


def chunk_tuples(table: pa.Table):
    """Chunk rows → the reference's tuples, postings decoded from blobs."""
    if not table.num_rows:
        return []
    counts = table.column("count").to_numpy()
    ids, tfs = decode_chunks_concat(
        table.column("blob").combine_chunks(), table.column("tf_off"),
        counts, table.column("doc_lo"))
    posts = list(zip(ids.tolist(), tfs.tolist()))
    first = np.cumsum(counts) - counts
    return sorted(
        (term, lo, hi, n, tuple(posts[f:f + n]))
        for term, lo, hi, n, f in zip(
            table.column("term").to_pylist(),
            table.column("doc_lo").to_pylist(),
            table.column("doc_hi").to_pylist(), counts.tolist(),
            first.tolist()))


def segment_postings(docs):
    """(doc_id, content, seg) docs → the segment build's postings: kept
    terms with their tf, plus (term '', tf = doc_len) for each doc that
    keeps a token."""
    out = []
    for doc, content, seg in docs:
        toks = kept_tokens_py(content)
        out += [(t, seg, doc, tf) for t, tf in Counter(toks).items()]
        if toks:
            out.append(("", seg, doc, len(toks)))
    return out


@st.composite
def split_docs(draw):
    """One input split: docs with contiguous seg ranges along doc_id (as
    the id assignment writes them), in shuffled row order, cut into
    batches."""
    n = draw(st.integers(1, 30))
    contents = draw(st.lists(
        st.lists(st.sampled_from(WORDS), max_size=12).map(" ;".join),
        min_size=n, max_size=n))
    ids = sorted(draw(st.sets(st.integers(1, 10_000), min_size=n,
                              max_size=n)))
    cuts = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    segs = np.cumsum(cuts).tolist()
    docs = list(zip(ids, contents, segs))
    docs = draw(st.permutations(docs))
    sizes = draw(st.lists(st.integers(1, 8), min_size=1, max_size=6))
    return docs, sizes


def batches_of(columns: dict, sizes):
    """Cut a table into record batches of the given sizes (the last runs to
    the end)."""
    t = pa.table(columns)
    out, at = [], 0
    for s in sizes:
        if at >= t.num_rows:
            break
        out += t.slice(at, s).to_batches()
        at += s
    out += t.slice(at).to_batches() if at < t.num_rows else []
    return out


@settings(max_examples=60, deadline=None)
@given(split_docs(), st.integers(1, 4))
def test_segment_chunker_matches_reference(split, chunk_size):
    docs, sizes = split
    batches = batches_of({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "content": pa.array([d[1] for d in docs], pa.string()),
        "seg": pa.array([d[2] for d in docs], pa.int32()),
    }, sizes)
    out = list(_segment_chunks(iter(batches), chunk_size))
    got = chunk_tuples(pa.Table.from_batches(out)) if out else []
    assert got == reference_chunks(segment_postings(docs), chunk_size)


@st.composite
def token_rows(draw):
    """One re-chunker partition: unique (doc_id, term) token rows over a
    few doc blocks, in shuffled order."""
    docs = draw(st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        min_size=1, max_size=25, unique=True))
    rows = []
    for blk, off in docs:
        doc = blk * DOC_BLOCK + off
        for term in sorted(draw(st.sets(st.sampled_from(WORDS), min_size=1))):
            rows.append((doc, term, draw(st.integers(1, 300))))
    rows = draw(st.permutations(rows))
    sizes = draw(st.lists(st.integers(1, 10), min_size=1, max_size=6))
    return rows, sizes


@settings(max_examples=60, deadline=None)
@given(token_rows(), st.integers(1, 4))
def test_rechunker_matches_reference(part, chunk_size):
    rows, sizes = part
    batches = batches_of({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "term": pa.array([r[1] for r in rows], pa.string()),
        "tf": pa.array([r[2] for r in rows], pa.int32()),
        "_blk": pa.array([r[0] // DOC_BLOCK for r in rows], pa.int64()),
    }, sizes)
    got = chunk_tuples(pa.Table.from_batches(
        list(_rechunk(iter(batches), chunk_size))))
    want = reference_chunks(
        [(t, d // DOC_BLOCK, d, tf) for d, t, tf in rows], chunk_size)
    assert got == want


def test_spark_builders_match_reference(spark):
    """Both builders' Spark plans emit the reference chunking: the segment
    build over three id buckets, each whole in one partition as the id
    assignment writes them, and the re-chunker over token rows whose terms
    span three doc blocks, spread over partitions by its (term, block)
    exchange."""
    cfg = BuildConfig(chunk_size=3)
    docs = [(d, " ".join(WORDS[(d * k) % len(WORDS)] for k in range(1, 9)),
             d // 7) for d in range(1, 22)]
    seg_df = spark.createDataFrame(
        docs, "doc_id long, content string, seg int").repartition(2, "seg")
    got = chunk_tuples(build_posting_chunks_segment(seg_df, cfg).toArrow())
    assert got == reference_chunks(segment_postings(docs), 3)

    rows = [(blk * DOC_BLOCK + off, term, 1 + (off * 7 + len(term)) % 200)
            for blk in range(3) for off in range(5)
            for term in WORDS[off % 3: off % 3 + 4]]
    tok_df = spark.createDataFrame(rows, "doc_id long, term string, tf int")
    got = chunk_tuples(build_posting_chunks(tok_df, cfg).toArrow())
    want = reference_chunks(
        [(t, d // DOC_BLOCK, d, tf) for d, t, tf in rows], 3)
    assert got == want
