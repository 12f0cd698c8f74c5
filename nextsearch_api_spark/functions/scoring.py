"""BM25 arithmetic and the one query-time read-and-rank path.

One copy of the reference's scoring math (src/api_engine.cpp:45-47, 444-495)
for every NumPy caller. Query time has one entry point,
:func:`rank_chunk_rows`: compressed chunk rows in, ranked top-k out. Two
callers in operators/query.py: the one driver-side rank call
(rank_on_driver — the serving tier, once per segment of an api.Engine,
and the batch tier's driver path) and every
doc-id range group of the batch tier's distributed plan. The
build and compaction use ``bm25_impact`` for block-max impacts
(operators/build.py). Both read doc lengths from the doc store
(functions/docstore.py:DocStore.doc_lens). ``oracle.py`` keeps its own
independent loop as the test reference.

Precision: 'f32' (default) computes idf and impact in float32 like the
reference, 'f64' in float64; per-doc sums are float64 either way, added in
query-term order.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np


def bm25_idf(N: int, df: np.ndarray, precision: str = "f32") -> np.ndarray:
    """idf = ln(1 + (N-df+0.5)/(df+0.5)) — reference api_engine.cpp:45-47."""
    if precision == "f32":
        df32 = df.astype(np.float32)
        return np.log(
            np.float32(1.0)
            + (np.float32(N) - df32 + np.float32(0.5)) / (df32 + np.float32(0.5))
        ).astype(np.float32)
    dfd = df.astype(np.float64)
    return np.log(1.0 + (float(N) - dfd + 0.5) / (dfd + 0.5))


def bm25_impact(tf, dl, k1: float, b: float, avgdl: float,
                precision: str = "f32") -> np.ndarray:
    """Per-posting impact tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl)) — reference
    api_engine.cpp:478-479 — in float32 ('f32') or float64 ('f64')."""
    dt = np.float32 if precision == "f32" else np.float64
    tf = np.asarray(tf, dtype=dt)
    dl = np.asarray(dl, dtype=dt)
    k1, b, avgdl, one = dt(k1), dt(b), dt(avgdl), dt(1.0)
    return tf * (k1 + one) / (tf + k1 * (one - b + b * (dl / avgdl)))


def topk_tiebroken(scores: np.ndarray, doc_ids: np.ndarray,
                   kk: int) -> np.ndarray:
    """Indices of the canonical top-kk by (score desc, doc_id asc).

    A bare ``argpartition(-scores, kk-1)[:kk]`` picks ARBITRARY members of a
    score tie straddling the k boundary — sorting the selection afterwards
    can't repair a wrong selection (seen at k=100 on a 40k-doc index: five
    docs tied at the boundary). Refine: everything strictly above the
    boundary score is in; remaining slots go to boundary-tied docs in
    ascending doc order (``doc_ids`` is ascending, so tie indices are
    already doc-ordered)."""
    part = np.argpartition(-scores, kk - 1)[:kk]
    thr = scores[part].min()
    above = np.nonzero(scores > thr)[0]
    ties = np.nonzero(scores == thr)[0]
    sel = np.concatenate((above, ties[: kk - above.size]))
    return sel[np.lexsort((doc_ids[sel], -scores[sel]))]


def rank_postings(
    postings: "Sequence[tuple[np.ndarray, np.ndarray, float]]", k: int,
) -> tuple[int, np.ndarray, np.ndarray]:
    """Exhaustive term-at-a-time BM25 → (found, top doc ids, top scores).

    ``postings`` holds one ``(doc_ids, impacts, widf)`` per query term, each
    doc id at most once per term; a doc scores Σ widf·impact in float64,
    summed in term order. ``found`` counts the docs with a posting, whatever
    their score (an idf that underflows to 0 still matches). The top ``k``
    are ranked by (score desc, doc_id asc).

    The accumulator follows the input: a dense ``bincount`` over the doc-id
    span when the span is at most 16× the posting count, else a sort-based
    ``np.unique`` (rare terms, or streamed ids near 2^62). Both add in the
    same order, so they return bit-identical sums."""
    ids = np.concatenate([np.asarray(p[0], dtype=np.int64) for p in postings]
                         or [np.empty(0, np.int64)])
    if not ids.size:
        return 0, ids, np.empty(0, dtype=np.float64)
    contrib = np.concatenate([np.asarray(imp, dtype=np.float64) * widf
                              for _, imp, widf in postings])
    lo = int(ids.min())
    span = int(ids.max()) - lo + 1
    if span <= 16 * ids.size:
        rel = ids - lo
        docs = np.flatnonzero(np.bincount(rel, minlength=span))
        scores = np.bincount(rel, weights=contrib, minlength=span)[docs]
        docs += lo
    else:
        docs, inv = np.unique(ids, return_inverse=True)
        scores = np.bincount(inv, weights=contrib, minlength=docs.size)
    top = topk_tiebroken(scores, docs, min(k, docs.size))
    return int(docs.size), docs[top], scores[top]


def rank_chunk_rows(chunks: "pa.Table", queries, avgdl: float,  # noqa: F821
                    params: "BM25Params", store: "DocStore",  # noqa: F821
                    lo: "int | None" = None,
                    hi: "int | None" = None) -> "list[tuple]":
    """Chunk rows → [(qid, k, found, top doc ids, top scores)] for each
    query with a posting among them.

    ``chunks`` is an Arrow table of postings chunk rows (term, doc_lo,
    count, tf_off, blob); ``queries`` is [(qid, k, [(term, widf), ...])];
    ``store`` is the generation's doc store (functions/docstore.py), which
    gives each posting's doc length. Each term's chunks decode in one
    ``decode_chunks_concat`` call, in table order (a term's chunks cover
    disjoint doc ranges, so the order does not change any sum), and only
    doc ids in [lo, hi) are kept (None: unbounded). Terms decode one
    after another: a thread pool per call cost more CPU and saved no wall
    time on serving queries and 0.5M-posting batches (it saved ~20% wall
    at the 8M-posting driver budget)."""
    # looked up at call time, so a wrapper installed on the codec module
    # (perfbench's tracer) sees every decode
    from nextsearch_api_spark.functions.codec import decode_chunks_concat

    rows_by_term: dict[str, list[int]] = {}
    for i, term in enumerate(chunks.column("term").to_pylist()):
        rows_by_term.setdefault(term, []).append(i)
    # blobs stay Arrow: a term's rows are taken as one binary array
    blobs = chunks.column("blob").combine_chunks()
    doc_los, counts, tf_offs = (
        chunks.column(c).to_numpy(zero_copy_only=False).astype(np.int64)
        for c in ("doc_lo", "count", "tf_off"))

    per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for term, rows in rows_by_term.items():
        idx = np.asarray(rows)
        ids, tfs = decode_chunks_concat(
            blobs.take(idx), tf_offs[idx], counts[idx], doc_los[idx])
        if lo is not None or hi is not None:
            keep = np.ones(ids.size, dtype=bool)
            if lo is not None:
                keep &= ids >= lo
            if hi is not None:
                keep &= ids < hi
            ids, tfs = ids[keep], tfs[keep]
        per_term[term] = ids, bm25_impact(tfs, store.doc_lens(ids),
                                          params.k1, params.b, avgdl,
                                          params.precision)

    out: list[tuple] = []
    for qid, k, tws in queries:
        postings = [(*per_term[t], w) for t, w in tws if t in per_term]
        if postings:
            found, ids, scores = rank_postings(postings, k)
            if found:
                out.append((qid, k, found, ids, scores))
    return out
