"""The driver-side BM25 kernel (functions/scoring.py) against plain-loop
references, on both of its accumulator branches."""

import numpy as np
import pytest

from nextsearch_api_spark.functions.scoring import (
    bm25_idf, bm25_impact, rank_postings, topk_tiebroken,
)


def dense(ids):
    """Doc ids as given: a span within 16× the postings takes the bincount
    branch."""
    return ids


def sparse(ids):
    """The same ids, order kept, spread near 2^62: the np.unique branch."""
    return (1 << 62) + ids * 1_000_003


def loop_rank(postings, k):
    """Reference: the reference's per-posting accumulate loop + full sort."""
    scores: dict[int, float] = {}
    for ids, imps, widf in postings:
        for d, imp in zip(ids, imps):
            scores[int(d)] = scores.get(int(d), 0.0) + float(imp) * widf
    ranked = sorted(scores.items(), key=lambda ds: (-ds[1], ds[0]))[:k]
    return len(scores), [d for d, _ in ranked], [s for _, s in ranked]


def run(postings, k, shift):
    found, ids, scores = rank_postings(
        [(shift(np.asarray(i, dtype=np.int64)), np.asarray(m, dtype=np.float32), w)
         for i, m, w in postings], k)
    return found, list(ids), list(scores)


@pytest.mark.parametrize("shift", [dense, sparse], ids=["dense", "sparse"])
def test_rank_postings_counts_zero_score_matches(shift):
    """A term whose idf underflows to 0 (df ≈ N on a very large corpus)
    still matches: its docs count in found and rank, with score 0, after
    every positive score. Counting nonzero sums dropped them."""
    assert bm25_idf(20_000_000, np.array([20_000_000]))[0] == 0.0
    postings = [([1, 2, 3], [0.9, 0.8, 0.7], 0.0),   # zero-idf term
                ([3, 4], [0.5, 0.6], 1.5)]
    found, ids, scores = run(postings, 10, shift)
    assert found == 4
    assert ids == list(shift(np.array([4, 3, 1, 2])))
    assert scores[2:] == [0.0, 0.0]


@pytest.mark.parametrize("shift", [dense, sparse], ids=["dense", "sparse"])
def test_rank_postings_boundary_tie(shift):
    """30 docs tied on one score, k=10 → the 10 smallest doc ids."""
    ids = np.arange(1, 31)
    found, top, scores = run([(ids, np.full(30, 0.5), 2.0)], 10, shift)
    assert found == 30
    assert top == list(shift(ids[:10]))
    assert scores == [1.0] * 10


def test_rank_postings_empty():
    found, ids, scores = rank_postings([], 10)
    assert (found, len(ids), len(scores)) == (0, 0, 0)
    found, ids, _ = rank_postings([(np.empty(0, np.int64), np.empty(0), 1.0)], 5)
    assert (found, len(ids)) == (0, 0)


def test_rank_postings_matches_loop_property():
    """Both branches equal the loop reference bit for bit: same float64
    additions in the same (term) order, same (score desc, doc asc) rank."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    term = st.tuples(
        st.sets(st.integers(min_value=0, max_value=60), max_size=40),
        st.integers(min_value=0, max_value=3),   # quantized impacts → ties
        st.sampled_from([0.0, 0.5, 1.0, 2.25]),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(term, max_size=4), st.integers(min_value=1, max_value=70))
    def check(terms, k):
        postings = []
        for j, (docs, q, widf) in enumerate(terms):
            ids = np.array(sorted(docs), dtype=np.int64)
            imps = ((ids * (j + 1) + q) % 4).astype(np.float32) / 3
            postings.append((ids, imps, widf))
        exp = loop_rank(postings, k)
        assert run(postings, k, dense) == exp
        found, ids, scores = run(postings, k, sparse)
        assert (found, scores) == (exp[0], exp[2])
        assert ids == list(sparse(np.array(exp[1], dtype=np.int64)))

    check()


def test_bm25_impact_precisions():
    tf = np.array([1, 3, 7], dtype=np.int32)
    dl = np.array([5, 50, 500], dtype=np.int32)
    f32 = bm25_impact(tf, dl, 1.2, 0.75, 40.0)
    f64 = bm25_impact(tf, dl, 1.2, 0.75, 40.0, "f64")
    assert f32.dtype == np.float32 and f64.dtype == np.float64
    exp = tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / 40.0)))
    assert np.array_equal(f64, exp)
    assert np.allclose(f32, exp, rtol=1e-6)


def test_topk_tiebroken_property():
    """topk_tiebroken must equal the full lexsort selection for any score
    vector with heavy ties — the selection refinement can't diverge from the
    ground truth it approximates."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=40),
        st.integers(min_value=1, max_value=40),
    )
    def check(quant_scores, k):
        scores = np.array(quant_scores, dtype=np.float64) / 3.0
        ids = np.arange(10, 10 + len(scores), dtype=np.int64)  # ascending
        kk = min(k, len(scores))
        got = topk_tiebroken(scores, ids, kk)
        full = np.lexsort((ids, -scores))[:kk]
        assert list(ids[got]) == list(ids[full])
        assert list(scores[got]) == list(scores[full])

    check()


def test_one_query_time_decode_and_impact_site():
    """Query-time decode and impact run only in scoring.rank_chunk_rows:
    walking the package source, ``decode_chunks_concat`` and ``bm25_impact``
    each have exactly that one call site outside the write-time modules
    (operators/build.py, operators/compact.py). A second scoring path would
    add a call site here."""
    import ast
    import pathlib

    import nextsearch_api_spark

    pkg = pathlib.Path(nextsearch_api_spark.__file__).parent
    write_time = {"operators/build.py", "operators/compact.py"}
    sites: dict[str, list[tuple[str, str]]] = {
        "decode_chunks_concat": [], "bm25_impact": []}

    def walk(node, rel, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name in sites:
                    sites[name].append((rel, scope))
            walk(child, rel, inner)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel not in write_time:
            walk(ast.parse(path.read_text()), rel, "")
    expected = [("functions/scoring.py", "rank_chunk_rows")]
    assert sites == {name: expected for name in sites}, sites
