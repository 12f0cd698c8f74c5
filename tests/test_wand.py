"""Serving-tier correctness: exhaustive TAAT top-k must be rank-identical to
the golden oracle and to the Spark batch plan with block-max chunk pruning
(SURVEY.md M5)."""

import numpy as np
import pytest

from nextsearch_api_spark.operators.wand import WandEngine
from tests.test_build_query import QUERIES


def assert_matches_pruned_plan(spark, root, eng, cases):
    """``eng.search`` (exhaustive) vs the distributed plan with block-max
    chunk pruning on (``batch_search(..., small_query_max_postings=0)``,
    same BM25 params) for every (query, k): doc ids exact, scores at rtol
    1e-6, found exact."""
    from nextsearch_api_spark.operators.query import (
        IndexReader, QuerySpec, batch_search,
    )

    rows = batch_search(
        IndexReader(spark, root),
        [QuerySpec(i, q, k) for i, (q, k) in enumerate(cases)],
        eng.params, small_query_max_postings=0,
    ).collect()
    by_qid: dict = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        by_qid.setdefault(r["qid"], []).append(r)
    for i, (q, k) in enumerate(cases):
        exp = by_qid.get(i, [])
        got = eng.search(q, k)
        assert ([r["doc_id"] for r in got["results"]]
                == [r["doc_id"] for r in exp]), f"q={q!r} k={k}"
        assert np.allclose([r["score"] for r in got["results"]],
                           [r["score"] for r in exp], rtol=1e-6, atol=0.0), \
            f"q={q!r} k={k}"
        assert got["found"] == (exp[0]["found"] if exp else 0), f"q={q!r} k={k}"


@pytest.fixture(scope="session")
def wand(tiny_index):
    root, _ = tiny_index
    return WandEngine(root)


def test_wand_matches_oracle(wand, tiny_index):
    _, oracle = tiny_index
    for qid, q, k in QUERIES:
        got = wand.search(q, k)
        exp = oracle.search(q, k)
        got_ids = [r["doc_id"] for r in got["results"]]
        assert got_ids == list(exp["doc_id"]), f"q={q!r}"
        got_s = np.array([r["score"] for r in got["results"]])
        exp_s = exp["score"].to_numpy(dtype=np.float64)
        if len(got_s):
            assert np.allclose(got_s, exp_s, rtol=2e-5), f"q={q!r}"


def test_wand_pruned_equals_exhaustive(spark, wand, tiny_index):
    root, _ = tiny_index
    assert_matches_pruned_plan(spark, root, wand,
                               [(q, k) for _, q, k in QUERIES])
    # found_count is the search's exact found
    for _, q, k in QUERIES:
        assert wand.found_count(q) == wand.search(q, k)["found"], q
    # float64 idf and impacts end to end
    from nextsearch_api_spark.config import BM25Params
    assert_matches_pruned_plan(spark, root,
                               WandEngine(root, BM25Params(precision="f64")),
                               [(q, k) for _, q, k in QUERIES])


def test_wand_small_k_prunes_hot_term(wand, tiny_index):
    """k=1 on the super-hot term must return the oracle's top doc."""
    _, oracle = tiny_index
    got = wand.search("hotterm", 1)
    exp = oracle.search("hotterm", 1)
    assert [r["doc_id"] for r in got["results"]] == list(exp["doc_id"])


def test_wand_oov_and_empty(wand):
    assert wand.search("zzzznotaterm", 10)["results"] == []
    assert wand.search("the a an", 10)["found"] == 0


def test_wand_rejects_unknown_mode(wand):
    assert wand.search("buffer", 3, mode="taat")["mode"] == "taat"
    with pytest.raises(ValueError):
        wand.search("buffer", 3, mode="wand")


@pytest.fixture(scope="session")
def multichunk_index(spark, tiny_corpus, tmp_path_factory):
    """Index with chunk_size=8 → every common term spans many chunks with
    varying block maxes, so the batch plan's block-max prune has many chunks
    to keep, drop or decode doc-ids-only."""
    from nextsearch_api_spark.config import BuildConfig
    from nextsearch_api_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("index_mc"))
    build_index(spark, tiny_corpus, root, cfg=BuildConfig(chunk_size=8))
    return root


def test_segment_chunks_disjoint_over_partitioned_corpus(
    spark, tiny_corpus, tmp_path_factory
):
    """Building over a lang-partitioned corpus (files NOT in doc order) must
    still produce per-term disjoint chunk ranges — the seg-break invariant.
    Regression: without seg breaks, id-bucket hash placement made ids files
    overlap in doc range and serving returned wrong top-k / crashed."""
    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.sources.corpus import read_corpus, write_corpus

    base = tmp_path_factory.mktemp("langpart")
    write_corpus(tiny_corpus, str(base / "corpus"))  # partitionBy("lang")
    corpus = read_corpus(spark, str(base / "corpus"))
    root = str(base / "index")
    build_index(spark, corpus, root)

    eng = WandEngine(root)  # __init__ raises on overlapping chunk ranges
    hot = sorted(eng._df, key=lambda t: -eng._df[t])[0]
    assert_matches_pruned_plan(spark, root, eng, [(f"{hot} bufferrank", 5)])


def test_wand_multichunk_parity_exhaustive(spark, multichunk_index):
    """Exhaustive serving over many small chunks must stay rank-identical to
    the block-max-pruned batch plan for every query × k."""
    eng = WandEngine(multichunk_index)
    vocab = sorted(eng._df, key=lambda t: -eng._df[t])
    hot = vocab[:4]
    mid = vocab[len(vocab) // 2:len(vocab) // 2 + 4]
    rare = vocab[-4:]
    queries = [
        " ".join(hot), " ".join(mid), " ".join(rare),
        f"{hot[0]} {rare[0]}", f"{hot[0]} {mid[0]} {rare[1]}",
        f"{hot[1]} {hot[1]} {mid[1]}",  # repeated term (weight 2)
        f"{mid[2]} {rare[2]} {hot[2]} {mid[3]}",
    ]
    assert_matches_pruned_plan(spark, multichunk_index, eng,
                               [(q, k) for q in queries for k in (1, 3, 10)])


def test_topk_boundary_tiebreak_canonical(spark, tmp_path):
    """Score ties straddling the k boundary must resolve by doc_id ASC in
    every tier (r3 regression, caught by the bench parity gate): a bare
    argpartition selects ARBITRARY tied members before the final sort. Both
    accumulator branches of the kernel: tests/test_scoring.py.

    Corpus: 30 docs with identical ("tietok", tf=1, doc_len=2) postings →
    30 identical BM25 scores; k=10 must return the 10 smallest doc_ids."""
    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.sources.corpus import read_corpus, write_corpus

    rows = [(f"r{i}", f"p{i}", "c0", "py", "tietok filler") for i in range(30)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    base = str(tmp_path / "tie")
    write_corpus(corpus, base + "/corpus", partition_by=None)
    root = base + "/index"
    build_index(spark, read_corpus(spark, base + "/corpus"), root)

    res = WandEngine(root).search("tietok", 10)["results"]
    ids = [r["doc_id"] for r in res]
    assert ids == sorted(ids) == list(range(1, 11)), ids
    assert len({round(r["score"], 9) for r in res}) == 1  # genuine tie


def test_engine_thread_safety_under_concurrency(tiny_index, tmp_path):
    """The threaded HTTP layer serves ONE Engine: concurrent searches with a
    deliberately tiny blob cache used to corrupt _blob_cache_bytes / raise
    KeyError from interleaved check-then-act sequences (ADVICE r2). Hammer
    the same Engine from many threads; every call must succeed and cache
    accounting must stay consistent."""
    import threading

    from nextsearch_api_spark.api import Engine

    root, _ = tiny_index
    eng = Engine(root, cache_dir=str(tmp_path / "cache"))
    eng.wand.blob_cache_limit = 1 << 14  # force constant eviction
    queries = ["hotterm", "buffer", "load config", "cache99 flush hotterm",
               "bufferrank", "heapsort parse", "zzznomatch buffer"]
    errors: list[BaseException] = []
    baseline = {q: [r["doc_id"] for r in eng.search(q, 10)["results"]]
                for q in queries}

    def worker(seed: int) -> None:
        try:
            for i in range(30):
                q = queries[(seed + i) % len(queries)]
                if i % 2 == seed % 2:
                    # bypass the Engine result cache so the WandEngine blob
                    # cache (tiny limit → constant eviction) is the one
                    # actually contended
                    out = eng.wand.search(q, 10)
                else:
                    out = eng.search(q, 10)
                assert [r["doc_id"] for r in out["results"]] == baseline[q]
                if i % 7 == 0:
                    eng.suggest("bu", 5)
                    eng.stats()
        except BaseException as e:  # noqa: BLE001 — collect for the assert
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    st = eng.stats()
    assert st["searches"] >= 8 * 30 // 2  # half the calls hit Engine.search
    # blob-cache byte accounting still matches its contents
    w = eng.wand
    actual = sum(int(g["blob"].map(len).sum()) for g in w._blob_cache.values())
    assert w._blob_cache_bytes == actual
