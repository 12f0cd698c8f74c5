"""Serving-tier correctness: exhaustive TAAT top-k must be rank-identical to
the golden oracle and to the Spark batch plan with block-max chunk pruning
(SURVEY.md M5)."""

import numpy as np
import pytest

from nextsearch_api_spark.operators.wand import WandEngine
from tests.test_build_query import QUERIES


def assert_tiers_identical(spark, root, eng, specs):
    """Every ranking tier returns the same rows, scores compared with ==:
    the distributed plan with the chunk prune on
    (``small_query_max_postings=0``) and off (``prune_chunks=False``), the
    driver small-query path, and ``eng.search`` (same BM25 params), on
    (doc_id, score, found) per query. A qid given by several specs is
    compared with ``eng.search`` of their joined text and the first spec's
    k — the same ranking when the specs share no term."""
    from nextsearch_api_spark.operators.query import (
        IndexReader, batch_search,
    )

    rd = IndexReader(spark, root)

    def ranked(df) -> dict:
        by_qid: dict = {}
        for r in sorted(df.collect(), key=lambda r: (r["qid"], r["rank"])):
            by_qid.setdefault(r["qid"], []).append(
                (r["doc_id"], r["score"], r["found"]))
        return by_qid

    pruned = ranked(batch_search(rd, specs, eng.params,
                                 small_query_max_postings=0))
    full = ranked(batch_search(rd, specs, eng.params, prune_chunks=False))
    driver_df = batch_search(rd, specs, eng.params,
                             small_query_max_postings=1 << 62)
    assert "parquet" not in driver_df._jdf.queryExecution() \
        .executedPlan().toString().lower()  # answered on the driver
    driver = ranked(driver_df)
    assert pruned == full, root
    assert pruned == driver, root
    texts: dict = {}
    ks: dict = {}
    for s in specs:
        texts.setdefault(s.qid, []).append(s.q)
        ks.setdefault(s.qid, s.k)
    for qid, qs in texts.items():
        got = eng.search(" ".join(qs), ks[qid])
        assert ([(r["doc_id"], r["score"], got["found"])
                 for r in got["results"]] == pruned.get(qid, [])), \
            f"qid={qid} q={qs!r} k={ks[qid]}"


def assert_matches_pruned_plan(spark, root, eng, cases):
    """assert_tiers_identical over one spec per (query, k) case."""
    from nextsearch_api_spark.operators.query import QuerySpec

    assert_tiers_identical(
        spark, root, eng,
        [QuerySpec(i, q, k) for i, (q, k) in enumerate(cases)])


def parity_specs(eng):
    """Cases for assert_tiers_identical from an engine's vocabulary: single,
    multi-term, repeated and OOV terms at every k in (1, 10, 100), plus a
    qid given twice with disjoint terms."""
    from nextsearch_api_spark.operators.query import QuerySpec

    vocab = sorted(eng._df, key=lambda t: (-eng._df[t], t))
    hot, hot2, mid, rare = vocab[0], vocab[1], vocab[len(vocab) // 2], vocab[-1]
    texts = [hot, f"{hot} {mid}", f"{mid} {mid} {rare}",
             f"zzzznotaterm {hot2}", "zzzznotaterm",
             f"{hot} {hot2} {mid} {rare}"]
    specs = [QuerySpec(i, q, k) for i, (q, k) in enumerate(
        (q, k) for q in texts for k in (1, 10, 100))]
    n = len(specs)
    return specs + [QuerySpec(n, hot2, 10), QuerySpec(n, rare, 100)]


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


def test_wand_load_reads_no_postings(tiny_index, tmp_path):
    """Loading an engine reads stats, the lexicon and footers only: chunk
    disjointness is checked when postings are written, not per load. The
    copy's postings files keep their footers but have every data page
    zeroed, so any postings read would fail."""
    import glob
    import shutil

    from nextsearch_api_spark.config import IndexPaths

    root, _ = tiny_index
    clone = str(tmp_path / "idx")
    shutil.copytree(root, clone)
    files = glob.glob(IndexPaths(clone).postings + "/*.parquet")
    assert files
    for f in files:
        with open(f, "r+b") as fh:
            data = bytearray(fh.read())
            footer = int.from_bytes(data[-8:-4], "little")
            data[4:len(data) - 8 - footer] = bytes(len(data) - 12 - footer)
            fh.seek(0)
            fh.write(data)
    eng = WandEngine(clone)
    assert eng._postings.counters() == {"row_groups_read": 0,
                                        "rows_scanned": 0}
    assert eng.N > 0 and eng._df


def test_postings_writer_refuses_overlapping_chunks(spark, tmp_path):
    """write_postings_sorted (every postings writer's last step) raises
    when two chunks of one term overlap in doc range, and writes a
    disjoint frame; touching ranges of different terms are fine."""
    from nextsearch_api_spark.operators.build import write_postings_sorted

    def frame(rows):
        return spark.createDataFrame(
            rows, "term string, doc_lo long, doc_hi long, count int")

    ok = [("aa", 1, 10, 4), ("aa", 11, 20, 4), ("bb", 5, 30, 9),
          ("bb", 31, 31, 1)]
    write_postings_sorted(frame(ok), str(tmp_path / "ok"))
    assert spark.read.parquet(str(tmp_path / "ok")).count() == 4
    with pytest.raises(ValueError, match="1 chunks overlapping"):
        write_postings_sorted(frame(ok + [("aa", 20, 25, 2)]),
                              str(tmp_path / "bad"))


@pytest.fixture(scope="session")
def multichunk_index(spark, tiny_corpus, tmp_path_factory):
    """Index with chunk_size=8 → every common term spans many chunks with
    varying block maxes, so the batch plan's block-max prune has many chunks
    to keep or drop."""
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

    eng = WandEngine(root)  # the postings write refused overlapping chunks
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


def test_tiers_bit_identical_tiny(spark, wand, tiny_index):
    root, _ = tiny_index
    assert_tiers_identical(spark, root, wand, parity_specs(wand))


def test_tiers_bit_identical_multichunk(spark, multichunk_index):
    eng = WandEngine(multichunk_index)
    assert_tiers_identical(spark, multichunk_index, eng, parity_specs(eng))


def test_distributed_plan_splits_doc_ranges_exactly(
        spark, multichunk_index, monkeypatch):
    """With SMALL_QUERY_MAX_POSTINGS patched down, the distributed plan
    splits a batch over several doc-id ranges, some chunk straddles a range
    boundary (so it is decoded in both ranges and each keeps its own
    postings), and every tier still returns the same rows."""
    from nextsearch_api_spark.operators import query

    eng = WandEngine(multichunk_index)
    specs = parity_specs(eng)
    rd = query.IndexReader(spark, multichunk_index)

    def rows():
        return sorted(tuple(r) for r in query.batch_search(
            rd, specs, small_query_max_postings=0).collect())

    before = rows()
    fresh = query.IndexReader(spark, multichunk_index)
    df_map = fresh.term_dfs(sorted({t for s in specs
                                    for t in query.parse_query(s.q)}))
    present = sorted(df_map)
    assert query._doc_range_cuts(fresh, present, df_map, {}) == []
    monkeypatch.setattr(query, "SMALL_QUERY_MAX_POSTINGS", 64)
    cuts = query._doc_range_cuts(fresh, present, df_map, {})
    assert len(cuts) >= 3, cuts
    assert cuts == sorted(set(cuts))
    meta = rd.chunk_meta(present)
    assert any(lo < c <= hi for chunks in meta.values()
               for lo, hi, *_ in chunks for c in cuts)
    assert rows() == before
    assert_tiers_identical(spark, multichunk_index, eng, specs)


@pytest.mark.parametrize("base", [0, 1 << 62])
def test_doc_range_cuts_from_postings_footer(tmp_path, monkeypatch, base):
    """A term's row groups that hold only it become one cut-planning point
    each, from footer statistics alone: only the row groups it shares with
    other terms are read. Ranges stay balanced for build ids and for
    streamed 2^62-range ids, and a postings table pyarrow cannot open
    plans one range."""
    from types import SimpleNamespace

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nextsearch_api_spark.functions.rowgroups import RowGroupIndex
    from nextsearch_api_spark.operators import query

    # (term, doc_lo, count) sorted like the postings: "hot" has 400
    # chunks of 100 postings, the cold terms 3 chunks of 10 each side
    rows = ([("aa", base + 1000 * i, 10) for i in range(3)]
            + [("hot", base + 100 * i, 100) for i in range(400)]
            + [("zz", base + 2000 * i, 10) for i in range(3)])
    path = tmp_path / "postings"
    path.mkdir()
    pq.write_table(pa.table({"term": [r[0] for r in rows],
                             "doc_lo": pa.array([r[1] for r in rows],
                                                pa.int64()),
                             "count": pa.array([r[2] for r in rows],
                                               pa.int32())}),
                   str(path / "part-0.parquet"), row_group_size=50)
    idx = RowGroupIndex(str(path), "term")
    rd = SimpleNamespace(paths=SimpleNamespace(postings=str(path)),
                         _n_chunks={"aa": 3, "hot": 400, "zz": 3},
                         _by_term=lambda _p: idx)
    df_map = {"aa": 30, "hot": 40_000, "zz": 30}
    present = sorted(df_map)
    monkeypatch.setattr(query, "SMALL_QUERY_MAX_POSTINGS", 5_000)

    cuts = query._doc_range_cuts(rd, present, df_map, {})
    # 9 row groups: the first and the last are shared with a cold term
    assert idx.counters()["row_groups_read"] == 2
    assert len(cuts) == 8 and all(c >= base for c in cuts), cuts
    edges = [-1] + cuts + [1 << 63]
    per_range = [sum(c for _, lo, c in rows if a <= lo < b)
                 for a, b in zip(edges, edges[1:])]
    assert sum(per_range) == 40_060
    assert max(per_range) <= 5_000 + 5_000, per_range  # + one row group

    # a whitelisted term plans from its kept chunks alone
    kept = [base + 100 * i for i in range(0, 400, 4)]
    cuts = query._doc_range_cuts(rd, ["hot"], {"hot": 40_000},
                                 {"hot": kept})
    assert idx.counters()["row_groups_read"] == 2  # nothing more read
    assert len(cuts) == 1 and cuts[0] in kept

    def unreadable(_p):
        raise OSError("no pyarrow filesystem")

    rd._by_term = unreadable
    assert query._doc_range_cuts(rd, present, df_map, {}) == []


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
    assert w._blob_cache_bytes == sum(t.nbytes
                                      for t in w._blob_cache.values())
