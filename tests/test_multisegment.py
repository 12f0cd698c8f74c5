"""Multi-segment serving parity (reference src/api_engine.cpp:441-495,
src/api_segment.cpp:105-136): segment-LOCAL scoring, global score merge,
summed found, cross-segment suggest df."""

import pytest

from nextsearch_api_spark.operators.multisegment import MultiSegmentEngine
from nextsearch_api_spark.operators.wand import WandEngine


@pytest.fixture(scope="module")
def two_segments(spark, tmp_path_factory):
    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.sources.corpus import generate_corpus

    base = tmp_path_factory.mktemp("multiseg")
    corpus = generate_corpus(spark, 400, seed=42).cache()
    # two disjoint halves, built as INDEPENDENT indexes → genuinely
    # different segment-local stats (N, avgdl, df)
    roots = []
    for i, half in enumerate(
        (corpus.where("length(repo) % 2 = 0"), corpus.where("length(repo) % 2 = 1"))
    ):
        root = str(base / f"seg{i}")
        build_index(spark, half, root)
        roots.append(root)
    return roots


def test_multisegment_merge_and_found(two_segments):
    eng = MultiSegmentEngine(two_segments)
    segs = [WandEngine(r) for r in two_segments]

    for q in ["hotterm", "buffer", "load config", "cache99 flush hotterm"]:
        merged = eng.search(q, 10)
        per_seg = [s.search(q, 10) for s in segs]

        # found = sum of per-segment matched counts (total_found semantics)
        assert merged["found"] == sum(r["found"] for r in per_seg)
        assert merged["segments"] == 2

        # every merged hit carries ITS OWN segment's score (segment-local
        # idf/avgdl — NOT a global-stats rescore)
        seg_scores = [
            {it["doc_id"]: it["score"] for it in r["results"]} for r in per_seg
        ]
        for item in merged["results"]:
            assert item["score"] == pytest.approx(
                seg_scores[item["segment"]][item["doc_id"]])

        # merge order: score desc, then segment asc, then doc asc
        keys = [(-it["score"], it["segment"], it["doc_id"])
                for it in merged["results"]]
        assert keys == sorted(keys)
        assert [it["rank"] for it in merged["results"]] == list(
            range(1, len(merged["results"]) + 1))

        # top-k is the global best of the union of per-segment candidates
        union = sorted(
            (-it["score"], si, it["doc_id"])
            for si, r in enumerate(per_seg) for it in r["results"]
        )[:10]
        assert [(s, d) for _, s, d in union] == [
            (it["segment"], it["doc_id"]) for it in merged["results"]]


def test_multisegment_segment_local_stats_differ(two_segments):
    """The halves really do have different stats — i.e. the test above is
    exercising segment-local scoring, not two identical segments."""
    a, b = (WandEngine(r) for r in two_segments)
    assert a.N != b.N or abs(a.avgdl - b.avgdl) > 1e-9


def test_multisegment_suggest_sums_df(two_segments):
    eng = MultiSegmentEngine(two_segments)
    a, b = eng.segments
    df = eng.merged_suggest_df()
    probe = next(t for t in a._df if t in b._df)
    assert df[probe] == a._df[probe] + b._df[probe]

    sugg = eng.suggest("bu", 5)
    assert sugg == sorted(sugg, key=lambda t: (-df[t], t))
    assert all(t.startswith("bu") for t in sugg)


def test_multisegment_hydration_per_segment(two_segments):
    """Hydration must read each hit's metadata from ITS OWN segment's doc
    store — doc_ids are segment-local and collide across segments."""
    eng = MultiSegmentEngine(two_segments)
    out = eng.search("hotterm buffer", 10, hydrate=True)
    assert out["results"]
    segs_seen = {r["segment"] for r in out["results"]}
    for item in out["results"]:
        assert {"uid", "repo", "path", "commit", "lang"} <= set(item)
        # uid is derived from (repo,path,commit) at build time — recompute
        # from the hydrated fields to prove the metadata row belongs to THIS
        # doc in THIS segment
        import hashlib
        expect = hashlib.sha256(
            (item["repo"] + item["path"] + item["commit"]).encode()
        ).hexdigest()[:16]
        assert item["uid"] == expect
    assert len(segs_seen) >= 1


def test_multisegment_single_equals_wand(two_segments):
    """N==1 degenerates to the plain engine (the canonical config)."""
    root = two_segments[0]
    one = MultiSegmentEngine([root])
    w = WandEngine(root)
    m = one.search("hotterm buffer", 5)
    s = w.search("hotterm buffer", 5)
    assert m["found"] == s["found"]
    assert [(r["doc_id"], r["score"]) for r in m["results"]] == [
        (r["doc_id"], r["score"]) for r in s["results"]]
    assert one.health()["docs"] == w.N


def test_multisegment_suggest_memoized_and_concurrent(two_segments):
    """Suggest structures are built once (segments are immutable) and the
    lazy init is safe under concurrent first calls (VERDICT r3 #2)."""
    import threading

    eng = MultiSegmentEngine(two_segments)
    df = eng.merged_suggest_df()
    assert eng.merged_suggest_df() is df  # memoized, not rebuilt per call

    expect = sorted((t for t in df if t.startswith("bu")),
                    key=lambda t: (-df[t], t))[:5]
    results: list[tuple] = []
    errors: list[BaseException] = []

    def worker():
        try:
            fresh = MultiSegmentEngine.suggest  # exercise the shared engine
            for _ in range(20):
                results.append(tuple(fresh(eng, "bu", 5)))
        except BaseException as e:  # noqa: BLE001 — surfaced to the assert
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert set(results) == {tuple(expect)}

    # k clamps to SUGGEST_K_MAX (10), like the single-index suggest; the
    # long-prefix path stays exact — parity vs brute force over the merged df
    brute = sorted((t for t in df if t.startswith("b")),
                   key=lambda t: (-df[t], t))
    assert eng.suggest("b", 25) == brute[:10]
    long_p = max(df, key=len)
    assert eng.suggest(long_p, 3)[0] == long_p


def test_multisegment_suggest_matches_engine(two_segments):
    """One segment suggests exactly as ``api.Engine`` over the same root
    does: the last token is completed and the text before it echoed, k is
    clamped to [1, 10], and an input without a token completes nothing."""
    from nextsearch_api_spark.api import Engine

    root = two_segments[0]
    multi, eng = MultiSegmentEngine([root]), Engine(root)
    df = eng.wand._df
    by_df = sorted(df, key=lambda t: (-df[t], t))
    hot, mid, rare = by_df[0], by_df[len(by_df) // 2], by_df[-1]
    longest = max(by_df, key=len)
    probes = [(hot[:2], 5), (mid[:3], 10), (rare[:4], 5), ("qqzz", 5),
              (f"{hot} {mid[:2]}", 10), (hot, 3), ("def bu", 5),
              ("Load_Config bu", 5), ("bu", 0), ("bu", 25), ("", 5),
              ("  ", 5), ("bu ", 5), (longest, 3), (longest[:13], 10)]
    for q, k in probes:
        assert multi.suggest(q, k) == eng.suggest(q, k)["suggestions"], (q, k)
