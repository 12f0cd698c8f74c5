"""Multi-segment serving parity (reference src/api_engine.cpp:441-495,
src/api_segment.cpp:105-136): one ``api.Engine`` over several segments
scores each with its own stats, merges by score, sums found and suggests
by the summed df."""

import ast
import pathlib

import pytest

from nextsearch_api_spark.api import Engine
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
    eng = Engine(two_segments)
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
    eng = Engine(two_segments)
    a, b = eng.segments
    df = eng._suggester.df_lookup
    probe = next(t for t in a._df if t in b._df)
    assert df[probe] == a._df[probe] + b._df[probe]

    sugg = eng.suggest("bu", 5)["suggestions"]
    assert sugg == sorted(sugg, key=lambda t: (-df[t], t))
    assert all(t.startswith("bu") for t in sugg)


def test_multisegment_hydration_per_segment(two_segments):
    """Hydration must read each hit's metadata from ITS OWN segment's doc
    store — doc_ids are segment-local and collide across segments."""
    eng = Engine(two_segments)
    out = eng.search("hotterm buffer", 10)
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
    """N==1 degenerates to the plain engine (the canonical config): the
    rows carry no ``segment`` and health reports the one root's stats."""
    root = two_segments[0]
    one = Engine([root])
    w = WandEngine(root)
    m = one.search("hotterm buffer", 5)
    s = w.search("hotterm buffer", 5)
    assert m["found"] == s["found"]
    assert m["segments"] == 1
    assert [(r["doc_id"], r["score"]) for r in m["results"]] == [
        (r["doc_id"], r["score"]) for r in s["results"]]
    assert all("segment" not in r for r in m["results"])
    assert one.health()["docs"] == w.N
    assert one.health()["avgdl"] == w.avgdl


def test_multisegment_health_and_stats_sum_docs(two_segments):
    """health and stats report Σ N over the segments, and avgdl as
    Σ total_len / Σ N."""
    eng = Engine(two_segments)
    a, b = eng.segments
    h = eng.health()
    assert h["segments"] == 2
    assert h["docs"] == eng.stats()["docs"] == a.N + b.N
    assert h["avgdl"] == pytest.approx(
        (a.avgdl * a.N + b.avgdl * b.N) / (a.N + b.N))


def test_multisegment_embeddings_refused(two_segments, tmp_path):
    """Query expansion is served over one segment only."""
    emb = tmp_path / "emb.txt"
    emb.write_text("hotterm 0.1 0.2\n")
    with pytest.raises(ValueError):
        Engine(two_segments, embeddings_path=str(emb))
    with pytest.raises(ValueError):
        Engine([])


def test_multisegment_suggest_memoized_and_concurrent(two_segments):
    """The suggester opens with the engine, and concurrent suggests over
    the shared engine agree."""
    import threading

    eng = Engine(two_segments)
    df = eng._suggester.df_lookup

    expect = sorted((t for t in df if t.startswith("bu")),
                    key=lambda t: (-df[t], t))[:5]
    results: list[tuple] = []
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(20):
                results.append(tuple(eng.suggest("bu", 5)["suggestions"]))
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
    assert eng.suggest("b", 25)["suggestions"] == brute[:10]
    long_p = max(df, key=len)
    assert eng.suggest(long_p, 3)["suggestions"][0] == long_p


def test_multisegment_suggest_matches_engine(two_segments):
    """The summed-df suggester over one segment suggests exactly as an
    ``Engine`` over that root does from its suggest table: the last token
    is completed and the text before it echoed, k is clamped to [1, 10],
    and an input without a token completes nothing."""
    from nextsearch_api_spark.operators.autocomplete import _MergedSuggester

    root = two_segments[0]
    eng = Engine(root)
    df = eng.wand._df
    multi = _MergedSuggester([df])
    by_df = sorted(df, key=lambda t: (-df[t], t))
    hot, mid, rare = by_df[0], by_df[len(by_df) // 2], by_df[-1]
    longest = max(by_df, key=len)
    probes = [(hot[:2], 5), (mid[:3], 10), (rare[:4], 5), ("qqzz", 5),
              (f"{hot} {mid[:2]}", 10), (hot, 3), ("def bu", 5),
              ("Load_Config bu", 5), ("bu", 0), ("bu", 25), ("", 5),
              ("  ", 5), ("bu ", 5), (longest, 3), (longest[:13], 10)]
    for q, k in probes:
        assert multi.suggest(q, k) == eng.suggest(q, k)["suggestions"], (q, k)


def test_one_serving_engine():
    """``api.Engine`` is the only class in the package that serves both
    search and suggest: one or many segments go through it."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "nextsearch_api_spark"
    both = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ClassDef):
                names = {n.name for n in node.body
                         if isinstance(n, (ast.FunctionDef,
                                           ast.AsyncFunctionDef))}
                if {"search", "suggest"} <= names:
                    both.append(f"{path.relative_to(pkg)}::{node.name}")
    assert both == ["api.py::Engine"]
