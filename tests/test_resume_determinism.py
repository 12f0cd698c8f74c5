"""Resumability, determinism, skew handling (SURVEY.md §5 items 4-6) and the
serving API layer."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from nextsearch_api_spark.config import IndexPaths
from nextsearch_api_spark.functions.codec import decode_chunks_concat
from nextsearch_api_spark.functions.docstore import DocStore
from nextsearch_api_spark.operators.build import build_index
from nextsearch_api_spark.sources.corpus import generate_corpus, read_corpus, write_corpus


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("corpus") / "c")
    write_corpus(generate_corpus(spark, 300, seed=42), p, partition_by=None)
    return p


def _decoded_index(spark, root) -> dict:
    """Logical index content: term → [(doc_id, tf, dl)...] + stats, with
    each posting's dl from the doc store."""
    store = DocStore(IndexPaths(root).docs)
    postings = spark.read.parquet(IndexPaths(root).postings).collect()
    out: dict = {}
    for r in sorted(postings, key=lambda r: (r["term"], r["doc_lo"])):
        ids, tfs = decode_chunks_concat(
            [r["blob"]], [r["tf_off"]], [r["count"]], [r["doc_lo"]])
        dls = store.doc_lens(ids)
        out.setdefault(r["term"], []).extend(zip(ids.tolist(), tfs.tolist(), dls.tolist()))
    with open(IndexPaths(root).stats) as f:
        stats = json.load(f)
    return {"postings": out, "N": stats["N"], "avgdl": round(stats["avgdl"], 6)}


def test_two_builds_identical(spark, corpus_path, tmp_path):
    """Determinism: same seed corpus → logically identical index, regardless
    of partition layout differences."""
    c = read_corpus(spark, corpus_path)
    r1, r2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    build_index(spark, c, r1)
    build_index(spark, c.repartition(13), r2)  # different input layout
    assert _decoded_index(spark, r1) == _decoded_index(spark, r2)


def test_resume_skips_and_redoes(spark, corpus_path, tmp_path):
    c = read_corpus(spark, corpus_path)
    root = str(tmp_path / "idx")
    m1 = build_index(spark, c, root)
    assert not any(v.get("skipped") for v in m1.values())

    m2 = build_index(spark, c, root)
    assert all(v.get("skipped") for v in m2.values())

    # kill one stage output → only downstream-of-nothing stage redone
    shutil.rmtree(os.path.join(root, "postings"))
    m3 = build_index(spark, c, root)
    ran = [k for k, v in m3.items() if not v.get("skipped")]
    assert ran == ["ids", "postings"]

    # changed config → full rebuild (fingerprint mismatch)
    from nextsearch_api_spark.config import BuildConfig
    m4 = build_index(spark, c, root, BuildConfig(chunk_size=512))
    ran4 = [k for k, v in m4.items() if not v.get("skipped")]
    assert "postings" in ran4 and "ids" in ran4

    # manifest carries lineage + throughput metrics (north rule)
    with open(IndexPaths(root).manifest) as f:
        man = json.load(f)
    st = man["stages"]["postings"]
    assert st["status"] == "ok" and "seconds" in st and "rows_per_sec" in st


SERVING_ROOT = ["_manifest.json", "docs", "lexicon", "postings",
                "stats.json", "suggest"]


def test_completed_build_keeps_serving_components_only(spark, corpus_path,
                                                       tmp_path):
    """ids (a copy of every doc's content) is build scratch: a completed
    root holds only what serving reads, and resuming it with the same
    inputs runs nothing and re-creates no scratch."""
    c = read_corpus(spark, corpus_path)
    root = str(tmp_path / "idx")
    build_index(spark, c, root)
    assert sorted(os.listdir(root)) == SERVING_ROOT
    with open(IndexPaths(root).manifest) as f:
        assert "completed_at" in json.load(f)

    again = build_index(spark, c, root)
    assert [k for k, v in again.items() if not v.get("skipped")] == []
    assert sorted(os.listdir(root)) == SERVING_ROOT


def test_killed_build_resumes_from_scratch(spark, corpus_path, tmp_path,
                                           monkeypatch):
    """A build killed in the lexicon stage keeps its scratch table, and the
    resume reads it instead of re-running ids, docs or postings."""
    from nextsearch_api_spark.operators import build

    def killed(*_a, **_kw):
        raise RuntimeError("killed in the lexicon stage")

    c = read_corpus(spark, corpus_path)
    root = str(tmp_path / "idx")
    monkeypatch.setattr(build, "write_lexicon", killed)
    with pytest.raises(RuntimeError, match="killed"):
        build_index(spark, c, root)
    assert "ids" in os.listdir(root)
    with open(IndexPaths(root).manifest) as f:
        assert "completed_at" not in json.load(f)

    monkeypatch.undo()
    m = build_index(spark, c, root)
    assert [k for k, v in m.items() if not v.get("skipped")] == [
        "lexicon", "suggest"]
    assert sorted(os.listdir(root)) == SERVING_ROOT
    fresh = str(tmp_path / "fresh")
    build_index(spark, c, fresh)
    assert _decoded_index(spark, root) == _decoded_index(spark, fresh)


def test_hot_term_skew_split(spark, corpus_path, tmp_path):
    """hotterm (≥90% df) must be split across multiple chunks and still
    decode to the exact sorted posting list."""
    from nextsearch_api_spark.config import BuildConfig

    c = read_corpus(spark, corpus_path)
    root = str(tmp_path / "skew")
    build_index(spark, c, root, BuildConfig(chunk_size=64))
    postings = spark.read.parquet(IndexPaths(root).postings)
    hot = postings.where(F.col("term") == "hotterm").collect()
    assert len(hot) > 1  # split into multiple bounded chunks
    assert max(r["count"] for r in hot) <= 64
    hot.sort(key=lambda r: r["doc_lo"])
    all_ids = decode_chunks_concat(
        *([r[c] for r in hot]
          for c in ("blob", "tf_off", "count", "doc_lo")))[0]
    assert np.all(np.diff(all_ids) > 0)
    # df from lexicon equals decoded length
    lex = spark.read.parquet(IndexPaths(root).lexicon)
    df_hot = lex.where(F.col("term") == "hotterm").collect()[0]["df"]
    assert df_hot == len(all_ids)
    assert df_hot >= 0.9 * 299  # hot term really is hot (299 non-empty docs)


def test_api_engine_serving(spark, corpus_path, tmp_path):
    from nextsearch_api_spark.api import Engine

    c = read_corpus(spark, corpus_path)
    root = str(tmp_path / "apiidx")
    build_index(spark, c, root)

    eng = Engine(root, cache_dir=str(tmp_path / "cache"))
    h = eng.health()
    assert h["status"] == "ok" and h["docs"] > 0

    r1 = eng.search("hotterm buffer", 5)
    assert r1["cached"] is False and len(r1["results"]) == 5
    assert {"rank", "doc_id", "score", "uid", "repo", "path"} <= set(r1["results"][0])
    r2 = eng.search("hotterm buffer", 5)
    assert r2["cached"] is True
    assert [x["doc_id"] for x in r2["results"]] == [x["doc_id"] for x in r1["results"]]
    # raw-query cache key (reference quirk): different case → cache miss
    r3 = eng.search("HOTTERM buffer", 5)
    assert r3["cached"] is False
    assert [x["doc_id"] for x in r3["results"]] == [x["doc_id"] for x in r1["results"]]

    s = eng.suggest("buf", 5)
    assert s["suggestions"] and all(x.startswith("buf") for x in s["suggestions"])

    st = eng.stats()
    assert st["searches"] == 3 and st["cache_hits"] == 1

    # cache persisted across engine restarts (save-every-update)
    eng2 = Engine(root, cache_dir=str(tmp_path / "cache"))
    r4 = eng2.search("hotterm buffer", 5)
    assert r4["cached"] is True
