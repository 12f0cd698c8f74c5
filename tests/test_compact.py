"""Chunk compaction: fragmented-term merge must preserve the logical index
and search results exactly."""

import pytest
from pyspark.sql import functions as F

from nextsearch_api_spark.config import BuildConfig, IndexPaths
from nextsearch_api_spark.operators.build import build_index
from nextsearch_api_spark.operators.compact import compact_postings
from nextsearch_api_spark.operators.wand import WandEngine
from nextsearch_api_spark.sources.corpus import generate_corpus, read_corpus, write_corpus


def test_compact_preserves_search(spark, tmp_path):
    p = str(tmp_path / "c")
    write_corpus(generate_corpus(spark, 400, seed=42), p, partition_by=None)
    corpus = read_corpus(spark, p)
    root = str(tmp_path / "idx")
    # chunks break on every id bucket, so a tiny corpus has fragmented
    # chunks (the condition compaction exists for)
    build_index(spark, corpus, root)

    before = spark.read.parquet(IndexPaths(root).postings).count()
    df_sum_before = spark.read.parquet(IndexPaths(root).lexicon).agg(
        F.sum("df")).collect()[0][0]
    w1 = WandEngine(root)
    queries = ["hotterm", "buffer", "load config", "cache99 flush hotterm score"]
    res_before = [w1.search(q, 10) for q in queries]

    out = compact_postings(spark, root)
    assert out["swapped"] and out["fragmented_terms"] > 0
    after = spark.read.parquet(IndexPaths(root).postings).count()
    assert after < before  # fewer, fuller chunks

    # lexicon df mass preserved
    lex = spark.read.parquet(IndexPaths(root).lexicon)
    assert lex.agg(F.sum("df")).collect()[0][0] == df_sum_before

    w2 = WandEngine(root)
    for q, r1 in zip(queries, res_before):
        r2 = w2.search(q, 10)
        assert [x["doc_id"] for x in r2["results"]] == [
            x["doc_id"] for x in r1["results"]
        ], q
        assert r2["found"] == r1["found"]


def test_generation_gc_deferred_one_flip(spark, tmp_path):
    """flip_generation defers GC by one generation (ADVICE r2): a reader
    opened before a compaction keeps serving from the superseded dirs until
    the NEXT flip, instead of hitting FileNotFoundError mid-query."""
    import os

    from nextsearch_api_spark.plans.generations import current_mapping

    p = str(tmp_path / "c")
    write_corpus(generate_corpus(spark, 300, seed=42), p, partition_by=None)
    corpus = read_corpus(spark, p)
    root = str(tmp_path / "idx")
    # small chunks: frequent terms keep several chunks through the
    # compaction, so the chunk prune has something to drop below
    cfg = BuildConfig(chunk_size=8)
    build_index(spark, corpus, root, cfg=cfg)

    old = WandEngine(root)  # long-lived reader (e.g. the HTTP server)
    before = old.search("hotterm buffer", 10)

    out1 = compact_postings(spark, root, cfg)
    assert out1["swapped"]
    m1 = current_mapping(root)
    assert m1["gc_pending"]  # superseded dirs recorded, NOT deleted
    for d in m1["gc_pending"]:
        assert os.path.exists(os.path.join(root, d)), d
    # the distributed plan (its chunk prune planned from the max_impact
    # the writer stored at the index's avgdl) == the exhaustive driver
    # path after compaction
    from nextsearch_api_spark.config import BM25Params
    from nextsearch_api_spark.operators.query import (
        IndexReader, QuerySpec, _plan_chunk_prune, batch_search,
    )
    rd = IndexReader(spark, root)
    # the plan drops chunks of hotterm: the distributed run is a pruned scan
    dfs = rd.term_dfs(["hotterm"])
    kept, _, found = _plan_chunk_prune(rd, {0: ["hotterm"]}, {0: 5}, dfs,
                                       BM25Params())
    assert 0 < len(kept["hotterm"]) < dfs.n_chunks["hotterm"]
    assert found == {0: dfs["hotterm"]}
    pa_ = batch_search(rd, [QuerySpec(0, "hotterm", 5)],
                       small_query_max_postings=0)
    pb_ = batch_search(rd, [QuerySpec(0, "hotterm", 5)])
    assert ([(r["doc_id"], round(r["score"], 9), r["found"])
             for r in pa_.orderBy("rank").collect()]
            == [(r["doc_id"], round(r["score"], 9), r["found"])
                for r in pb_.orderBy("rank").collect()])

    # the pre-flip reader still serves identical results from the old dirs
    again = old.search("hotterm buffer", 10)
    assert [x["doc_id"] for x in again["results"]] == [
        x["doc_id"] for x in before["results"]]

    # the NEXT flip (here a no-op component flip, as any later compaction
    # would be) garbage-collects the dirs superseded one generation ago
    from nextsearch_api_spark.plans.generations import flip_generation
    m2 = flip_generation(root, {}, m1["gen"] + 1)
    for d in m1["gc_pending"]:
        assert not os.path.exists(os.path.join(root, d)), d
    assert m2["gc_pending"] == []
    # fresh reader on the new generation agrees
    w = WandEngine(root)
    now = w.search("hotterm buffer", 10)
    assert [x["doc_id"] for x in now["results"]] == [
        x["doc_id"] for x in before["results"]]
    assert m2["gen"] == m1["gen"] + 1


def test_index_format_version_checked(spark, tmp_path, tiny_index):
    """Readers refuse an index whose stats.json carries a different on-disk
    format version (VERDICT r2 #7) instead of relying on the overlap
    fail-fast."""
    import json
    import os
    import shutil

    root, _ = tiny_index
    clone = str(tmp_path / "stale_idx")
    shutil.copytree(root, clone)
    stats_path = IndexPaths(clone).stats
    with open(stats_path) as f:
        stats = json.load(f)
    assert "format" in stats  # builds stamp the version
    stats["format"] = stats["format"] - 1
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    import pytest as _pytest

    from nextsearch_api_spark.operators.query import IndexReader
    with _pytest.raises(ValueError, match="format"):
        WandEngine(clone)
    with _pytest.raises(ValueError, match="format"):
        IndexReader(spark, clone)


def test_compactions_refuse_other_format(spark, tmp_path, tiny_index):
    """Both compactions load stats through the readers' format check: over
    an index whose stats.json says format 6 they raise "rebuild the index"
    before writing anything, so neither CURRENT.json nor a ``_g<N>`` dir
    appears."""
    import json
    import os
    import shutil

    from nextsearch_api_spark.config import CURRENT_POINTER
    from nextsearch_api_spark.sources.corpus import CORPUS_SCHEMA
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    root, _ = tiny_index
    clone = str(tmp_path / "v6_idx")
    shutil.copytree(root, clone)
    stats_path = IndexPaths(clone).stats
    with open(stats_path) as f:
        stats = json.load(f)
    stats["format"] = 6
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    src = str(tmp_path / "d_src")
    spark.createDataFrame([("zz/new", "n0.py", "c0", "py", "zznew hotterm")],
                          CORPUS_SCHEMA).write.parquet(src)
    deltas = str(tmp_path / "d")
    stream_corpus_to_forward(spark, src, deltas, str(tmp_path / "d_ck"),
                             trigger_once=True).awaitTermination(120)
    listing = sorted(os.listdir(clone))

    with pytest.raises(ValueError, match="rebuild the index"):
        compact_postings(spark, clone)
    with pytest.raises(ValueError, match="rebuild the index"):
        compact_deltas(spark, clone, deltas)
    assert sorted(os.listdir(clone)) == listing
    assert CURRENT_POINTER not in listing
    assert not [d for d in listing if "_g" in d]


def test_generation_gc_failed_delete_retried(tmp_path, monkeypatch):
    """A gc_pending dir whose deletion FAILS stays tracked for retry at the
    next flip instead of leaking untracked (ADVICE r3)."""
    import json
    import os

    from nextsearch_api_spark.config import CURRENT_POINTER
    from nextsearch_api_spark.plans import generations
    from nextsearch_api_spark.plans.generations import flip_generation

    root = str(tmp_path / "idx")
    os.makedirs(os.path.join(root, "postings_g1"))
    os.makedirs(os.path.join(root, "stale_old"))
    with open(os.path.join(root, CURRENT_POINTER), "w") as f:
        json.dump({"gen": 1, "postings": "postings_g1",
                   "gc_pending": ["stale_old"]}, f)

    # simulate an undeletable dir (open handles on a non-POSIX mount, perms)
    monkeypatch.setattr(generations.shutil, "rmtree",
                        lambda *a, **kw: None)
    m2 = flip_generation(root, {}, 2)
    assert "stale_old" in m2["gc_pending"]      # kept for retry
    # the pointer on disk agrees with the returned mapping
    with open(os.path.join(root, CURRENT_POINTER)) as f:
        assert "stale_old" in json.load(f)["gc_pending"]

    # once deletion works again, the NEXT flip clears it
    monkeypatch.undo()
    m3 = flip_generation(root, {}, 3)
    assert not os.path.exists(os.path.join(root, "stale_old"))
    assert "stale_old" not in m3["gc_pending"]


def test_backup_restore_roundtrip(spark, tmp_path):
    """Backup = consistent snapshot of the LIVE generation (resolved through
    CURRENT.json once); restore = servable index under base names with no
    pointer — reference scripts/backup_data.cpp analog on the generations
    layer. Restored index answers queries identically to the source."""
    import os

    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.operators.query import (
        IndexReader, QuerySpec, batch_search,
    )
    from nextsearch_api_spark.plans.backup import backup_index, restore_index
    from nextsearch_api_spark.sources.corpus import generate_corpus

    root = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, 120, seed=42), root)

    bdir = str(tmp_path / "bak")
    man = backup_index(root, bdir)
    assert {"docs", "postings", "lexicon", "stats"} <= set(man["components"])
    assert man["source_gen"] == 0
    assert os.path.exists(os.path.join(bdir, "_backup.json"))

    tgt = str(tmp_path / "restored")
    restore_index(bdir, tgt)
    assert not os.path.exists(os.path.join(tgt, "CURRENT.json"))

    specs = [QuerySpec(0, "buffer hotterm", 5), QuerySpec(1, "cache99", 3)]
    key = lambda r: (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9),
                     r["found"])
    a = sorted(key(r) for r in
               batch_search(IndexReader(spark, root), specs).collect())
    b = sorted(key(r) for r in
               batch_search(IndexReader(spark, tgt), specs).collect())
    assert a == b and a

    # refuse restoring over a non-empty target
    import pytest
    with pytest.raises(ValueError, match="not empty"):
        restore_index(bdir, root)
    with pytest.raises(ValueError, match="unknown components"):
        backup_index(root, str(tmp_path / "bak2"), components=["nope"])

    # after a compaction FLIP the backup resolves the live _gN dirs through
    # CURRENT.json (consistent cut) and the restore serves identically from
    # base names with no pointer
    out = compact_postings(spark, root)
    assert out["swapped"]
    b2 = str(tmp_path / "bak_g1")
    man2 = backup_index(root, b2)
    assert man2["source_gen"] == 1
    t2 = str(tmp_path / "restored_g1")
    restore_index(b2, t2)
    assert not os.path.exists(os.path.join(t2, "CURRENT.json"))
    c = sorted(key(r) for r in
               batch_search(IndexReader(spark, t2), specs).collect())
    assert c == a


def test_backup_consistent_cut_under_concurrent_flip(tmp_path, monkeypatch):
    """A generation flip that lands BETWEEN component copies must not mix
    generations in the snapshot (ADVICE r5 high): every component resolves
    from the one current_mapping() taken at backup start, so the backup is
    all-gen-1 even though CURRENT.json flips to gen 2 mid-copy."""
    import json
    import os

    from nextsearch_api_spark.plans import backup as backup_mod
    from nextsearch_api_spark.plans.backup import backup_index
    from nextsearch_api_spark.plans.generations import DEFAULT_COMPONENTS

    root = str(tmp_path / "idx")
    os.makedirs(root)
    # materialize gen-1 and gen-2 physical layouts with distinguishable
    # marker files (plus base-name gen-0 dirs: GC is deferred, they linger)
    for gen in (0, 1, 2):
        sfx = f"_g{gen}" if gen else ""
        for name, base in DEFAULT_COMPONENTS.items():
            if base.endswith(".json"):
                p = os.path.join(root, base[:-5] + sfx + ".json")
                with open(p, "w") as f:
                    json.dump({"gen": gen}, f)
            else:
                d = os.path.join(root, base + sfx)
                os.makedirs(d)
                with open(os.path.join(d, "MARKER"), "w") as f:
                    f.write(str(gen))

    def point_at(gen):
        m = {n: (b[:-5] + f"_g{gen}.json" if b.endswith(".json")
                 else b + f"_g{gen}")
             for n, b in DEFAULT_COMPONENTS.items()}
        m["gen"] = gen
        with open(os.path.join(root, "CURRENT.json"), "w") as f:
            json.dump(m, f)

    point_at(1)

    # flip the live pointer to gen 2 as soon as the FIRST component copies
    real_copytree = backup_mod.shutil.copytree
    real_copy2 = backup_mod.shutil.copy2
    flipped = {"done": False}

    def flip_once():
        if not flipped["done"]:
            flipped["done"] = True
            point_at(2)

    def copytree(src, dst, **kw):
        out = real_copytree(src, dst, **kw)
        flip_once()
        return out

    def copy2(src, dst, **kw):
        out = real_copy2(src, dst, **kw)
        flip_once()
        return out

    monkeypatch.setattr(backup_mod.shutil, "copytree", copytree)
    monkeypatch.setattr(backup_mod.shutil, "copy2", copy2)

    bdir = str(tmp_path / "bak")
    man = backup_index(root, bdir)
    assert flipped["done"] and man["source_gen"] == 1

    # every snapshotted component carries the gen-1 marker — no mixing
    for name, rel in man["components"].items():
        dst = os.path.join(bdir, rel)
        if os.path.isdir(dst):
            with open(os.path.join(dst, "MARKER")) as f:
                assert f.read() == "1", f"{name} came from the wrong generation"
        else:
            with open(dst) as f:
                assert json.load(f)["gen"] == 1, name


def _stream_delta(spark, tmp_path, n_base, n_new, n_updated):
    """A streamed delta over a ``generate_corpus(n_base, seed=42)`` base:
    ``n_new`` docs with unseen keys plus ``n_updated`` base keys re-ingested
    with new content. Returns the delta dir."""
    from nextsearch_api_spark.streaming.ingest import stream_corpus_to_forward

    keys = ["repo", "path", "commit"]
    new = generate_corpus(spark, n_base + n_new, seed=42).join(
        generate_corpus(spark, n_base, seed=42).select(*keys), keys,
        "left_anti")
    src = str(tmp_path / "incoming")
    write_corpus(new.unionByName(generate_corpus(spark, n_updated, seed=777)),
                 src, partition_by=None)
    deltas = str(tmp_path / "deltas")
    stream_corpus_to_forward(spark, src, deltas, str(tmp_path / "ckpt"),
                             trigger_once=True).awaitTermination(120)
    return deltas


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_compact_deltas_on_restored_backup(spark, tmp_path):
    """A backup holds serving components only, and compact_deltas needs no
    more: on a restored root it succeeds and gives the same postings,
    lexicon and answers as compacting the original root."""
    from nextsearch_api_spark.plans.backup import backup_index, restore_index
    from nextsearch_api_spark.streaming.ingest import compact_deltas

    p = str(tmp_path / "c")
    write_corpus(generate_corpus(spark, 120, seed=42), p, partition_by=None)
    root = str(tmp_path / "idx")
    build_index(spark, read_corpus(spark, p), root)
    bak, restored = str(tmp_path / "bak"), str(tmp_path / "restored")
    backup_index(root, bak)
    restore_index(bak, restored)
    deltas = _stream_delta(spark, tmp_path, 120, 20, 4)

    a = compact_deltas(spark, root, deltas)
    b = compact_deltas(spark, restored, deltas)
    assert a == b
    for comp in ("postings", "lexicon", "docs"):
        assert (_rows(spark, getattr(IndexPaths(restored), comp))
                == _rows(spark, getattr(IndexPaths(root), comp))), comp
    wa, wb = WandEngine(root), WandEngine(restored)
    for q in ("hotterm", "buffer cache3", "load config flush"):
        assert wb.search(q, 10) == wa.search(q, 10), q


def test_legacy_forward_pointer_collected_one_flip_later(tmp_path):
    """A CURRENT.json written by an older compaction still maps a
    ``forward`` component. Its next flip drops the entry and defers the
    directory to gc_pending; the flip after collects it."""
    import json
    import os

    from nextsearch_api_spark.config import CURRENT_POINTER
    from nextsearch_api_spark.plans.generations import flip_generation

    root = str(tmp_path / "idx")
    for d in ("postings_g1", "forward_g1", "postings_g2"):
        os.makedirs(os.path.join(root, d))
    with open(os.path.join(root, CURRENT_POINTER), "w") as f:
        json.dump({"gen": 1, "postings": "postings_g1",
                   "forward": "forward_g1", "gc_pending": []}, f)

    m2 = flip_generation(root, {"postings": "postings_g2"}, 2)
    assert "forward" not in m2
    assert m2["gc_pending"] == ["forward_g1", "postings_g1"]
    assert os.path.isdir(os.path.join(root, "forward_g1"))  # readers' grace
    with open(os.path.join(root, CURRENT_POINTER)) as f:
        assert "forward" not in json.load(f)

    m3 = flip_generation(root, {}, 3)
    assert not os.path.exists(os.path.join(root, "forward_g1"))
    assert not os.path.exists(os.path.join(root, "postings_g1"))
    assert m3["gc_pending"] == []
    assert not hasattr(IndexPaths(root), "forward")


def _assert_attained_block_max(root):
    """Every chunk row's max_impact is the float32 max of bm25_impact over
    its decoded postings at the generation's stats avgdl, k1 and b, with
    the doc lengths of the generation's docs Parquet, and stats total_len
    is the docs' summed doc_len."""
    import json

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from nextsearch_api_spark.functions.codec import decode_chunks_concat
    from nextsearch_api_spark.functions.scoring import bm25_impact

    paths = IndexPaths(root)
    with open(paths.stats) as f:
        st = json.load(f)
    t = ds.dataset(paths.postings).to_table()
    counts = t.column("count").to_numpy()
    ids, tfs = decode_chunks_concat(
        t.column("blob").combine_chunks(), t.column("tf_off"), counts,
        t.column("doc_lo"))
    docs = ds.dataset(paths.docs).to_table(columns=["doc_id", "doc_len"])
    len_of = dict(zip(docs.column("doc_id").to_pylist(),
                      docs.column("doc_len").to_pylist()))
    dls = np.array([len_of[d] for d in ids.tolist()])
    want = np.maximum.reduceat(
        bm25_impact(tfs, dls, st["k1"], st["b"], st["avgdl"]),
        np.cumsum(counts) - counts)
    got = t.column("max_impact").to_numpy()
    assert got.dtype == np.float32
    assert np.array_equal(got, want), (int((got != want).sum()), len(got))
    dl = ds.dataset(paths.docs).to_table(columns=["doc_len"]).column("doc_len")
    assert st["total_len"] == pc.sum(dl).as_py()
    assert st["N"] == len(dl)


def test_every_generation_publishes_attained_block_max(spark, tmp_path):
    """A fresh build, compact_postings and two compact_deltas in a row
    (inserts and updates) each publish chunk maxima attained at their own
    stats: the copied-through chunks of a delta merge are recomputed at
    the merged avgdl, not kept from the build."""
    from nextsearch_api_spark.sources.corpus import CORPUS_SCHEMA
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    p = str(tmp_path / "c")
    write_corpus(generate_corpus(spark, 300, seed=42), p, partition_by=None)
    corpus = read_corpus(spark, p)
    root = str(tmp_path / "idx")
    cfg = BuildConfig(chunk_size=16)
    build_index(spark, corpus, root, cfg)
    _assert_attained_block_max(root)

    assert compact_postings(spark, root, cfg)["swapped"]
    _assert_attained_block_max(root)

    keys = sorted(tuple(r) for r in
                  corpus.select("repo", "path", "commit", "lang").collect())
    avgdls = []
    for n, rows in enumerate((
        [(*keys[i][:3], keys[i][3], f"zzupdate{i} hotterm buffer")
         for i in (0, 100, 200)]
        + [("zz/new", f"n{i}.py", "c0", "py", f"zznew{i} hotterm load")
           for i in range(6)],
        [("zz/new", "n0.py", "c0", "py", "zzagain hotterm"),
         (*keys[50][:3], keys[50][3], "zzupdate50 config")]
        + [("zz/new", f"m{i}.py", "c0", "py", f"zznew{i} flush " * 40)
           for i in range(4)],
    )):
        src = str(tmp_path / f"d{n}_src")
        spark.createDataFrame(rows, CORPUS_SCHEMA).write.parquet(src)
        deltas = str(tmp_path / f"d{n}")
        stream_corpus_to_forward(spark, src, deltas,
                                 str(tmp_path / f"d{n}_ck"),
                                 trigger_once=True).awaitTermination(120)
        avgdls.append(compact_deltas(spark, root, deltas, cfg)["avgdl"])
        _assert_attained_block_max(root)
    assert avgdls[0] != avgdls[1]
