"""Structured Streaming ingestion: corpus stream → forward deltas → compacted
index; watermarked event rollup."""

import os

import pytest
from pyspark.sql import functions as F

from nextsearch_api_spark.functions.docstore import uid_column
from nextsearch_api_spark.operators.build import build_index
from nextsearch_api_spark.sources.corpus import generate_corpus, write_corpus


def _assert_delta_doc_lens(spark, src, deltas):
    """One docs-delta row per streamed doc, whose doc_len is the reference
    tokenizer's kept-token count of its content — 0 for a doc that keeps
    none."""
    from nextsearch_api_spark.functions.text import kept_tokens_py
    from nextsearch_api_spark.streaming.ingest import (
        _stream_doc_id, delta_docs_dir,
    )
    want = sorted(
        (r["doc_id"], len(kept_tokens_py(r["content"] or "")))
        for r in spark.read.parquet(src)
        .select(_stream_doc_id().alias("doc_id"), "content").collect())
    got = sorted(tuple(r) for r in spark.read.parquet(delta_docs_dir(deltas))
                 .select("doc_id", "doc_len").collect())
    assert got == want


def test_stream_ingest_and_compact(spark, tmp_path, monkeypatch):
    from nextsearch_api_spark.operators.wand import WandEngine
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    # base index over 150 docs
    base_dir = str(tmp_path / "base")
    write_corpus(generate_corpus(spark, 150, seed=42), base_dir, partition_by=None)
    root = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(base_dir), root)
    n_before = WandEngine(root).N

    # stream 60 genuinely-new docs (ids 150..209 of the same deterministic
    # corpus — keys the base index has never seen)
    stream_src = str(tmp_path / "incoming")
    new_docs = generate_corpus(spark, 210, seed=42).join(
        generate_corpus(spark, 150, seed=42).select("repo", "path", "commit"),
        ["repo", "path", "commit"], "left_anti",
    )
    write_corpus(new_docs, stream_src, partition_by=None)
    deltas = str(tmp_path / "deltas")
    q = stream_corpus_to_forward(
        spark, stream_src, deltas, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    delta_rows = spark.read.parquet(deltas)
    assert delta_rows.count() > 0
    assert delta_rows.agg(F.min("doc_id")).collect()[0][0] >= (1 << 62)
    # the forward delta holds exactly the reference tokenizer's per-doc
    # counts of the streamed docs: one (doc_id, term, tf, doc_len) row per
    # kept term, zero-token docs absent
    from collections import Counter

    from nextsearch_api_spark.functions.text import kept_tokens_py
    from nextsearch_api_spark.streaming.ingest import _stream_doc_id
    expected = []
    for r in (spark.read.parquet(stream_src)
              .select(_stream_doc_id().alias("doc_id"), "content").collect()):
        toks = kept_tokens_py(r["content"] or "")
        expected += [(r["doc_id"], t, tf, len(toks))
                     for t, tf in Counter(toks).items()]
    got = [tuple(r) for r in
           delta_rows.select("doc_id", "term", "tf", "doc_len").collect()]
    assert sorted(got) == sorted(expected)
    # docs delta materialized alongside the forward delta
    from nextsearch_api_spark.streaming.ingest import delta_docs_dir
    ddocs = spark.read.parquet(delta_docs_dir(deltas))
    assert ddocs.count() == 60
    assert {"doc_id", "uid", "repo", "doc_len", "content_sha256"} <= set(ddocs.columns)
    _assert_delta_doc_lens(spark, stream_src, deltas)

    stats = compact_deltas(spark, root, deltas)
    assert stats["N"] == n_before + 60 and stats["gen"] == 1

    # the flip is a single atomic pointer: CURRENT.json exists and every
    # component resolves to the new generation
    from nextsearch_api_spark.config import CURRENT_POINTER, IndexPaths
    assert os.path.exists(os.path.join(root, CURRENT_POINTER))
    p = IndexPaths(root)
    assert p.postings.endswith("_g1") and p.docs.endswith("_g1")
    assert p.stats.endswith("_g1.json")

    # merged docs table now hydrates streamed docs too; docs store no uid,
    # so it is derived with the index's uid_column()
    streamed_uid = ddocs.select("uid").first()[0]
    docs = spark.read.parquet(p.docs)
    assert "uid" not in docs.columns
    assert docs.where(uid_column() == streamed_uid).count() == 1
    assert docs.count() == stats["N"]

    # merged index serves queries over both old and new docs
    w = WandEngine(root)
    assert w.N == stats["N"]
    out = w.search("hotterm", 10)
    ids = [r["doc_id"] for r in out["results"]]
    assert out["found"] > 0 and len(ids) == 10

    # streaming is exactly-once on re-trigger: same checkpoint, no new input
    q2 = stream_corpus_to_forward(
        spark, stream_src, deltas, str(tmp_path / "ckpt"), trigger_once=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(deltas).count() == delta_rows.count()

    # re-ingesting an EXISTING key with new content is an UPDATE: the old
    # version's doc_id and postings are superseded, N stays constant
    upd_src = str(tmp_path / "updates")
    write_corpus(generate_corpus(spark, 5, seed=777), upd_src, partition_by=None)
    deltas2 = str(tmp_path / "deltas2")
    q3 = stream_corpus_to_forward(
        spark, upd_src, deltas2, str(tmp_path / "ckpt3"), trigger_once=True
    )
    q3.awaitTermination(120)
    stats2 = compact_deltas(spark, root, deltas2)
    assert stats2["N"] == stats["N"] and stats2["gen"] == 2
    # incremental: only delta-touched terms were re-chunked
    total_terms = spark.read.parquet(IndexPaths(root).lexicon).count()
    assert 0 < stats2["affected_terms"] < total_terms
    # serving stays exact across the avgdl change of incremental merges:
    # it equals the batch plan
    from tests.test_wand import (
        assert_matches_pruned_plan, assert_tiers_identical, parity_specs,
    )
    w2 = WandEngine(root)
    assert_matches_pruned_plan(
        spark, root, w2,
        [(q, 10) for q in ("hotterm", "hotterm buffer", "buffer cache3")])
    # bit-identical tiers over streamed 2^62-range ids, whose doc-id ranges
    # the distributed plan cuts from chunk metadata
    assert_tiers_identical(spark, root, w2, parity_specs(w2))
    from nextsearch_api_spark.operators import query as query_mod
    rd2 = query_mod.IndexReader(spark, root)
    df2 = rd2.term_dfs(["hotterm", "buffer"])
    monkeypatch.setattr(query_mod, "SMALL_QUERY_MAX_POSTINGS", 16)
    cuts = query_mod._doc_range_cuts(rd2, sorted(df2), df2, {})
    # the streamed postings spread over several ranges (cuts come from
    # chunk metadata, not from uniform widths over [0, N))
    assert sum(c >= (1 << 62) for c in cuts) >= 3, cuts
    assert_tiers_identical(spark, root, w2, parity_specs(w2))
    monkeypatch.undo()

    # `found` is EXACT over streamed 2^62-range ids: single-term found
    # equals the lexicon df, and an engine given the root as a one-segment
    # list reports the same count
    from nextsearch_api_spark.api import Engine
    eng = Engine(root)
    res = eng.search("hotterm", 3)
    df_hot = (spark.read.parquet(IndexPaths(root).lexicon)
              .where(F.col("term") == "hotterm").collect()[0]["df"])
    assert res["found"] == df_hot
    assert "mode" not in res  # internal field stripped from the JSON shape
    one, listed = (e.search("hotterm buffer", 3)
                   for e in (eng, Engine([root])))
    assert one.keys() == listed.keys()
    assert ({f: v for f, v in one.items() if not f.endswith("_ms")}
            == {f: v for f, v in listed.items() if not f.endswith("_ms")})
    docs2 = spark.read.parquet(IndexPaths(root).docs).withColumn(
        "uid", uid_column())
    assert docs2.count() == stats2["N"]
    # each uid appears exactly once (no duplicate versions)
    assert docs2.groupBy("uid").count().where(F.col("count") > 1).count() == 0
    # the updated docs now live at streamed ids; their dense ids are gone
    upd_uids = [r["uid"] for r in spark.read.parquet(
        delta_docs_dir(deltas2)).select("uid").collect()]
    upd_rows = docs2.where(F.col("uid").isin(upd_uids)).collect()
    assert len(upd_rows) == 5
    assert all(r["doc_id"] >= (1 << 62) for r in upd_rows)

    # the chunk prefilter stays on after compact_deltas: every generation's
    # chunk maxes are attained impacts at its own avgdl, so the plan prunes
    # the most-chunked untouched term, and the pruned distributed plan
    # agrees with the exhaustive driver path on single-term queries
    from nextsearch_api_spark.config import BM25Params
    from nextsearch_api_spark.operators.query import (
        IndexReader, QuerySpec, batch_search, _plan_chunk_prune,
    )
    rd = IndexReader(spark, root)
    lex = {r["term"]: (r["df"], r["n_chunks"]) for r in
           spark.read.parquet(IndexPaths(root).lexicon).collect()}
    many = max(sorted(lex), key=lambda t: lex[t][1])
    assert lex[many][1] > 2
    wl, _th, _ov = _plan_chunk_prune(rd, {0: [many]}, {0: 1},
                                     rd.term_dfs([many]), BM25Params())
    assert many in wl, (many, lex[many])

    def rows(df):
        return [(r["qid"], r["rank"], r["doc_id"], r["score"], r["found"])
                for r in df.orderBy("qid", "rank").collect()]
    for k in (1, 2, 5):
        specs = [QuerySpec(0, "hotterm", k), QuerySpec(1, many, k)]
        assert (rows(batch_search(rd, specs, small_query_max_postings=0))
                == rows(batch_search(rd, specs))), k


def test_compaction_rows_match_token_oracle(spark, tmp_path):
    """compact_deltas re-chunks from the postings. Over two compactions in a
    row (inserts and updates; the second also updates a streamed doc):
    - the compacted postings decode to exactly tokenize_tf of the base
      corpus minus the superseded ids plus the delta rows, with each doc's
      length from the new generation's doc store;
    - ``affected_terms`` counts exactly the delta's terms plus the terms of
      superseded docs, though some untouched term has a chunk whose range
      covers a superseded id it does not hold;
    - every untouched term's chunk rows are byte-identical to the base's
      but for max_impact, which the writer recomputes at the new avgdl."""
    from nextsearch_api_spark.config import BuildConfig, IndexPaths
    from nextsearch_api_spark.functions.docstore import DocStore
    from nextsearch_api_spark.operators.build import (
        CHUNKS_SCHEMA, assign_doc_ids, tokenize_tf,
    )
    from nextsearch_api_spark.operators.compact import (
        decode_postings_to_tokens,
    )
    from nextsearch_api_spark.sources.corpus import CORPUS_SCHEMA, read_corpus
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, delta_docs_dir, stream_corpus_to_forward,
    )

    cfg = BuildConfig(chunk_size=16)
    base_dir = str(tmp_path / "base")
    write_corpus(generate_corpus(spark, 150, seed=42), base_dir,
                 partition_by=None)
    base = read_corpus(spark, base_dir)
    root = str(tmp_path / "idx")
    build_index(spark, base, root, cfg)
    oracle = {(d, t): (tf, dl) for d, t, tf, dl in
              tokenize_tf(assign_doc_ids(base)).collect()}
    keys = sorted(tuple(r) for r in
                  base.select("repo", "path", "commit", "lang").collect())

    def delta(name, rows):
        src = str(tmp_path / f"{name}_src")
        spark.createDataFrame(rows, CORPUS_SCHEMA).write.parquet(src)
        out = str(tmp_path / name)
        stream_corpus_to_forward(spark, src, out, str(tmp_path / f"{name}_ck"),
                                 trigger_once=True).awaitTermination(120)
        return out

    def compact_and_check(deltas, oracle):
        paths = IndexPaths(root)
        before = spark.read.parquet(paths.postings).collect()
        d_uids = {r[0] for r in spark.read.parquet(delta_docs_dir(deltas))
                  .select("uid").collect()}
        sup = {d for d, uid in spark.read.parquet(paths.docs)
               .select("doc_id", uid_column()).collect() if uid in d_uids}
        rows = {(d, t): (tf, dl) for d, t, tf, dl in
                spark.read.parquet(deltas)
                .select("doc_id", "term", "tf", "doc_len").collect()}
        affected = ({t for _, t in rows}
                    | {t for d, t in oracle if d in sup})
        assert sup and any(r["term"] not in affected
                           and any(r["doc_lo"] <= s <= r["doc_hi"]
                                   for s in sup)
                           for r in before)

        out = compact_deltas(spark, root, deltas, cfg)
        assert out["affected_terms"] == len(affected)
        want = {k: v for k, v in oracle.items() if k[0] not in sup}
        want.update(rows)
        after = spark.read.parquet(IndexPaths(root).postings)
        tok = decode_postings_to_tokens(after).toArrow()
        dls = DocStore(IndexPaths(root).docs).doc_lens(tok.column("doc_id"))
        got = sorted(zip(*(tok.column(c).to_pylist()
                           for c in ("doc_id", "term", "tf")),
                         dls.tolist()))
        assert got == sorted((d, t, tf, dl)
                             for (d, t), (tf, dl) in want.items())

        def untouched(chunks):
            return sorted(tuple(r[c] for c in CHUNKS_SCHEMA.fieldNames())
                          for r in chunks if r["term"] not in affected)
        assert untouched(after.collect()) == untouched(before)
        return want, out

    # 1: three base docs updated, four new docs
    oracle, out1 = compact_and_check(delta("d1", [
        (*keys[i][:3], keys[i][3], f"zzupdate{i} hotterm buffer")
        for i in (0, 70, 140)] + [
        ("zz/new", f"n{i}.py", "c0", "py", f"zznew{i} hotterm load")
        for i in range(4)]), oracle)
    assert out1["gen"] == 1
    # 2: a streamed doc and another base doc updated, one more new doc
    oracle, out2 = compact_and_check(delta("d2", [
        ("zz/new", "n0.py", "c0", "py", "zzagain hotterm"),
        (*keys[30][:3], keys[30][3], "zzupdate30 config"),
        ("zz/new", "n9.py", "c0", "py", "zznew9 flush")]), oracle)
    assert out2["gen"] == 2 and out2["N"] == out1["N"] + 1


def test_update_without_tokens_supersedes_base_version(spark, tmp_path):
    """A key re-streamed with content that keeps no token is an update: its
    base version's docs row and postings are gone after compact_deltas, and
    a query for one of its old terms no longer returns it. Only docs with
    tokens are inserted, so N drops by one."""
    from nextsearch_api_spark.config import IndexPaths
    from nextsearch_api_spark.functions.text import kept_tokens_py
    from nextsearch_api_spark.operators.compact import (
        decode_postings_to_tokens,
    )
    from nextsearch_api_spark.operators.wand import WandEngine
    from nextsearch_api_spark.sources.corpus import CORPUS_SCHEMA, read_corpus
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    base_dir = str(tmp_path / "base")
    write_corpus(generate_corpus(spark, 40, seed=42), base_dir,
                 partition_by=None)
    root = str(tmp_path / "idx")
    build_index(spark, read_corpus(spark, base_dir), root)
    paths = IndexPaths(root)
    n_before = WandEngine(root).N
    key = sorted(tuple(r) for r in read_corpus(spark, base_dir)
                 .select("repo", "path", "commit", "lang", "content")
                 .collect())[7]
    old_terms = kept_tokens_py(key[4])
    assert old_terms
    old_id = (spark.read.parquet(paths.docs)
              .where((F.col("repo") == key[0]) & (F.col("path") == key[1])
                     & (F.col("commit") == key[2]))
              .select("doc_id").collect()[0][0])

    src = str(tmp_path / "upd_src")
    spark.createDataFrame([(*key[:4], "... ;; ()")], CORPUS_SCHEMA) \
        .write.parquet(src)
    deltas = str(tmp_path / "upd")
    stream_corpus_to_forward(spark, src, deltas, str(tmp_path / "upd_ck"),
                             trigger_once=True).awaitTermination(120)
    _assert_delta_doc_lens(spark, src, deltas)
    out = compact_deltas(spark, root, deltas)

    assert out["N"] == n_before - 1
    assert out["affected_terms"] == len(set(old_terms))
    paths = IndexPaths(root)
    docs = spark.read.parquet(paths.docs)
    assert docs.where(F.col("doc_id") == old_id).count() == 0
    assert decode_postings_to_tokens(spark.read.parquet(paths.postings)) \
        .where(F.col("doc_id") == old_id).count() == 0
    hits = WandEngine(root).search(old_terms[0], 100)["results"]
    assert old_id not in {r["doc_id"] for r in hits}


def test_failed_compaction_leaves_no_cached_frame(spark, tmp_path,
                                                 monkeypatch):
    """compact_deltas caches the affected-terms frame; when the postings
    write raises, the frame is released all the same: the session holds as
    many persistent RDDs after the failed call as before it, and the
    generation pointer has not moved."""
    from nextsearch_api_spark.config import IndexPaths
    from nextsearch_api_spark.operators import compact
    from nextsearch_api_spark.sources.corpus import CORPUS_SCHEMA, read_corpus
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    base_dir = str(tmp_path / "base")
    write_corpus(generate_corpus(spark, 40, seed=42), base_dir,
                 partition_by=None)
    root = str(tmp_path / "idx")
    build_index(spark, read_corpus(spark, base_dir), root)
    src = str(tmp_path / "new_src")
    spark.createDataFrame([("r/new", "a.py", "c1", "py", "zzleak hotterm")],
                          CORPUS_SCHEMA).write.parquet(src)
    deltas = str(tmp_path / "new")
    stream_corpus_to_forward(spark, src, deltas, str(tmp_path / "new_ck"),
                             trigger_once=True).awaitTermination(120)

    def failing_write(*args, **kwargs):
        raise OSError("postings write failed")

    monkeypatch.setattr(compact, "write_postings_sorted", failing_write)
    persistent = spark.sparkContext._jsc.getPersistentRDDs  # noqa: SLF001
    before = persistent().size()
    with pytest.raises(OSError, match="postings write failed"):
        compact_deltas(spark, root, deltas)
    assert persistent().size() == before
    assert IndexPaths(root).gen == 0


def test_ingest_flip_then_reload_hydrates_new_generation(spark, tmp_path):
    """An ingest flip writes the build's serving layouts (doc-id-sorted
    docs with their doc store, prefix-sorted suggest), and Engine.reload
    drops the old generation's handles: hydration then reads the new
    generation's doc store — streamed docs come back with their
    metadata."""
    from nextsearch_api_spark.api import Engine
    from nextsearch_api_spark.config import IndexPaths
    from nextsearch_api_spark.functions.docstore import DocStore
    from nextsearch_api_spark.functions.rowgroups import RowGroupIndex
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    base_dir = str(tmp_path / "base")
    write_corpus(generate_corpus(spark, 100, seed=42), base_dir,
                 partition_by=None)
    root = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(base_dir), root)
    eng = Engine(root)
    q = "hotterm"
    eng.search(q, 100)  # hydrates from the base generation's doc store
    old = eng.wand

    stream_src = str(tmp_path / "incoming")
    new_docs = generate_corpus(spark, 140, seed=42).join(
        generate_corpus(spark, 100, seed=42).select("repo", "path", "commit"),
        ["repo", "path", "commit"], "left_anti",
    )
    write_corpus(new_docs, stream_src, partition_by=None)
    deltas = str(tmp_path / "deltas")
    stream_corpus_to_forward(spark, stream_src, deltas,
                             str(tmp_path / "ckpt"),
                             trigger_once=True).awaitTermination(120)
    compact_deltas(spark, root, deltas)

    p = IndexPaths(root)
    assert p.docs.endswith("_g1")
    spans = RowGroupIndex(p.suggest, "prefix").ranges()
    assert spans and all(hi < lo2 for (_, hi, _, _), (lo2, _, _, _)
                         in zip(spans, spans[1:]))
    store = DocStore(p.docs).ranges()
    assert store and all(lo <= hi < lo2 for (lo, hi, _), (lo2, _, _)
                         in zip(store, store[1:]))
    assert store[-1][1] >= (1 << 62)  # the streamed ids are in the store

    eng.reload()
    assert eng.wand is not old  # the old generation's indexes are dropped
    meta = {r["doc_id"]: r.asDict() for r in spark.read.parquet(p.docs).select(
        "doc_id", uid_column().alias("uid"), "repo", "path", "commit",
        "lang").collect()}
    for m in meta.values():
        del m["doc_id"]
    out = eng.search(q, 100)
    res = out["results"]
    assert len(res) == min(100, out["found"]) and out["found"] > 0
    assert any(r["doc_id"] >= (1 << 62) for r in res)  # streamed hits
    for r in res:
        assert {f: r[f] for f in meta[r["doc_id"]]} == meta[r["doc_id"]], r


def test_stream_event_rollup(spark, tmp_path):
    from nextsearch_api_spark.streaming.ingest import stream_event_rollup

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "rollup")
    q = stream_event_rollup(
        spark, os.path.join(src), out, str(tmp_path / "ckpt2"),
        window="1 hour", watermark="0 seconds", trigger_once=True,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # append mode with availableNow emits windows closed by the watermark;
    # at minimum the schema contract holds and counts are positive
    assert set(got.columns) == {"event_type", "window_start", "n", "sum_value"}
    assert got.where(F.col("n") <= 0).count() == 0


def test_stream_user_sessions_stateful(spark, tmp_path):
    """applyInPandasWithState session operator: in-batch session closes are
    exact; trailing sessions close via EVENT-TIME TIMEOUT once the
    watermark passes last_event + gap; state survives restarts through the
    checkpoint."""
    import os

    import pandas as pd

    from nextsearch_api_spark.streaming.ingest import stream_user_sessions

    base = pd.Timestamp("2024-01-01")
    cols = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def ev(eid, uid, minutes, val):
        return (eid, (base + pd.Timedelta(minutes=minutes)).to_pydatetime(),
                uid, "click", float(val), "{}")

    src = str(tmp_path / "events_src")
    os.makedirs(src, exist_ok=True)
    # user 1: session A = events at 0/5/10 min; session B = 60/62 min
    # (gap 50 min > 30 min session gap). user 2: one event — only a
    # timeout can close it.
    batch1 = [ev(0, 1, 0, 1.0), ev(1, 1, 5, 2.0), ev(2, 1, 10, 3.0),
              ev(3, 1, 60, 4.0), ev(4, 1, 62, 5.0), ev(5, 2, 0, 7.0)]
    spark.createDataFrame(batch1, cols).coalesce(1).write.mode(
        "append").parquet(src)

    out, ckpt = str(tmp_path / "sessions"), str(tmp_path / "ckpt_sess")

    def run_trigger():
        q = stream_user_sessions(spark, src, out, ckpt, gap_s=1800,
                                 watermark="1 minute")
        q.awaitTermination(120)

    def got():
        import glob
        if not glob.glob(out + "/*.parquet"):
            return set()
        return {
            (r["user_id"], r["session_start"], r["session_end"], r["n"],
             round(r["sum_value"], 6))
            for r in spark.read.parquet(out).collect()
        }

    run_trigger()
    sess_a = (1, base.to_pydatetime(),
              (base + pd.Timedelta(minutes=10)).to_pydatetime(), 3, 6.0)
    assert sess_a in got()  # closed IN-BATCH by the 60-min event

    # later event (any user) advances the watermark past both trailing
    # sessions' timeouts; availableNow runs no-data batches to fire them
    spark.createDataFrame([ev(6, 3, 300, 1.0)], cols).coalesce(1).write.mode(
        "append").parquet(src)
    sess_b = (1, (base + pd.Timedelta(minutes=60)).to_pydatetime(),
              (base + pd.Timedelta(minutes=62)).to_pydatetime(), 2, 9.0)
    sess_u2 = (2, base.to_pydatetime(), base.to_pydatetime(), 1, 7.0)
    for _ in range(3):  # timeouts may need an extra (no-data) micro-batch
        run_trigger()
        if {sess_b, sess_u2} <= got():
            break
    assert {sess_a, sess_b, sess_u2} <= got()
    # nothing invented: only these users appear
    assert {g[0] for g in got()} <= {1, 2, 3}


def test_stream_user_sessions_late_event_within_watermark(spark, tmp_path):
    """Out-of-order events inside the watermark must not regress session
    bounds (VERDICT r4 wrong #3 / ADVICE r4 #2): a later micro-batch whose
    events all PRECEDE the carried session's last event merges with
    session_start = true earliest event and session_end = carried last —
    bounds are min/max over both sides, monotone under bounded disorder."""
    import os

    import pandas as pd

    from nextsearch_api_spark.streaming.ingest import stream_user_sessions

    base = pd.Timestamp("2024-01-01")
    cols = ("event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string")

    def ev(eid, uid, seconds, val):
        return (eid, (base + pd.Timedelta(seconds=seconds)).to_pydatetime(),
                uid, "click", float(val), "{}")

    src = str(tmp_path / "events_src")
    os.makedirs(src, exist_ok=True)
    out, ckpt = str(tmp_path / "sessions"), str(tmp_path / "ckpt_sess")

    def run_trigger():
        q = stream_user_sessions(spark, src, out, ckpt, gap_s=1800,
                                 watermark="1 minute")
        q.awaitTermination(120)

    # batch 1: user 5 events at t=600s and t=630s → carried state
    # (start=600, last=630); watermark after the batch = 630s - 60s = 570s
    spark.createDataFrame([ev(0, 5, 600, 1.0), ev(1, 5, 630, 2.0)],
                          cols).coalesce(1).write.mode("append").parquet(src)
    run_trigger()

    # batch 2: BOTH events late but within the watermark (≥570s) and older
    # than the carried last (630s); one even precedes the carried start.
    # Buggy merge: end regresses to 612, start pinned at 600.
    spark.createDataFrame([ev(2, 5, 588, 4.0), ev(3, 5, 612, 8.0)],
                          cols).coalesce(1).write.mode("append").parquet(src)
    run_trigger()

    # a much later event from another user pushes the watermark past the
    # trailing session's timeout (availableNow fires no-data batches)
    spark.createDataFrame([ev(4, 6, 36000, 1.0)], cols).coalesce(1) \
        .write.mode("append").parquet(src)
    expected = (5, (base + pd.Timedelta(seconds=588)).to_pydatetime(),
                (base + pd.Timedelta(seconds=630)).to_pydatetime(), 4, 15.0)
    got = set()
    for _ in range(3):
        run_trigger()
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n"],
             round(r["sum_value"], 6))
            for r in spark.read.parquet(out).collect()
        }
        if expected in got:
            break
    assert expected in got, got


def test_sessions_stream_equals_batch_twin(spark, tmp_path):
    """The stateful streaming session operator must emit EXACTLY the
    sessions the batch gaps-and-islands twin (entry `user_sessions_batch`)
    derives from the same events, once the watermark has closed everything —
    the stream/batch consistency bar events_hourly already meets for
    rollups. A far-future sentinel event from a dummy user advances the
    watermark past every real trailing session's timeout."""
    import os

    import pandas as pd

    import __spark_entry__ as em
    from nextsearch_api_spark.streaming.ingest import stream_user_sessions

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = pd.Timestamp("2024-03-01")
    cols = ("event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string")
    rng_rows = []
    eid = 0
    # 3 users with multi-session histories (gaps straddling 30 min)
    for uid, minutes in [(1, [0, 10, 20, 70, 75, 200]),
                         (2, [5, 50, 95, 140]),     # exactly 45-min gaps
                         (3, [0, 29, 58, 120])]:    # 29-min gaps chain
        for m in minutes:
            eid += 1
            rng_rows.append((eid, (base + pd.Timedelta(minutes=m)).to_pydatetime(),
                             uid, "click", float(uid), "{}"))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    real = spark.createDataFrame(rng_rows, cols)
    real.coalesce(1).write.parquet(os.path.join(sf_dir, "events.parquet"))

    # stream the same events + a sentinel that closes all trailing sessions
    src = str(tmp_path / "incoming")
    os.makedirs(src, exist_ok=True)
    real.coalesce(1).write.mode("append").parquet(src)
    sentinel = [(9999, (base + pd.Timedelta(days=30)).to_pydatetime(),
                 999, "click", 0.0, "{}")]
    out, ckpt = str(tmp_path / "sessions"), str(tmp_path / "ckpt")

    def run_trigger():
        q = stream_user_sessions(spark, src, out, ckpt, gap_s=1800,
                                 watermark="1 minute")
        q.awaitTermination(120)

    run_trigger()
    spark.createDataFrame(sentinel, cols).coalesce(1).write.mode(
        "append").parquet(src)

    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n"],
         round(r["sum_value"], 6))
        for r in em.q_user_sessions_batch(spark, sf_dir).collect()
    }
    got = set()
    for _ in range(4):  # timeouts may need extra no-data micro-batches
        run_trigger()
        got = {
            (r["user_id"],
             r["session_start"].strftime("%Y-%m-%d %H:%M:%S"),
             r["session_end"].strftime("%Y-%m-%d %H:%M:%S"),
             r["n"], round(r["sum_value"], 6))
            for r in spark.read.parquet(out).collect()
            if r["user_id"] != 999
        }
        if got == expected:
            break
    assert got == expected


def test_stream_dedup_events(spark, tmp_path):
    """At-least-once delivery dedup: originals in one file, a redelivered
    subset in another; the deduped stream equals the distinct originals
    exactly (content-deterministic because duplicate payloads are
    identical). Watermark set far above the data span so no row is
    late-dropped and no state expires mid-test — the test isolates the
    dedup semantics from the horizon bound."""
    from nextsearch_api_spark.streaming.ingest import stream_dedup_events

    src = str(tmp_path / "src")
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .limit(200).cache())
    n = ev.count()
    ev.coalesce(1).write.parquet(src)
    ev.where(F.col("event_id") % 3 == 0).coalesce(1) \
        .write.mode("append").parquet(src)

    out = str(tmp_path / "dedup")
    q = stream_dedup_events(spark, src, out, str(tmp_path / "ckpt_dd"),
                            watermark="365 days")
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n
    key = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert sorted(map(tuple, got.select(*key).collect())) == \
        sorted(map(tuple, ev.select(*key).collect()))
