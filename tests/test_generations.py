"""Generation snapshots: every index handle reads the one generation its
IndexPaths named when it opened, whatever later compactions flip, and the
pointer has one reader."""

import ast
import glob
import json
import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.dataset as pds
import pytest

import nextsearch_api_spark
from nextsearch_api_spark.config import IndexPaths
from nextsearch_api_spark.operators.query import (
    IndexReader, QuerySpec, batch_search,
)


def test_index_paths_read_the_pointer_once(tmp_path):
    """An IndexPaths keeps the component paths of the generation live when
    it was constructed; a later flip shows only in a new one."""
    from nextsearch_api_spark.plans.generations import flip_generation

    root = str(tmp_path / "idx")
    os.makedirs(root)
    base = IndexPaths(root)
    assert (base.gen, base.postings) == (0, os.path.join(root, "postings"))

    flip_generation(root, {"postings": "postings_g1", "stats": "stats_g1.json"}, 1)
    g1 = IndexPaths(root)
    flip_generation(root, {"postings": "postings_g2"}, 2)
    assert base.postings == os.path.join(root, "postings")
    assert (g1.gen, g1.postings, g1.stats, g1.lexicon) == (
        1, os.path.join(root, "postings_g1"),
        os.path.join(root, "stats_g1.json"), os.path.join(root, "lexicon"))
    assert (IndexPaths(root).gen, IndexPaths(root).postings) == (
        2, os.path.join(root, "postings_g2"))


def test_index_paths_refuse_uri_roots():
    for root in ("s3a://bucket/index", "hdfs://nn:8020/index",
                 "file:///data/index"):
        with pytest.raises(ValueError, match="local or mounted"):
            IndexPaths(root)


def test_handles_pinned_across_compact_deltas(spark, tmp_path):
    """Handles opened before ``compact_deltas`` and first used after it
    answer exactly as handles used before it did: an IndexReader's batch
    rows on the driver path and the distributed plan, a WandEngine's
    search and hydrated metadata, an Engine's search and its first
    suggest. Fresh handles serve the new generation."""
    from nextsearch_api_spark.api import Engine
    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.operators.wand import WandEngine
    from nextsearch_api_spark.sources.corpus import (
        CORPUS_SCHEMA, generate_corpus, write_corpus,
    )
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    base_dir = str(tmp_path / "base")
    write_corpus(generate_corpus(spark, 150, seed=42), base_dir,
                 partition_by=None)
    root = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(base_dir), root)

    # 60 docs with keys the base has not seen, two of them with a new term
    keys = ["repo", "path", "commit"]
    new = generate_corpus(spark, 210, seed=42).join(
        generate_corpus(spark, 150, seed=42).select(*keys), keys, "left_anti")
    fresh_terms = spark.createDataFrame(
        [("zz/new", f"f{i}.py", "c0", "py", f"zzfresh hotterm buffer {i}")
         for i in range(2)], CORPUS_SCHEMA)
    src = str(tmp_path / "incoming")
    write_corpus(new.unionByName(fresh_terms), src, partition_by=None)
    deltas = str(tmp_path / "deltas")
    stream_corpus_to_forward(spark, src, deltas, str(tmp_path / "ckpt"),
                             trigger_once=True).awaitTermination(120)

    specs = [QuerySpec(0, "hotterm buffer", 5), QuerySpec(1, "hotterm", 1),
             QuerySpec(2, "load config flush", 10), QuerySpec(3, "zzfresh", 5)]
    texts = ["hotterm buffer", "load config", "cache3 flush hotterm",
             "zzfresh"]
    probes = [("zz", 5), ("bu", 5), ("hot", 3), ("def lo", 10)]

    def batches(rd):
        return [sorted(tuple(r) for r in batch_search(
                    rd, specs, small_query_max_postings=budget).collect())
                for budget in (None, 0)]

    def served(w):
        out = [w.search(q, 10) for q in texts]
        for r in out:
            w.hydrate(r["results"])
        return out

    def engine_answers(e):
        return ([e.suggest(q, k)["suggestions"] for q, k in probes],
                [e.search(q, 10)["results"] for q in texts])

    want_rows = batches(IndexReader(spark, root))
    want_served = served(WandEngine(root))
    want_engine = engine_answers(Engine(root))
    assert [r for rows in want_rows for r in rows] \
        and all(r[3] > 0 for rows in want_rows for r in rows)
    used = IndexReader(spark, root)
    assert batches(used) == want_rows
    pinned = [IndexReader(spark, root), WandEngine(root), Engine(root)]
    assert {h.paths.gen for h in pinned[:2]} == {0}

    assert compact_deltas(spark, root, deltas)["gen"] == 1

    rd, wand, eng = pinned
    assert batches(used) == want_rows
    assert batches(rd) == want_rows
    assert served(wand) == want_served
    assert engine_answers(eng) == want_engine
    assert "zzfresh" not in want_engine[0][0]

    rd1, wand1, eng1 = IndexReader(spark, root), WandEngine(root), Engine(root)
    assert (rd1.paths.gen, wand1.paths.gen, wand1.N) == (1, 1, wand.N + 62)
    now_rows = batches(rd1)
    assert now_rows[0] == now_rows[1] != want_rows[0]
    found = {r[0]: r[4] for r in now_rows[0]}
    now_served = served(wand1)
    assert now_served[0]["found"] == found[0] > want_served[0]["found"]
    assert "zzfresh" in engine_answers(eng1)[0][0]
    eng.reload()
    assert engine_answers(eng) == engine_answers(eng1)


@pytest.fixture()
def broken_postings(spark, tiny_index, tmp_path):
    """A copy of the tiny index whose postings files have no Parquet magic
    at their end, so no footer can be read."""
    root, _ = tiny_index
    clone = str(tmp_path / "idx")
    shutil.copytree(root, clone)
    files = glob.glob(IndexPaths(clone).postings + "/*.parquet")
    assert files
    for f in files:
        with open(f, "r+b") as fh:
            fh.seek(-4, os.SEEK_END)
            fh.write(b"XXXX")
    return IndexReader(spark, clone)


def test_unreadable_postings_raise_on_every_batch_path(broken_postings):
    """A postings read fault raises, the same pyarrow error on the driver
    path and on the distributed plan (where the driver plans the chunk
    prune from the postings footers), instead of switching plans."""
    from nextsearch_api_spark.config import BM25Params
    from nextsearch_api_spark.operators import query

    rd = broken_postings
    lex = pds.dataset(rd.paths.lexicon).to_table().to_pylist()
    term = max(lex, key=lambda r: (r["n_chunks"], r["term"]))
    assert term["n_chunks"] > 1  # k = 1 makes the distributed plan prune
    specs = [QuerySpec(0, term["term"], 1)]
    df_map, ranked = query._parse_batch(rd, specs, BM25Params())
    with pytest.raises(pa.ArrowInvalid):
        query.rank_on_driver(rd, ranked, BM25Params())
    with pytest.raises(pa.ArrowInvalid):
        batch_search(rd, specs)
    with pytest.raises(pa.ArrowInvalid):
        batch_search(rd, specs, small_query_max_postings=0)


def test_pointer_has_one_reader_and_query_catches_no_exception():
    """Only plans/generations.py touches the generation pointer: no other
    package module names CURRENT_POINTER (config.py only defines it) or
    spells its file name. operators/query.py has no handler for bare
    Exception (or a bare ``except``), so a read fault cannot quietly
    switch plans."""
    pkg = pathlib.Path(nextsearch_api_spark.__file__).parent
    users: dict[str, int] = {}
    broad: list[int] = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Name) and node.id == "CURRENT_POINTER"
                    or isinstance(node, ast.alias)
                    and node.name == "CURRENT_POINTER"
                    or isinstance(node, ast.Constant)
                    and node.value == "CURRENT.json"):
                users[rel] = users.get(rel, 0) + 1
            if rel == "operators/query.py" \
                    and isinstance(node, ast.ExceptHandler):
                caught = node.type.elts if isinstance(node.type, ast.Tuple) \
                    else [node.type]
                if any(t is None or isinstance(t, ast.Name)
                       and t.id in ("Exception", "BaseException")
                       for t in caught):
                    broad.append(node.lineno)
    assert set(users) == {"config.py", "plans/generations.py"}, users
    assert users["config.py"] == 2  # the name and its value
    assert broad == [], broad


def test_flip_writes_only_components_gen_and_gc(tmp_path):
    """The pointer a flip writes holds the component map, ``gen`` and
    ``gc_pending``; keys an older writer left are not carried forward."""
    from nextsearch_api_spark.config import CURRENT_POINTER
    from nextsearch_api_spark.plans.generations import (
        DEFAULT_COMPONENTS, flip_generation,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    with open(os.path.join(root, CURRENT_POINTER), "w") as f:
        json.dump({"gen": 1, "postings": "postings_g1",
                   "atomic_rename": "local", "gc_pending": []}, f)
    m = flip_generation(root, {"lexicon": "lexicon_g2"}, 2)
    assert set(m) == set(DEFAULT_COMPONENTS) | {"gen", "gc_pending"}
    assert (m["postings"], m["lexicon"], m["gc_pending"]) == (
        "postings_g1", "lexicon_g2", ["lexicon"])
