"""Doc store (functions/docstore.py): the docs component's memory-mapped
Arrow twins hydrate serving and batch hits exactly like a left join against
the Parquet docs, stay out of Parquet reads of docs, travel with the docs
through compaction and backup, and are the only code that maps Arrow
files."""

import ast
import os
import pathlib
import shutil

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nextsearch_api_spark.config import IndexPaths
from nextsearch_api_spark.functions.docstore import (
    FIRST_ID_KEY, HIT_FIELDS, DocStore, uid_column, uid_of, write_doc_store,
)
from nextsearch_api_spark.operators.build import build_index
from nextsearch_api_spark.sources.corpus import generate_corpus, write_corpus

META = HIT_FIELDS  # uid, repo, path, commit, lang


@pytest.fixture(scope="module")
def compacted_index(spark, tmp_path_factory):
    """A 100-doc build plus a streamed delta of new docs, compacted into
    generation 1 → (root, (stats N, Spark rows, pyarrow.dataset rows) of
    the docs right after the build, the delta directory)."""
    from nextsearch_api_spark.streaming.ingest import (
        compact_deltas, stream_corpus_to_forward,
    )

    tmp = tmp_path_factory.mktemp("compacted")
    base_dir = str(tmp / "base")
    write_corpus(generate_corpus(spark, 100, seed=42), base_dir,
                 partition_by=None)
    root = str(tmp / "idx")
    build_index(spark, spark.read.parquet(base_dir), root)
    docs = IndexPaths(root).docs
    built = (_stats_n(root), spark.read.parquet(docs).count(),
             ds.dataset(docs).count_rows())
    stream_src = str(tmp / "incoming")
    new_docs = generate_corpus(spark, 140, seed=42).join(
        generate_corpus(spark, 100, seed=42).select("repo", "path", "commit"),
        ["repo", "path", "commit"], "left_anti",
    )
    write_corpus(new_docs, stream_src, partition_by=None)
    deltas = str(tmp / "deltas")
    stream_corpus_to_forward(spark, stream_src, deltas, str(tmp / "ckpt"),
                             trigger_once=True).awaitTermination(120)
    compact_deltas(spark, root, deltas)
    return root, built, deltas


def _stats_n(root: str) -> int:
    import json
    with open(IndexPaths(root).stats) as f:
        return int(json.load(f)["N"])


def _full_join(docs_path: str) -> dict:
    """doc_id → hit fields from the Parquet docs, the uid derived from
    (repo, path, commit) as the index defines it (no uid is stored)."""
    t = ds.dataset(docs_path).to_table(
        columns=["doc_id", *META[1:]]).to_pydict()
    t["uid"] = [uid_of(*r) for r in zip(t["repo"], t["path"], t["commit"])]
    return {d: {f: t[f][i] for f in META} for i, d in enumerate(t["doc_id"])}


_field = st.one_of(
    st.none(),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=12),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_field, _field, _field), min_size=1, max_size=20))
def test_uid_twin_equals_spark_expression(spark, rows):
    """uid_of equals uid_column on rows with non-ASCII and null fields
    (concat_ws skips nulls; an all-null row hashes the empty string)."""
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string")
    got = [r[0] for r in df.select(uid_column()).collect()]
    assert got == [uid_of(*r) for r in rows]


@pytest.mark.parametrize("which", ["built", "compacted"])
def test_uid_twin_equals_stored_uid(spark, tiny_index, compacted_index,
                                    which):
    """The docs store no uid: every docs row's uid is uid_column() over
    its (repo, path, commit), and equals the twin hydration uses. After
    compact_deltas, every streamed doc's uid — stored by the streaming
    sink in its delta docs — is among them."""
    root = tiny_index[0] if which == "built" else compacted_index[0]
    docs = spark.read.parquet(IndexPaths(root).docs)
    assert "uid" not in docs.columns
    rows = docs.select(uid_column().alias("uid"), "repo", "path",
                       "commit").collect()
    assert rows
    assert [r["uid"] for r in rows] == [uid_of(r["repo"], r["path"],
                                               r["commit"]) for r in rows]
    if which == "compacted":
        from nextsearch_api_spark.streaming.ingest import delta_docs_dir
        streamed = {r[0] for r in spark.read.parquet(
            delta_docs_dir(compacted_index[2])).where("doc_len > 0")
            .select("uid").collect()}
        assert streamed and streamed <= {r["uid"] for r in rows}


def _twin_ids(path: str) -> list:
    """The doc ids of one twin's docs: its ``doc_id`` column, or, in a
    dense twin, the first id plus the offset of each row with a doc."""
    import pyarrow as pa
    from pyarrow import ipc

    with pa.memory_map(path) as mm:
        t = ipc.open_file(mm).read_all()
    if "doc_id" in t.column_names:
        return t.column("doc_id").to_pylist()
    first = int(t.schema.metadata[FIRST_ID_KEY])
    lens = t.column("doc_len").to_pylist()
    return [first + i for i, n in enumerate(lens) if n]


def test_built_doc_store_files_are_disjoint_and_ascending(tiny_index):
    """One Arrow file per non-empty docs part; in doc-id order their
    [first, last] ranges are disjoint and ascending, and within every file
    the ids ascend. Together they hold exactly the Parquet docs' ids."""
    root, _ = tiny_index
    docs = IndexPaths(root).docs
    spans = DocStore(docs).ranges()
    parts = [p for p in os.listdir(docs) if p.endswith(".parquet")
             and pq.read_metadata(os.path.join(docs, p)).num_rows]
    assert spans and len(spans) == len(parts)
    for (lo, hi, _), (lo2, _, _) in zip(spans, spans[1:]):
        assert lo <= hi < lo2
    ids = []
    for lo, hi, path in spans:
        col = _twin_ids(path)
        assert col == sorted(col) and (col[0], col[-1]) == (lo, hi)
        ids += col
    parquet_ids = ds.dataset(docs).to_table(
        columns=["doc_id"]).column("doc_id").to_pylist()
    assert ids == sorted(parquet_ids)


def test_engine_hydration_matches_full_join(spark, tiny_index, tmp_path,
                                            monkeypatch):
    """Engine.search fills the same fields as a left join against the whole
    docs table, for k in {1, 10, 100}; a hit whose docs row is missing from
    the store keeps only its rank/score fields, and hydration opens no
    Parquet file. A posting whose doc is missing from both halves (Parquet
    and doc store) has no doc length, so a search that scores it raises
    rather than rank it."""
    import pyarrow.dataset as pds

    from nextsearch_api_spark.api import Engine

    root, _ = tiny_index
    clone = str(tmp_path / "idx")
    shutil.copytree(root, clone)
    eng = Engine(clone)
    docs_dir = IndexPaths(clone).docs
    meta = _full_join(docs_dir)
    q = "hotterm buffer"
    for k in (1, 10, 100):
        out = eng.search(q, k)
        res = out["results"]
        assert len(res) == min(k, out["found"])
        for r in res:
            assert {f: r[f] for f in META} == meta[r["doc_id"]], r

    def no_parquet(*a, **kw):
        raise AssertionError("hydration opened a Parquet file")

    absent = max(meta) + 1
    results = eng.wand.search(q + " cache", 100)["results"]
    results.append({"rank": len(results) + 1, "doc_id": absent, "score": 0.0})
    for name in ("ParquetFile", "read_table", "read_metadata"):
        monkeypatch.setattr(pq, name, no_parquet)
    monkeypatch.setattr(pds, "dataset", no_parquet)
    eng.wand.hydrate(results)
    monkeypatch.undo()
    assert results[-1] == {"rank": len(results), "doc_id": absent,
                           "score": 0.0}
    assert all({f: r[f] for f in META} == meta[r["doc_id"]]
               for r in results[:-1])

    # drop the top hit's docs row: one Parquet file without it, and the
    # doc store rewritten from that file
    top = eng.search(q, 1)["results"][0]["doc_id"]
    t = ds.dataset(docs_dir).to_table()
    shutil.rmtree(docs_dir)
    os.makedirs(docs_dir)
    t = t.filter(pc.not_equal(t.column("doc_id"), top))
    pq.write_table(t.sort_by("doc_id"), os.path.join(docs_dir, "p.parquet"))
    write_doc_store(spark, docs_dir)
    eng.reload()
    with pytest.raises(KeyError, match=f"e.g. {top}"):
        eng.search(q + " cache", 10)


def test_concurrent_hits_share_one_store(tiny_index):
    """Threads hydrating through one DocStore get the same rows as a
    left join against the Parquet docs, absent ids included."""
    import sys
    import threading

    root, _ = tiny_index
    docs = IndexPaths(root).docs
    store = DocStore(docs)
    meta = _full_join(docs)
    ids = sorted(meta)
    errors: list = []

    def worker(seed: int) -> None:
        try:
            for i in range(40):
                want = [ids[(seed * 37 + i * 11 + j * 53) % len(ids)]
                        for j in range(1 + i % 7)] + [-5, 10**12]
                got = store.hits(want)
                for n, d in enumerate(want):
                    row = {f: got[f][n] for f in META}
                    assert row == meta.get(d, dict.fromkeys(META)), (d, row)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]


def test_docs_read_as_n_parquet_rows(spark, compacted_index):
    """The doc store's directory is hidden from Parquet reads: after
    build_index and after compact_deltas, Spark and pyarrow.dataset both
    read the docs component as exactly stats N rows."""
    root, (n_built, spark_built, ds_built), _ = compacted_index
    assert spark_built == ds_built == n_built > 0
    p = IndexPaths(root)
    assert p.docs.endswith("_g1")
    n = _stats_n(root)
    assert n > n_built
    assert spark.read.parquet(p.docs).count() == n
    assert ds.dataset(p.docs).count_rows() == n


def test_backup_restore_serves_identical_hydrated_answers(
        spark, compacted_index, tmp_path):
    """A backup of a compacted generation, restored under base names,
    serves answers == the source's, hydrated metadata included, on the
    serving tier and the batch tier."""
    from nextsearch_api_spark.api import Engine
    from nextsearch_api_spark.operators.query import (
        IndexReader, QuerySpec, batch_search,
    )
    from nextsearch_api_spark.plans.backup import backup_index, restore_index

    root = compacted_index[0]
    backup_index(root, str(tmp_path / "bak"))
    restored = str(tmp_path / "restored")
    restore_index(str(tmp_path / "bak"), restored)
    specs = [QuerySpec(0, "hotterm buffer", 10), QuerySpec(1, "hotterm", 100)]

    def answers(r):
        eng = Engine(r)
        serving = [eng.search(s.q, s.k)["results"] for s in specs]
        batch = sorted(tuple(row) for row in batch_search(
            IndexReader(spark, r), specs, hydrate=True).collect())
        return serving, batch

    src, dst = answers(root), answers(restored)
    assert src == dst
    # streamed hits come back hydrated
    assert any(r["doc_id"] >= (1 << 62) and r["uid"]
               for res in src[0] for r in res)


def test_only_the_docstore_maps_arrow_files():
    """Walking the package source, only functions/docstore.py calls
    ``pa.memory_map``, ``ipc.open_file`` or ``ipc.new_file``, or names the
    ``_meta`` directory: the store's layout has one owner."""
    import nextsearch_api_spark

    pkg = pathlib.Path(nextsearch_api_spark.__file__).parent
    owner = "functions/docstore.py"
    calls = {"memory_map", "open_file", "new_file"}
    found: set[str] = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            name = None
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.attr if isinstance(f, ast.Attribute)
                        else f.id if isinstance(f, ast.Name) else None)
            hit = (name in calls
                   or (isinstance(node, ast.Constant)
                       and isinstance(node.value, str)
                       and "_meta" in node.value.split("/")))
            if hit:
                found.add(rel)
    assert found == {owner}, found


# ------------------------------------------------------------ doc lengths --

STREAM = 1 << 62

# one docs component with a part of each shape, in doc-id order:
# gapless ids, ids with zero-token holes, dense and streamed ids in one
# part, and streamed ids only
LEN_PARTS = {
    "gapless": [(d, 1 + d % 7) for d in range(1, 51)],
    "holes": [(d, 3 + d % 11) for d in range(100, 200) if d % 3],
    "straddle": [(300, 4), (301, 9), (STREAM + 5, 2), (STREAM + 10**12, 70)],
    "streamed": [(STREAM + 2 * 10**12 + d * 7919, 1 + d) for d in range(40)],
}


@pytest.fixture(scope="module")
def len_store(spark, tmp_path_factory):
    import pyarrow as pa

    docs = tmp_path_factory.mktemp("lens") / "docs"
    docs.mkdir()
    for i, rows in enumerate(LEN_PARTS.values()):
        n = len(rows)
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "repo": ["r"] * n, "path": [f"p{r[0]}" for r in rows],
            "commit": ["c"] * n, "lang": ["py"] * n,
            "doc_len": pa.array([r[1] for r in rows], pa.int32()),
        }), docs / f"part-{i:05d}.parquet")
    write_doc_store(spark, str(docs))
    return str(docs)


@pytest.mark.parametrize("shape", list(LEN_PARTS))
def test_doc_lens_per_part_shape(len_store, shape):
    """Every id of one part, in doc order and shuffled, gets its length."""
    import numpy as np

    store = DocStore(len_store)
    ids = np.array([r[0] for r in LEN_PARTS[shape]], dtype=np.int64)
    want = [r[1] for r in LEN_PARTS[shape]]
    got = store.doc_lens(ids)
    assert got.dtype == np.uint32 and got.tolist() == want
    perm = np.random.default_rng(7).permutation(ids.size)
    assert store.doc_lens(ids[perm]).tolist() == [want[i] for i in perm]
    assert store.doc_lens(ids[:0]).tolist() == []


ALL_LENS = dict(r for rows in LEN_PARTS.values() for r in rows)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.sampled_from(sorted(ALL_LENS)), max_size=60),
       st.booleans())
def test_doc_lens_across_parts(len_store, ids, ascending):
    """Ids of any parts, repeated, ascending or in any order."""
    ids = sorted(ids) if ascending else ids
    assert DocStore(len_store).doc_lens(ids).tolist() \
        == [ALL_LENS[d] for d in ids]


@pytest.mark.parametrize("missing", [
    0,                      # before the first part
    102,                    # a zero-token hole of a part
    51,                     # past a part's last id, before the next
    302,                    # between the dense ids of a straddling part
    STREAM + 6,             # between its streamed ids
    STREAM + 2 * 10**12 + 1,  # inside a streamed part
    STREAM + 3 * 10**12,    # past the last part
])
def test_doc_lens_raises_on_an_id_without_a_doc(len_store, missing):
    store = DocStore(len_store)
    with pytest.raises(KeyError, match=str(missing)):
        store.doc_lens([1, missing, 300])


@pytest.mark.parametrize("which", ["built", "compacted"])
def test_doc_lens_equal_parquet_doc_len(tiny_index, compacted_index, which):
    """On a built index (zero-token holes among its ids) and
    after compact_deltas (streamed ids above 2^62 in the last parts), the
    store's length of every doc equals its Parquet ``doc_len``."""
    root = tiny_index[0] if which == "built" else compacted_index[0]
    t = ds.dataset(IndexPaths(root).docs).to_table(
        columns=["doc_id", "doc_len"])
    got = DocStore(IndexPaths(root).docs).doc_lens(t.column("doc_id"))
    assert got.tolist() == t.column("doc_len").to_pylist()
    assert any(d >= STREAM for d in t.column("doc_id").to_pylist()) \
        == (which == "compacted")


# ------------------------------------------------------- offset addressing --

def test_holes_and_edges_of_every_file_have_no_doc(len_store):
    """A dense part with holes is one row per id of its span, without a
    doc_id column: a hole id, and the ids just before the first and just
    past the last id of every file, give all-None hits and a doc_lens
    KeyError, while the ids of the part's docs resolve to their rows."""
    import numpy as np

    store = DocStore(len_store)
    spans = store.ranges()
    holes = [d for d in range(100, 200) if d % 3 == 0]
    lo, hi, path = next(r for r in spans if r[0] == 100)
    assert (lo, hi) == (100, 199) and _twin_ids(path) == [
        d for d, _ in LEN_PARTS["holes"]]
    import pyarrow as pa
    from pyarrow import ipc
    with pa.memory_map(path) as mm:
        t = ipc.open_file(mm).read_all()
    assert "doc_id" not in t.column_names and t.num_rows == 100
    file, row = store.rows([100, 101, 102, 199])
    assert file.tolist() == [spans.index((lo, hi, path))] * 4
    assert row.tolist() == [0, 1, 2, 99]

    edges = {e for lo, hi, _ in spans for e in (lo - 1, hi + 1)}
    absent = sorted((set(holes) | edges) - set(ALL_LENS))
    assert len(absent) >= len(holes) + 2 * len(spans) - 1
    got = store.hits(absent + [101])
    for j in range(len(absent)):
        assert {f: got[f][j] for f in META} == dict.fromkeys(META), \
            absent[j]
    assert got["path"][-1] == "p101" and got["uid"][-1] == uid_of(
        "r", "p101", "c")
    for d in absent:
        with pytest.raises(KeyError, match=str(d)):
            store.doc_lens(np.array([101, d], dtype=np.int64))
    assert store.doc_lens(absent[:0]).tolist() == []


@pytest.mark.parametrize("size,width", [
    (127, 8), (128, 8), (129, 16),
    (32767, 16), (32768, 16), (32769, 32),
])
def test_dictionary_indices_take_the_narrowest_width(spark, tmp_path, size,
                                                     width):
    """``repo`` and ``lang`` keep dictionary indices of the narrowest signed
    width whose range holds the dictionary's last index — across the int8
    and int16 limits — and hydrate the right value from any index."""
    import pyarrow as pa
    from pyarrow import ipc

    docs = tmp_path / "docs"
    docs.mkdir()
    n = max(size, 200)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "repo": [f"repo{i % size}" for i in range(n)],
        "path": [f"p{i}" for i in range(n)], "commit": ["c"] * n,
        "lang": ["py"] * n,
        "doc_len": pa.array([1] * n, pa.int32()),
    }), docs / "part-00000.parquet")
    write_doc_store(spark, str(docs))
    (_, _, path), = DocStore(str(docs)).ranges()
    with pa.memory_map(path) as mm:
        schema = ipc.open_file(mm).schema
    assert schema.field("repo").type.index_type == getattr(pa, f"int{width}")()
    assert schema.field("lang").type.index_type == pa.int8()
    probe = [0, 1, size - 2, size - 1, n - 1]
    got = DocStore(str(docs)).hits(probe)
    assert got["repo"] == [f"repo{i % size}" for i in probe]
    assert got["lang"] == ["py"] * len(probe)


def _store_of(spark, root, rows: int, parts: int = 4) -> str:
    """A docs component of ``rows`` dense docs (every 7th id a hole) in
    ``parts`` Parquet parts, with its doc store."""
    import pyarrow as pa

    docs = root / "docs"
    docs.mkdir(parents=True)
    ids = [d for d in range(rows * 7 // 6 + 1) if d % 7 != 3][:rows]
    step = -(-rows // parts)
    for i in range(parts):
        part = ids[i * step:(i + 1) * step]
        m = len(part)
        pq.write_table(pa.table({
            "doc_id": pa.array(part, pa.int64()),
            "repo": [f"r{d % 5}" for d in part],
            "path": [f"p{d}" for d in part], "commit": ["c"] * m,
            "lang": ["py"] * m,
            "doc_len": pa.array([1 + d % 9 for d in part], pa.int32()),
        }), docs / f"part-{i:05d}.parquet")
    write_doc_store(spark, str(docs))
    return str(docs)


def test_open_allocates_nothing_per_doc(spark, tmp_path):
    """Opening a store maps its files and checks their ranges: the
    tracemalloc peak of the open is the same for stores of the same
    files that differ 8x in rows (a dense doc_len spread, ids copy or
    per-doc object would grow it by at least 4 bytes per doc)."""
    import gc
    import tracemalloc

    small = _store_of(spark, tmp_path / "s", 20_000)
    big = _store_of(spark, tmp_path / "b", 160_000)

    def peak(docs: str) -> int:
        DocStore(docs)  # warm imports and caches
        gc.collect()
        tracemalloc.start()
        try:
            store = DocStore(docs)
            _, top = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert store.doc_lens([1]).tolist() == [2]
        return top

    p_small, p_big = min(peak(small) for _ in range(3)), min(
        peak(big) for _ in range(3))
    assert p_big <= p_small + 16_384, (p_small, p_big)


def test_rows_is_the_one_id_to_row_resolver():
    """In functions/docstore.py, DocStore.rows is the only code that
    reads the twins' id addressing (the files' first and last ids and
    their doc_id columns), and both hits and doc_lens call it."""
    import nextsearch_api_spark.functions.docstore as mod

    tree = ast.parse(pathlib.Path(mod.__file__).read_text())
    store = next(n for n in tree.body
                 if isinstance(n, ast.ClassDef) and n.name == "DocStore")
    addressing = {"_firsts", "_lasts", "ids", "first", "last"}
    readers = set()
    calls_rows = set()
    for fn in store.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.Attribute) and node.attr in addressing
                    and isinstance(node.ctx, ast.Load)):
                readers.add(fn.name)
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "rows"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "self"):
                calls_rows.add(fn.name)
    # __init__ checks the ranges and ranges() reports them
    assert readers == {"__init__", "ranges", "rows"}, readers
    assert calls_rows == {"hits", "doc_lens"}, calls_rows
    # no other function of the module resolves ids
    others = [n.name for n in tree.body if isinstance(n, ast.FunctionDef)
              and any(isinstance(c, ast.Attribute) and c.attr == "searchsorted"
                      for c in ast.walk(n))]
    assert others == [], others
