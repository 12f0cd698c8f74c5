"""End-to-end: build index over the tiny corpus, assert index invariants and
BM25 rank-identity vs the golden oracle (SURVEY.md §5 items 1, 3, 5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nextsearch_api_spark.config import BM25Params, IndexPaths
from nextsearch_api_spark.functions.codec import decode_chunks_concat
from nextsearch_api_spark.functions.docstore import DocStore
from nextsearch_api_spark.operators.query import IndexReader, QuerySpec, batch_search

# Reference query-set classes (FIXTURES.md §2)
QUERIES = [
    (1, "hotterm", 10),
    (2, "buffer", 10),
    (3, "load config", 10),
    (4, "the a an and", 10),            # all stopwords → empty
    (5, "x y", 10),                     # all len<2 → empty
    (6, "zzzznotaterm buffer", 10),     # OOV + known
    (7, "buffer buffer", 10),           # repeated term scores twice
    (8, "Load_Config!", 10),            # tokenizer parity
    (9, "hotterm", 0),                  # k=0 → clamp to 1
    (10, "cache99 flush hotterm score", 100),
    (11, "heapsort", 100),              # duplicate-content docs → tie-break
    (12, "parse index merge", 1),
]


@pytest.fixture(scope="session")
def reader(spark, tiny_index):
    root, _ = tiny_index
    return IndexReader(spark, root)


def test_index_invariants(spark, tiny_index):
    root, oracle = tiny_index
    paths = IndexPaths(root)
    postings = spark.read.parquet(paths.postings)
    lex = spark.read.parquet(paths.lexicon)

    # df == Σ chunk counts == oracle df per term
    lex_map = {r["term"]: r["df"] for r in lex.collect()}
    assert lex_map == oracle.df

    # postings decode: sorted by doc_id, within-term chunks disjoint; tf
    # parity, and the doc store's length of every posting's doc
    store = DocStore(paths.docs)
    rows = postings.collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    for term, chunks in by_term.items():
        chunks.sort(key=lambda r: r["doc_lo"])
        all_ids, all_tfs, all_dls = [], [], []
        prev_hi = -1
        for c in chunks:
            ids, tfs = decode_chunks_concat(
                [c["blob"]], [c["tf_off"]], [c["count"]], [c["doc_lo"]])
            dls = store.doc_lens(ids)
            assert ids[0] == c["doc_lo"] and ids[-1] == c["doc_hi"]
            assert len(ids) == c["count"]
            assert c["doc_lo"] > prev_hi  # disjoint ordered chunks
            prev_hi = c["doc_hi"]
            assert np.all(np.diff(ids) > 0)  # strictly ascending
            all_ids.append(ids)
            all_tfs.append(tfs)
            all_dls.append(dls)
        ids = np.concatenate(all_ids)
        tfs = np.concatenate(all_tfs)
        dls = np.concatenate(all_dls)
        opl = oracle.postings[term]
        assert np.array_equal(ids, opl["doc_id"].to_numpy()), term
        assert np.array_equal(tfs, opl["tf"].to_numpy()), term
        assert np.array_equal(
            dls, np.array([oracle.doc_len[d] for d in opl["doc_id"]])
        ), term

    # stats parity
    rd = IndexReader(spark, root)
    assert rd.N == oracle.N
    assert abs(rd.avgdl - float(oracle.avgdl)) < 1e-4


def test_docs_table_sha_and_lens(spark, tiny_index, tiny_corpus):
    root, oracle = tiny_index
    docs = spark.read.parquet(IndexPaths(root).docs)
    # content sha256 equality per row vs source (input_hint invariant)
    src = tiny_corpus.withColumn("src_sha", F.sha2("content", 256)).select(
        "repo", "path", "commit", "src_sha"
    )
    joined = docs.join(src, ["repo", "path", "commit"], "inner")
    assert joined.count() == docs.count()
    assert joined.where(F.col("content_sha256") != F.col("src_sha")).count() == 0
    # doc_len parity with oracle
    lens = {r["doc_id"]: r["doc_len"] for r in docs.collect()}
    assert lens == oracle.doc_len


def test_rank_identity_vs_oracle(reader, tiny_index):
    _, oracle = tiny_index
    specs = [QuerySpec(qid, q, k) for qid, q, k in QUERIES]
    res = batch_search(reader, specs).toPandas()
    for qid, q, k in QUERIES:
        got = res[res["qid"] == qid].sort_values("rank")
        exp = oracle.search(q, k)
        assert list(got["doc_id"]) == list(exp["doc_id"]), (
            f"rank mismatch q={q!r}: {list(got['doc_id'])} vs {list(exp['doc_id'])}"
        )
        if len(got):
            g = got["score"].to_numpy(dtype=np.float64)
            e = exp["score"].to_numpy(dtype=np.float64)
            assert np.allclose(g, e, rtol=2e-5), f"score mismatch q={q!r}"
            assert (got["found"] == exp.attrs["found"]).all(), q


def test_found_counts(reader, tiny_index):
    _, oracle = tiny_index
    res = batch_search(reader, [QuerySpec(0, "hotterm", 5)]).toPandas()
    exp = oracle.search("hotterm", 5)
    assert len(res) == 5
    assert res["found"].iloc[0] == exp.attrs["found"]


def test_empty_query_results(reader):
    res = batch_search(reader, [QuerySpec(0, "the a an", 10)]).toPandas()
    assert len(res) == 0


def test_assign_doc_ids_paths_agree(spark, tiny_corpus):
    """The keys-collect fast path and the distributed sample+count path must
    assign identical dense ids — and both must equal the global key rank."""
    from nextsearch_api_spark.operators.build import assign_doc_ids

    cols = ["repo", "path", "commit", "doc_id"]
    fast = {tuple(r[c] for c in cols[:3]): r["doc_id"]
            for r in assign_doc_ids(tiny_corpus).select(*cols).collect()}
    dist = {tuple(r[c] for c in cols[:3]): r["doc_id"]
            for r in assign_doc_ids(tiny_corpus, driver_keys_max=0)
            .select(*cols).collect()}
    assert fast == dist
    ranked = sorted(fast, key=lambda t: "\x01".join(t).encode("utf-8"))
    assert [fast[t] for t in ranked] == list(range(1, len(ranked) + 1))


def test_assign_doc_ids_non_ascii_keys(spark):
    """Driver-side byte comparison must match Spark's UTF8String binary
    order — exercised with supplementary-plane characters whose UTF-16
    code-unit order DIFFERS from code-point/UTF-8 order."""
    from nextsearch_api_spark.operators.build import assign_doc_ids

    rows = [(r, "p", "c", "x", "body") for r in
            ["！repo", "\U0001f600repo", "zrepo", "arepo", "érepo"]]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    out_fast = {r["repo"]: r["doc_id"] for r in
                assign_doc_ids(df, n_buckets=3).collect()}
    out_dist = {r["repo"]: r["doc_id"] for r in
                assign_doc_ids(df, n_buckets=3, driver_keys_max=0).collect()}
    assert out_fast == out_dist
    ranked = sorted(out_fast, key=lambda r: r.encode("utf-8"))
    assert [out_fast[r] for r in ranked] == [1, 2, 3, 4, 5]


def test_assign_doc_ids_self_union_over_budget(spark, tmp_path, monkeypatch):
    """Footers count each input file once, so a Parquet corpus unioned
    with itself counts half its rows. The keys collect re-checks what it
    got against ``driver_keys_max`` and, over it, the distributed
    sample+count path assigns the ids — still a dense 1..n rank of the
    keys."""
    from nextsearch_api_spark.operators.build import _fast_count, assign_doc_ids
    from nextsearch_api_spark.sources.corpus import (
        generate_corpus, read_corpus, write_corpus,
    )

    p = str(tmp_path / "c")
    write_corpus(generate_corpus(spark, 100, seed=42), p, partition_by=None)
    c = read_corpus(spark, p)
    u = c.unionByName(c)
    assert _fast_count(u) == 100
    sampled = []
    sample = type(u).sample

    def spy(self, *a, **k):
        sampled.append(a)
        return sample(self, *a, **k)

    monkeypatch.setattr(type(u), "sample", spy)
    rows = [(("\x01".join((r["repo"], r["path"], r["commit"]))
              .encode("utf-8")), r["doc_id"])
            for r in assign_doc_ids(u, driver_keys_max=100).collect()]
    assert sampled  # the distributed path's sample job ran
    assert len(rows) == 200
    assert [d for _, d in sorted(rows)] == list(range(1, 201))


def test_one_writer_for_the_keyed_serving_tables():
    """Walking the package source: ``repartitionByRange`` and
    ``sortWithinPartitions`` are called only in build._write_range_sorted,
    which the four serving-table writers (postings, docs, lexicon,
    suggest) each call once, and write_lexicon and write_suggest_sorted
    call no ``persist``, ``cache`` or ``count`` (each would add a Spark job
    or a cached copy around the one write)."""
    import ast
    import pathlib

    import nextsearch_api_spark

    pkg = pathlib.Path(nextsearch_api_spark.__file__).parent
    sites: dict[str, list[tuple[str, str]]] = {
        "repartitionByRange": [], "sortWithinPartitions": [],
        "_write_range_sorted": []}
    extra: list[tuple[str, str]] = []

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
                # DataFrame.count() takes no argument (F.count does)
                if (scope in ("write_lexicon", "write_suggest_sorted")
                        and (name in ("persist", "cache")
                             or name == "count" and not child.args)):
                    extra.append((scope, name))
            walk(child, rel, inner)

    for path in sorted(pkg.rglob("*.py")):
        walk(ast.parse(path.read_text()), path.relative_to(pkg).as_posix(),
             "")
    writer = [("operators/build.py", "_write_range_sorted")]
    assert sites["repartitionByRange"] == writer, sites
    assert sites["sortWithinPartitions"] == writer, sites
    assert sorted(sites["_write_range_sorted"]) == [
        ("operators/build.py", "write_docs_sorted"),
        ("operators/build.py", "write_lexicon"),
        ("operators/build.py", "write_postings_sorted"),
        ("operators/build.py", "write_suggest_sorted"),
    ], sites
    assert extra == [], extra


def test_serving_tables_are_zstd_key_sorted_and_range_disjoint(tiny_index):
    """Every Parquet file of the built postings, docs, lexicon and suggest
    is zstd in every column chunk and sorted by its table's key, and the
    files' key ranges are disjoint: sorted by first key, each non-empty
    file's last key is below the next file's first."""
    import os

    import pyarrow.parquet as pq

    root, _ = tiny_index
    paths = IndexPaths(root)
    keys = {"postings": ("term", "doc_lo"), "docs": ("doc_id",),
            "lexicon": ("term",), "suggest": ("prefix", "rnk")}
    range_keys = {"postings": ("term", "doc_lo"), "docs": ("doc_id",),
                  "lexicon": ("term",), "suggest": ("prefix",)}
    for table, key in keys.items():
        d = getattr(paths, table)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        assert files, table
        spans = []
        for f in files:
            pf = pq.ParquetFile(os.path.join(d, f))
            md = pf.metadata
            codecs = {md.row_group(i).column(j).compression
                      for i in range(md.num_row_groups)
                      for j in range(md.num_columns)}
            assert codecs <= {"ZSTD"}, (table, f, codecs)
            t = pf.read(columns=list(key))
            rows = list(zip(*(t.column(c).to_pylist() for c in key)))
            assert rows == sorted(rows), (table, f)
            if rows:
                n = len(range_keys[table])
                spans.append((rows[0][:n], rows[-1][:n], f))
        spans.sort()
        assert len(spans) > 1, table
        for (_, hi, f), (lo, _, g) in zip(spans, spans[1:]):
            assert hi < lo, (table, f, hi, g, lo)
