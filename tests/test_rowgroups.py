"""Footer index (functions/rowgroups.py): keyed reads touch only the row
groups that can hold the keys, stay exact on any layout, and back the
serving tier's hydration."""

import os
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from nextsearch_api_spark.config import IndexPaths
from nextsearch_api_spark.functions.rowgroups import RowGroupIndex

META = ("uid", "repo", "path", "commit", "lang")


def _table(keys):
    return pa.table({"key": pa.array(keys, type=pa.int64()),
                     "val": pa.array([f"v{k}" for k in keys])})


def _rows(t):
    return sorted(zip(t.column("key").to_pylist(), t.column("val").to_pylist()))


def _expect(all_keys, wanted):
    w = set(wanted)
    return sorted((k, f"v{k}") for k in all_keys if k in w)


def _delta(idx, fn):
    before = idx.row_groups_read
    out = fn()
    return out, idx.row_groups_read - before


@pytest.fixture
def sorted_dir(tmp_path):
    """1000 keys, sorted, 50-row row groups over two files."""
    d = tmp_path / "sorted"
    d.mkdir()
    pq.write_table(_table(list(range(0, 500))), d / "a.parquet",
                   row_group_size=50)
    pq.write_table(_table(list(range(500, 1000))), d / "b.parquet",
                   row_group_size=50)
    return str(d)


def test_sorted_layout_reads_at_most_one_row_group_per_key(sorted_dir):
    idx = RowGroupIndex(sorted_dir, "key")
    assert idx.num_row_groups == 20 and idx.num_unranged == 0
    for keys in ([7], [7, 8, 9], [3, 480, 520, 999], list(range(0, 1000, 97))):
        t, n = _delta(idx, lambda: idx.read(keys, ["val"]))
        assert n <= len(set(keys)), (keys, n)
        assert _rows(t) == _expect(range(1000), keys)
    # keys sharing one row group read it once
    _, n = _delta(idx, lambda: idx.read([100, 101, 149], ["val"]))
    assert n == 1


def test_overlapping_and_statless_row_groups_return_every_match(tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    # unsorted files whose row-group ranges all overlap
    pq.write_table(_table(list(range(0, 600, 2)) + list(range(1, 600, 4))),
                   d / "a.parquet", row_group_size=40)
    pq.write_table(_table(list(range(599, 0, -6))), d / "b.parquet",
                   row_group_size=25)
    # a file without statistics: its row groups must always be read
    pq.write_table(_table([7, 11, 1000, 5000]), d / "c.parquet",
                   row_group_size=2, write_statistics=False)
    every = (list(range(0, 600, 2)) + list(range(1, 600, 4))
             + list(range(599, 0, -6)) + [7, 11, 1000, 5000])
    idx = RowGroupIndex(str(d), "key")
    assert idx.num_unranged == 2
    for keys in ([7], [11, 5000], [0, 1, 5, 599, 1000], [3, 4, 250, 251]):
        t, n = _delta(idx, lambda: idx.read(keys, ["val"]))
        assert _rows(t) == _expect(every, keys), keys
        assert n >= idx.num_unranged


def test_absent_empty_and_duplicate_keys(sorted_dir):
    idx = RowGroupIndex(sorted_dir, "key")
    t, n = _delta(idx, lambda: idx.read([], ["val"]))
    assert t.num_rows == 0 and n == 0
    assert t.column_names == ["key", "val"]
    # below, between-file and above the key range: nothing matches
    t = idx.read([-5, 10_000, 123_456], ["val"])
    assert t.num_rows == 0
    t, n = _delta(idx, lambda: idx.read([42, 42, 42, 600, 600], ["val"]))
    assert _rows(t) == [(42, "v42"), (600, "v600")]
    assert n == 2
    with pytest.raises(ValueError, match="lacks column"):
        RowGroupIndex(sorted_dir, "nope")


def test_concurrent_readers_share_one_index(sorted_dir):
    idx = RowGroupIndex(sorted_dir, "key")
    errors: list = []
    expected_groups: list[int] = []

    def worker(seed: int) -> None:
        try:
            for i in range(40):
                keys = [(seed * 131 + i * 17 + j * 251) % 1000
                        for j in range(1 + (i % 5))]
                expected_groups.append(len({k // 50 for k in keys}))
                got = _rows(idx.read(keys, ["val"]))
                if got != _expect(range(1000), keys):
                    errors.append((seed, keys, got))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # force interleaving inside read()
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    # every read's counter update landed (none lost to a race)
    assert idx.row_groups_read == sum(expected_groups)


def test_built_docs_row_groups_are_disjoint_and_ascending(tiny_index):
    root, _ = tiny_index
    idx = RowGroupIndex(IndexPaths(root).docs, "doc_id")
    assert idx.num_unranged == 0
    spans = idx.ranges()
    assert spans
    for (lo, hi, _, _), (lo2, _, _, _) in zip(spans, spans[1:]):
        assert lo <= hi < lo2
    # within every file the row groups ascend too (range-sorted write)
    by_file: dict = {}
    for lo, hi, p, rg in spans:
        by_file.setdefault(p, []).append((rg, lo))
    for groups in by_file.values():
        los = [lo for _, lo in sorted(groups)]
        assert los == sorted(los)


def _full_join(docs_path: str) -> dict:
    t = ds.dataset(docs_path).to_table(columns=["doc_id", *META]).to_pydict()
    return {d: {f: t[f][i] for f in META} for i, d in enumerate(t["doc_id"])}


def test_engine_hydration_matches_full_join(tiny_index, tmp_path):
    """Engine.search fills the same fields as a left join against the whole
    docs table, for k in {1, 10, 100} — including a hit whose docs row is
    missing, which keeps only its rank/score fields."""
    from nextsearch_api_spark.api import Engine

    root, _ = tiny_index
    clone = str(tmp_path / "idx")
    shutil.copytree(root, clone)
    eng = Engine(clone)
    q = "hotterm buffer"
    top = eng.search(q, 1)["results"][0]["doc_id"]
    # drop the top hit's docs row (one sorted file, small row groups)
    docs_dir = IndexPaths(clone).docs
    t = ds.dataset(docs_dir).to_table()
    shutil.rmtree(docs_dir)
    os.makedirs(docs_dir)
    t = t.filter(pc.not_equal(t.column("doc_id"), top))
    pq.write_table(t.sort_by("doc_id"), os.path.join(docs_dir, "p.parquet"),
                   row_group_size=16)
    eng.reload()
    meta = _full_join(docs_dir)
    assert top not in meta
    for k in (1, 10, 100):
        out = eng.search(q, k)
        res = out["results"]
        assert len(res) == min(k, out["found"])
        for r in res:
            if r["doc_id"] == top:
                assert not set(META) & set(r), r
            else:
                assert {f: r[f] for f in META} == meta[r["doc_id"]], r
        assert res[0]["doc_id"] == top
    n_rg = eng.wand._docs.num_row_groups
    before = eng.wand._docs.row_groups_read
    eng.search(q + " cache", 10)
    assert eng.wand._docs.row_groups_read - before <= min(10, n_rg)
