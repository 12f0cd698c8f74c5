"""Footer index (functions/rowgroups.py): keyed reads touch only the row
groups that can hold the keys and stay exact on any layout."""

import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nextsearch_api_spark.functions.rowgroups import RowGroupIndex


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
