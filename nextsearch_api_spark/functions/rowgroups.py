"""Footer index: point reads by key that touch only the row groups holding
the keys.

The serving tier reads by key — a query's terms, one suggest prefix, the
batch tier's lexicon and chunk metadata. A pyarrow dataset scan with an
``isin`` filter does not prune row groups by their footer statistics (it
reads every row group of every file and filters rows afterwards), so a
keyed read used to cost a full-table scan. :class:`RowGroupIndex` scans the footers ONCE when it
opens, keeps each row group's [min, max] of one sort column, and reads only
the row groups whose range can hold a requested key — the analog of the
reference's lexicon-offset seek (src/api_engine.cpp:453-475). Hit
hydration does not come here: it takes rows from the memory-mapped doc
store (functions/docstore.py).

Correct on any layout; bounded on sorted ones. When the table is written
range-partitioned and sorted by the column (the build's serving layout,
operators/build.py), row-group ranges are disjoint and each key selects at
most one row group. Overlapping ranges (unsorted files, older layouts) only
select more row groups. Row groups whose column has no min/max statistics
(parquet writers omit them for very long binary values) are ALWAYS read —
skipping them would silently drop rows (ADVICE r2).

Each read opens its own ``ParquetFile`` from the footer parsed at open
(``metadata=``), so the footer is not read again and no handle is shared
between threads — a shared handle is not safe for concurrent reads
(ADVICE r6). Concurrent reads therefore run in parallel; only the
row-group/row counters sit under a lock. Reads run with
``use_threads=False``: pyarrow's column-parallel decode measured slower
than serial for both a point read and the batch tier's hot-term read.
"""

from __future__ import annotations

import bisect
import threading
from typing import Iterable, Sequence

import pyarrow as pa


class RowGroupIndex:
    """Per-row-group [min, max] of ``column`` over the Parquet files under
    ``path``; :meth:`read` returns the rows whose ``column`` is one of the
    requested keys.

    Lookup: row groups are sorted by (min, max), and ``_reach[i]`` is the
    running max of the maxes up to i. The row groups that can hold key x
    are those i with min_i ≤ x (a prefix, by bisection on the mins) and
    max_i ≥ x — all of them at or after the first i with ``_reach[i] ≥ x``
    (bisection on the running max). On a sorted layout that window is one
    row group; on overlapping layouts it widens, never misses."""

    def __init__(self, path: str, column: str):
        import pyarrow.dataset as pds

        dataset = pds.dataset(path, format="parquet")
        if column not in dataset.schema.names:
            raise ValueError(f"parquet table at {path} lacks column '{column}'")
        self.column = column
        self.schema = dataset.schema
        ranged: list[tuple] = []          # (lo, hi, file, row_group)
        self._unranged: list[tuple[str, int]] = []
        self._meta: dict[str, object] = {}  # file → FileMetaData
        for frag in dataset.get_fragments():
            md = frag.metadata
            self._meta[frag.path] = md
            if not md.num_row_groups:
                continue
            ci = md.schema.to_arrow_schema().get_field_index(column)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics if ci >= 0 else None
                if st is not None and st.has_min_max:
                    ranged.append((_key(st.min), _key(st.max), frag.path, rg))
                else:
                    self._unranged.append((frag.path, rg))
        ranged.sort()
        self._lo = [r[0] for r in ranged]
        self._hi = [r[1] for r in ranged]
        self._where = [(r[2], r[3]) for r in ranged]
        self._reach: list = []
        for hi in self._hi:
            self._reach.append(hi if not self._reach
                               else max(self._reach[-1], hi))
        self._lock = threading.Lock()  # guards the counters only
        self.row_groups_read = 0
        self.rows_scanned = 0

    @property
    def num_row_groups(self) -> int:
        return len(self._where) + len(self._unranged)

    @property
    def num_unranged(self) -> int:
        return len(self._unranged)

    def counters(self) -> dict:
        """Row groups read and rows scanned (before the key filter) so far."""
        with self._lock:
            return {"row_groups_read": self.row_groups_read,
                    "rows_scanned": self.rows_scanned}

    def ranges(self) -> list[tuple]:
        """(min, max, file, row_group) of every row group with statistics,
        in (min, max) order."""
        return [(lo, hi, p, rg) for lo, hi, (p, rg)
                in zip(self._lo, self._hi, self._where)]

    def row_groups(self, keys: Iterable) -> list[tuple[str, int]]:
        """(file, row_group) pairs that can hold any of ``keys``, in file
        order — row groups without statistics included."""
        picked: set[int] = set()
        for x in keys:
            first = bisect.bisect_left(self._reach, x)
            stop = bisect.bisect_right(self._lo, x)
            picked.update(i for i in range(first, stop) if self._hi[i] >= x)
        return sorted({self._where[i] for i in picked} | set(self._unranged))

    def stats(self, groups: Iterable[tuple[str, int]],
              column: str) -> list[tuple]:
        """(key min, key max, ``column`` min, ``column`` max, rows) of each
        (file, row_group) in ``groups``, from the footers parsed at open —
        nothing is read. A min/max the footer has no statistics for is
        None."""
        out = []
        names: dict[str, list[str]] = {}  # file → column names
        for p, rg in groups:
            md = self._meta[p]
            if p not in names:
                names[p] = md.schema.to_arrow_schema().names
            g = md.row_group(rg)
            bounds: list = []
            for name in (self.column, column):
                st = (g.column(names[p].index(name)).statistics
                      if name in names[p] else None)
                bounds.append((_key(st.min), _key(st.max))
                              if st is not None and st.has_min_max
                              else (None, None))
            out.append((*bounds[0], *bounds[1], g.num_rows))
        return out

    def read(self, keys: Sequence, columns: Sequence[str],
             groups: "Sequence[tuple[str, int]] | None" = None) -> pa.Table:
        """Rows whose ``column`` is in ``keys`` (the key column first, then
        ``columns``), read from the selected row groups only — or from
        ``groups`` (file, row_group) when given. Absent keys contribute no
        rows; an empty key list reads nothing."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cols = [self.column] + [c for c in columns if c != self.column]
        keys = list(dict.fromkeys(keys))
        if not keys:
            groups = []
        elif groups is None:
            groups = self.row_groups(keys)
        by_file: dict[str, list[int]] = {}
        for p, rg in groups:
            by_file.setdefault(p, []).append(rg)
        parts: list[pa.Table] = []
        for p, rgs in by_file.items():
            with pq.ParquetFile(p, metadata=self._meta[p]) as pf:
                parts.append(pf.read_row_groups(rgs, columns=cols,
                                                use_threads=False))
        rows = sum(t.num_rows for t in parts)
        with self._lock:
            self.row_groups_read += len(groups)
            self.rows_scanned += rows
        if not parts:
            return self.schema.empty_table().select(cols)
        t = pa.concat_tables(parts, promote_options="default")
        value_set = pa.array(keys, type=t.schema.field(self.column).type)
        return t.filter(pc.is_in(t.column(self.column), value_set=value_set))


def _key(v):
    # string statistics come back as bytes when the column has no UTF-8
    # annotation; Python str order equals UTF-8 byte order
    return v.decode("utf-8", "replace") if isinstance(v, bytes) else v
