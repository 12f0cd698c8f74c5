"""Doc store: the memory-mapped half of the docs component, read by
hydration and by BM25 for doc lengths.

A docs component holds one row set in two forms:

* Parquet part files (doc_id, repo, path, commit, lang, doc_len,
  content_sha256), written range-partitioned and doc-id-sorted by
  operators/build.py:write_docs_sorted — what Spark reads (phrase search,
  compaction);
* beside them, under ``docs/_meta/``, one uncompressed Arrow IPC file per
  non-empty part, ``<part>.arrow``, its twin: that part's (doc_len, repo,
  path, commit, lang) in doc-id order, ``doc_len`` as u32 and ``repo`` and
  ``lang`` dictionary-encoded with the narrowest signed index type that
  holds the file's dictionary — what hydration and BM25 read.

A twin is addressed by row offset. A dense part (id span at most twice its
rows, as a build's dense ids are) gets one row per id of its span: the
part's first id is in the IPC schema metadata (``first_doc_id``), the row
of id ``d`` is ``d - first``, and an id without a doc (a zero-token hole)
has a null row whose ``doc_len`` is 0. A part holding streamed ids (hashed
above 2^62, too sparse for that) keeps a ``doc_id`` column, and its rows
are found by binary search.

:meth:`DocStore.rows` is the store's one id → (file, row) resolver; both
:meth:`DocStore.hits` (hydration) and :meth:`DocStore.doc_lens` (the
engine's one doc-length lookup) run on it. A length is read straight from
the mapped ``doc_len`` column, and a hit's fields straight from the mapped
column buffers of its row: no Parquet decode, no Arrow kernel call, no
cache beyond the OS page cache — the reference's O(1) ``docs[docId]``
index (``seg.docs[docId].doc_len``, api_engine.cpp:477) and lazy row read
by offset (api_engine.cpp:508-532, api_metadata.cpp:188-249). Opening a
store maps the files and checks their id ranges: O(files), with nothing
allocated per doc.

``uid`` is stored neither in the twins nor in the Parquet docs: it is the
index's own function of (repo, path, commit), :func:`uid_column`, which
hydration evaluates through its Python twin :func:`uid_of` and the delta
compaction through the column itself.

The ``_``-prefixed directory is invisible to Spark and ``pyarrow.dataset``
Parquet reads, so ``docs`` still reads as its N Parquet rows; and since both
halves live in one directory, generation flips, GC, backup/restore and build
resume move them together. This module is the only code that knows the
layout.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
from pyarrow import ipc
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

META_DIR = "_meta"
# the columns each Arrow file holds after doc_len, and the hit fields
# hydration fills (uid derived from repo, path and commit)
STORE_FIELDS = ("repo", "path", "commit", "lang")
HIT_FIELDS = ("uid",) + STORE_FIELDS
_DICT_FIELDS = ("repo", "lang")
# schema metadata key of a dense twin: the doc id of its row 0
FIRST_ID_KEY = b"first_doc_id"


def uid_column() -> Column:
    """The index's uid of a (repo, path, commit) row:
    hex sha256 of their concatenation, first 16 characters. ``concat_ws``
    skips null fields."""
    return F.substring(
        F.sha2(F.concat_ws("", "repo", "path", "commit"), 256), 1, 16)


def uid_of(repo: "str | None", path: "str | None",
           commit: "str | None") -> str:
    """Python twin of :func:`uid_column`: UTF-8 sha256 of the non-null
    fields joined without a separator, first 16 hex characters."""
    key = "".join(v for v in (repo, path, commit) if v is not None)
    return hashlib.sha256(key.encode("utf-8")).hexdigest()[:16]


# ----------------------------------------------------------------- write --

def _twin_name(part_path: str) -> str:
    return os.path.splitext(os.path.basename(part_path))[0] + ".arrow"


def _narrow_dictionary(col: pa.ChunkedArray) -> pa.DictionaryArray:
    """Dictionary-encode ``col`` with the narrowest signed index type
    (int8, int16 or int32) whose range holds every index of the
    dictionary."""
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(col).combine_chunks()
    top = len(enc.dictionary) - 1
    index = next(t for t in (pa.int8(), pa.int16(), pa.int32())
                 if top <= np.iinfo(t.to_pandas_dtype()).max)
    return pa.DictionaryArray.from_arrays(enc.indices.cast(index),
                                          enc.dictionary)


def _write_twin(part_path: str) -> tuple[str, int, int]:
    """Convert one Parquet part into its Arrow twin → (twin name, docs,
    Σ doc_len).

    Runs in a Spark task. The file is written under an attempt-unique
    temporary name and renamed into place, so a retried or speculative
    attempt writes the same bytes over the same name."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with pq.ParquetFile(part_path) as pf:
        t = pf.read(columns=["doc_id", "doc_len", *STORE_FIELDS],
                    use_threads=False)
    # one chunk, so each dictionary column gets one dictionary
    t = t.sort_by("doc_id").combine_chunks()
    if pc.any(pc.equal(t.column("doc_len"), 0)).as_py():
        # a doc keeps at least one token: a length of 0 marks a hole
        raise ValueError(f"{part_path} holds a doc without tokens")
    docs, total = t.num_rows, pc.sum(t.column("doc_len")).as_py()
    ids = t.column("doc_id").to_numpy()
    first = int(ids[0])
    span = int(ids[-1]) - first + 1
    metadata = None
    if span <= 2 * docs:
        # dense: row d - first holds doc d; an id without a doc takes a
        # null row (a null take index) whose doc_len is 0 below
        at = np.zeros(span, dtype=np.int64)
        at[ids - first] = np.arange(docs)
        hole = np.ones(span, dtype=bool)
        hole[ids - first] = False
        t = t.drop(["doc_id"]).take(pa.array(at, mask=hole))
        metadata = {FIRST_ID_KEY: str(first).encode()}
    cols = {name: t.column(name) for name in t.column_names}
    cols["doc_len"] = pc.fill_null(cols["doc_len"], 0).cast(pa.uint32())
    for name in _DICT_FIELDS:
        cols[name] = _narrow_dictionary(cols[name])
    t = pa.table(cols).replace_schema_metadata(metadata)
    name = _twin_name(part_path)
    dst = os.path.join(os.path.dirname(part_path), META_DIR, name)
    tmp = f"{dst}.{uuid.uuid4().hex}.tmp"
    with ipc.new_file(tmp, t.schema) as w:
        w.write_table(t)
    os.replace(tmp, dst)
    return name, docs, total


def write_doc_store(spark: SparkSession,
                    docs_path: str) -> tuple[int, int]:
    """Write the Arrow twin of every non-empty Parquet part under
    ``docs_path`` in ONE Spark job, one task per part, then check on the
    driver that each such part has its twin with the part's row count.
    Replaces any twins a previous write left. → (N, total_len): the docs'
    row count and Σ doc_len, summed from the twins' tasks."""
    import pyarrow.parquet as pq

    parts = {}
    for name in sorted(os.listdir(docs_path)):
        if name.endswith(".parquet"):
            p = os.path.join(docs_path, name)
            rows = pq.read_metadata(p).num_rows
            if rows:
                parts[_twin_name(p)] = (p, rows)
    meta = os.path.join(docs_path, META_DIR)
    shutil.rmtree(meta, ignore_errors=True)
    os.makedirs(meta)
    written: dict[str, tuple[int, int]] = {}
    if parts:
        tasks = [p for p, _ in parts.values()]
        written = {name: (rows, total) for name, rows, total in
                   spark.sparkContext.parallelize(tasks, len(tasks))
                   .map(_write_twin).collect()}
    missing = [name for name, (_, rows) in parts.items()
               if written.get(name, (0, 0))[0] != rows
               or not os.path.isfile(os.path.join(meta, name))]
    if missing:
        raise RuntimeError(
            f"doc store under {docs_path} lacks the twins of "
            f"{len(missing)} Parquet parts: {missing[:3]}")
    return (sum(rows for rows, _ in written.values()),
            sum(total for _, total in written.values()))


# ------------------------------------------------------------------ read --

def _view(buf: "pa.Buffer | None", fmt: str,
          n: int) -> "memoryview | None":
    """The first ``n`` items of a mapped buffer as a typed memoryview (no
    copy; indexing it gives Python ints), None for an absent buffer."""
    if buf is None:
        return None
    return memoryview(buf)[:n * np.dtype(fmt).itemsize].cast(fmt)


def _field_reader(arr: pa.Array):
    """row → value of one mapped string column (dictionary-encoded or
    plain), read from its buffers: typed views of the validity bitmap, the
    dictionary indices and the offsets, and the UTF-8 bytes."""
    index = None
    if pa.types.is_dictionary(arr.type):
        fmt = np.dtype(arr.type.index_type.to_pandas_dtype()).char
        index = _view(arr.indices.buffers()[1], fmt, arr.offset + len(arr))
        valid, strings = arr.indices.buffers()[0], arr.dictionary
    else:
        valid, strings = arr.buffers()[0], arr
    valid = _view(valid, "B", (arr.offset + len(arr) + 7) // 8)
    base, s_base = arr.offset, strings.offset
    s_valid, offsets, data = strings.buffers()
    s_valid = _view(s_valid, "B", (s_base + len(strings) + 7) // 8)
    offsets = _view(offsets, "q" if pa.types.is_large_string(strings.type)
                    else "i", s_base + len(strings) + 1)
    data = memoryview(b"" if data is None else data)

    def read(row: int) -> "str | None":
        r = row + base
        if valid is not None and not valid[r >> 3] >> (r & 7) & 1:
            return None
        if index is not None:
            r = index[r]
        r += s_base
        if s_valid is not None and not s_valid[r >> 3] >> (r & 7) & 1:
            return None
        return str(data[offsets[r]:offsets[r + 1]], "utf-8")

    return read


class _Twin:
    """One mapped twin: its id range, its ``doc_id`` column (None when
    dense), its ``doc_len`` column and a reader per STORE_FIELDS column."""

    __slots__ = ("path", "first", "last", "ids", "lens", "fields")

    def __init__(self, path: str, rb: pa.RecordBatch, first: "int | None"):
        self.path = path
        self.lens = rb.column("doc_len").to_numpy()
        if first is None:
            self.ids = rb.column("doc_id").to_numpy()
            self.first, self.last = int(self.ids[0]), int(self.ids[-1])
        else:
            self.ids = None
            self.first, self.last = first, first + rb.num_rows - 1
        self.fields = [_field_reader(rb.column(name))
                       for name in STORE_FIELDS]


class DocStore:
    """The Arrow twins of one docs component, memory-mapped at open.

    Files are ordered by their first doc id; their doc-id ranges must be
    disjoint (the range-partitioned write makes them so), which the open
    checks. The store holds no file descriptor, is read-only after open
    (so threads share it without a lock), and a read touches only the
    mapped pages holding its rows."""

    def __init__(self, docs_path: str):
        meta = os.path.join(docs_path, META_DIR)
        twins: list[_Twin] = []
        for name in sorted(os.listdir(meta)):
            if not name.endswith(".arrow"):
                continue
            path = os.path.join(meta, name)
            # the batch's buffers keep the mapping alive once the file is
            # closed; it is unmapped when the store is dropped
            with pa.memory_map(path) as mm:
                f = ipc.open_file(mm)
                if f.num_record_batches != 1:
                    raise ValueError(f"doc store file {path} holds "
                                     f"{f.num_record_batches} batches, not 1")
                rb = f.get_batch(0)
                first = (f.schema.metadata or {}).get(FIRST_ID_KEY)
            if rb.num_rows:
                twins.append(_Twin(path, rb,
                                   None if first is None else int(first)))
        twins.sort(key=lambda t: t.first)
        for a, b in zip(twins, twins[1:]):
            if b.first <= a.last:
                raise ValueError(f"doc store files {a.path} and {b.path} "
                                 "overlap in doc ids")
        self._twins = twins
        self._firsts = np.array([t.first for t in twins], dtype=np.int64)
        self._lasts = np.array([t.last for t in twins], dtype=np.int64)

    def ranges(self) -> list[tuple[int, int, str]]:
        """(first doc id, last doc id, file) of every non-empty file, in
        doc-id order."""
        return [(t.first, t.last, t.path) for t in self._twins]

    def rows(self, doc_ids) -> tuple[np.ndarray, np.ndarray]:
        """The store's one id → row resolver: ``doc_ids`` (any order) →
        (file, row), int64 arrays aligned with them. ``file`` indexes
        :meth:`ranges` and is -1 for an id outside every file's ids; in a
        dense file an id's row is its offset from the file's first id (a
        hole's row is the null row whose ``doc_len`` is 0), in a file of
        streamed ids the binary-search position of the id. Ids are
        resolved in ascending order, each file's as one slice."""
        ids = np.asarray(doc_ids, dtype=np.int64).reshape(-1)
        order = None
        if ids.size > 1 and (ids[1:] < ids[:-1]).any():
            # stable argsort is a merge of runs: a batch of ascending
            # per-term runs sorts in about linear time
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
        file = np.full(ids.size, -1, dtype=np.int64)
        row = np.zeros(ids.size, dtype=np.int64)
        starts = np.searchsorted(ids, self._firsts).tolist()
        stops = np.searchsorted(ids, self._lasts, side="right").tolist()
        for f, (a, b) in enumerate(zip(starts, stops)):
            if a == b:
                continue
            twin = self._twins[f]
            if twin.ids is None:
                file[a:b] = f
                np.subtract(ids[a:b], twin.first, out=row[a:b])
            else:  # every id lies in [first, last]: pos is a row
                pos = np.searchsorted(twin.ids, ids[a:b])
                row[a:b] = pos
                file[a:b][twin.ids[pos] == ids[a:b]] = f
        if order is None:
            return file, row
        back = np.empty_like(order)
        back[order] = np.arange(order.size)
        return file[back], row[back]

    def hits(self, doc_ids) -> dict[str, list]:
        """HIT_FIELDS → values aligned with ``doc_ids``; every field is None
        for an id without a doc (left-join semantics). A row found always
        has a uid. Each hit's fields are read from its row's mapped
        buffers."""
        file, row = self.rows(doc_ids)
        out: dict[str, list] = {f: [None] * file.size for f in HIT_FIELDS}
        cols = [out[f] for f in STORE_FIELDS]
        uid = out["uid"]
        for j, (f, r) in enumerate(zip(file.tolist(), row.tolist())):
            if f < 0:
                continue
            twin = self._twins[f]
            if not twin.lens[r]:  # a dense file's hole
                continue
            vals = [read(r) for read in twin.fields]
            for col, v in zip(cols, vals):
                col[j] = v
            uid[j] = uid_of(*vals[:3])
        return out

    def doc_lens(self, doc_ids) -> np.ndarray:
        """Doc length of every id in ``doc_ids`` → uint32[] aligned with
        them — the engine's only doc-length lookup: per file one gather
        from the mapped ``doc_len`` column at the rows :meth:`rows`
        resolves. Raises KeyError on an id without a doc: every posting's
        doc is in the docs of its generation."""
        ids = np.asarray(doc_ids, dtype=np.int64).reshape(-1)
        order = None
        if ids.size > 1 and (ids[1:] < ids[:-1]).any():
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
        file, row = self.rows(ids)
        out = np.zeros(ids.size, dtype=np.uint32)
        missing = None
        if file.size and file.min() < 0:  # ids outside every file
            missing = np.flatnonzero(file < 0)
        else:
            # ascending ids, all in files: each file's rows are one slice
            ends = np.searchsorted(file, np.arange(len(self._twins) + 1))
            for f, (a, b) in enumerate(zip(ends[:-1].tolist(),
                                           ends[1:].tolist())):
                if a < b:
                    out[a:b] = self._twins[f].lens[row[a:b]]
            if out.size and out.min() == 0:  # holes of dense files
                missing = np.flatnonzero(out == 0)
        if missing is not None:
            raise KeyError(
                f"{missing.size} doc ids have no doc in the store, e.g. "
                f"{int(ids[missing[0]])}")
        if order is None:
            return out
        back = np.empty_like(out)
        back[order] = out
        return back
