"""Doc store: the memory-mapped half of the docs component, read by
hydration and by BM25 for doc lengths.

A docs component holds one row set in two forms:

* Parquet part files (doc_id, uid, repo, path, commit, lang, doc_len,
  content_sha256), written range-partitioned and doc-id-sorted by
  operators/build.py:write_docs_sorted — what Spark reads (phrase search,
  compaction);
* beside them, under ``docs/_meta/``, one uncompressed Arrow IPC file per
  non-empty part, ``<part>.arrow``: that part's (doc_id, doc_len, repo,
  path, commit, lang) sorted by doc id, ``doc_len`` as u32 and ``repo``
  and ``lang`` dictionary-encoded — what hydration and BM25 read.

Hydrating hits (:meth:`DocStore.hits`) bisects on each file's first doc id,
then runs one ``searchsorted`` and one ``take`` per file over the
memory-mapped columns: no Parquet decode, no cache beyond the OS page
cache — the analog of the reference's O(1) ``docs[docId]`` index and lazy
row read by offset (api_engine.cpp:508-532, api_metadata.cpp:188-249).
:meth:`DocStore.doc_lens` is the engine's one doc-length lookup, the
reference's ``seg.docs[docId].doc_len`` (api_engine.cpp:477): the open
spreads the ``doc_len`` column of each file whose ids are dense over the
file's id span, so a lookup there is an offset gather; in a file of
streamed ids it is a ``searchsorted``, as in hydration.

``uid`` is not stored in the Arrow files: hydration derives it with the
index's own definition, :func:`uid_column`, through its Python twin
:func:`uid_of`.

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
# the columns each Arrow file holds after doc_id, and the hit fields
# hydration fills (uid derived from repo, path and commit)
STORE_FIELDS = ("repo", "path", "commit", "lang")
HIT_FIELDS = ("uid",) + STORE_FIELDS
_DICT_FIELDS = ("repo", "lang")


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


def _write_twin(part_path: str) -> tuple[str, int, int]:
    """Convert one Parquet part into its Arrow twin → (twin name, rows,
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
        # a doc keeps at least one token: doc_lens reads 0 as "no doc"
        raise ValueError(f"{part_path} holds a doc without tokens")
    t = t.set_column(t.schema.get_field_index("doc_len"), "doc_len",
                     t.column("doc_len").cast(pa.uint32()))
    t = pa.table({name: (pc.dictionary_encode(t.column(name))
                         if name in _DICT_FIELDS else t.column(name))
                  for name in t.column_names})
    name = _twin_name(part_path)
    dst = os.path.join(os.path.dirname(part_path), META_DIR, name)
    tmp = f"{dst}.{uuid.uuid4().hex}.tmp"
    with ipc.new_file(tmp, t.schema) as w:
        w.write_table(t)
    os.replace(tmp, dst)
    return name, t.num_rows, pc.sum(t.column("doc_len")).as_py()


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

class DocStore:
    """The Arrow twins of one docs component, memory-mapped at open.

    Files are ordered by their first doc id; their doc-id ranges must be
    disjoint (the range-partitioned write makes them so), which the open
    checks. The store holds no file descriptor, is read-only after open
    (so threads share it without a lock), and a read touches only the
    mapped pages holding its rows."""

    def __init__(self, docs_path: str):
        meta = os.path.join(docs_path, META_DIR)
        files = []
        for name in sorted(os.listdir(meta)):
            if not name.endswith(".arrow"):
                continue
            path = os.path.join(meta, name)
            # the table's buffers keep the mapping alive once the file is
            # closed; it is unmapped when the store is dropped
            with pa.memory_map(path) as mm:
                t = ipc.open_file(mm).read_all().combine_chunks()
            if t.num_rows:
                rb = t.to_batches()[0]
                ids = rb.column("doc_id").to_numpy()
                files.append((int(ids[0]), int(ids[-1]), path, ids,
                              rb.column("doc_len").to_numpy(),
                              rb.select(list(STORE_FIELDS))))
        files.sort(key=lambda f: f[0])
        for a, b in zip(files, files[1:]):
            if b[0] <= a[1]:
                raise ValueError(
                    f"doc store files {a[2]} and {b[2]} overlap in doc ids")
        self._ranges = [(lo, hi, path) for lo, hi, path, *_ in files]
        self._firsts = np.array([f[0] for f in files], dtype=np.int64)
        self._ids = [f[3] for f in files]
        # per file: (first id, doc lengths, dense?) — an array over the
        # file's whole id span, 0 where no doc exists, when that span is at
        # most twice its rows; else the twin's column, row-aligned with its
        # ids (streamed ids hashed above 2^62)
        self._lens = []
        for first, last, _, ids, lens, _ in files:
            if last - first + 1 <= 2 * ids.size:
                dense = np.zeros(last - first + 1, dtype=np.uint32)
                dense[ids - first] = lens
                self._lens.append((first, dense, True))
            else:
                self._lens.append((first, lens, False))
        self._tables = [f[5] for f in files]

    def ranges(self) -> list[tuple[int, int, str]]:
        """(first doc id, last doc id, file) of every non-empty file, in
        doc-id order."""
        return list(self._ranges)

    def hits(self, doc_ids) -> dict[str, list]:
        """HIT_FIELDS → values aligned with ``doc_ids``; every field is None
        for an id without a docs row (left-join semantics). A row found
        always has a uid."""
        ids = np.asarray(doc_ids, dtype=np.int64).reshape(-1)
        out: dict[str, list] = {f: [None] * len(ids) for f in HIT_FIELDS}
        which = np.searchsorted(self._firsts, ids, side="right") - 1
        at: list[np.ndarray] = []
        parts: list[list[pa.Array]] = [[] for _ in STORE_FIELDS]
        for f in np.unique(which[which >= 0]).tolist():
            sel = np.flatnonzero(which == f)
            fids = self._ids[f]
            pos = np.searchsorted(fids, ids[sel]).clip(max=len(fids) - 1)
            ok = fids[pos] == ids[sel]
            if not ok.any():
                continue
            rows = self._tables[f].take(pos[ok])
            for i, name in enumerate(STORE_FIELDS):
                col = rows.column(i)
                parts[i].append(col.dictionary_decode()
                                if name in _DICT_FIELDS else col)
            at.append(sel[ok])
        if not at:
            return out
        where = np.concatenate(at).tolist()
        vals = [pa.concat_arrays(p).to_pylist() for p in parts]
        for name, col in zip(STORE_FIELDS, vals):
            o = out[name]
            for j, v in zip(where, col):
                o[j] = v
        uid = out["uid"]
        for j, repo, path, commit in zip(where, *vals[:3]):
            uid[j] = uid_of(repo, path, commit)
        return out

    def doc_lens(self, doc_ids) -> np.ndarray:
        """Doc length of every id in ``doc_ids`` → uint32[] aligned with
        them — the engine's only doc-length lookup. Per file, an offset
        gather from a dense array or one ``searchsorted`` into the twin's
        ids. Raises KeyError on an id without a doc: every posting's doc
        is in the docs of its generation."""
        ids = np.asarray(doc_ids, dtype=np.int64).reshape(-1)
        order = None
        if ids.size > 1 and (ids[1:] < ids[:-1]).any():
            # stable argsort is a merge of runs: a batch of ascending
            # per-term runs sorts in about linear time
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
        out = np.zeros(ids.size, dtype=np.uint32)
        cut = np.searchsorted(ids, self._firsts).tolist() + [ids.size]
        for f, (first, lens, dense) in enumerate(self._lens):
            a, b = cut[f], cut[f + 1]
            if a == b:
                continue
            if dense:
                rel = ids[a:b] - first
                if rel[-1] < lens.size:
                    out[a:b] = lens[rel]
                else:  # some ids lie past the file's last doc
                    ok = rel < lens.size
                    out[a:b][ok] = lens[rel[ok]]
            else:
                fids = self._ids[f]
                pos = np.searchsorted(fids, ids[a:b]).clip(max=fids.size - 1)
                out[a:b] = np.where(fids[pos] == ids[a:b], lens[pos], 0)
        missing = np.flatnonzero(out == 0)
        if missing.size:
            raise KeyError(
                f"{missing.size} doc ids have no doc in the store, e.g. "
                f"{int(ids[missing[0]])}")
        if order is None:
            return out
        back = np.empty_like(out)
        back[order] = out
        return back
