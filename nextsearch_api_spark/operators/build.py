"""Index build pipeline — Spark-first inverted-index construction.

Reference semantics being reproduced (SURVEY.md §3.3): forwardindex →
lexicon → segment files, i.e. tokenize + per-doc tf (src/ForwardIndex.cpp:
141-151), invert by term (src/lexicon.cpp:62-72), postings sorted by doc_id
(lexicon.cpp:108-109), df = posting count (lexicon.cpp:111), term-space
partitioning (the 64 "barrels", include/barrels.hpp:12,42-47), global stats
N/avgdl (ForwardIndex.cpp:187).

Spark-first re-design (NOT a port):
  * doc_id assignment — dense, deterministic ``row_number() over (order by
    repo, path, commit)`` computed WITHOUT a single-partition window: keys are
    bucketed by sampled range bounds (deterministic given the seed), per-bucket
    counts give global offsets, a mapInPandas pass adds bucket-local positions.
    Scales to any corpus size; no driver bottleneck.
  * tokenize+tf+invert — ONE pass, the build's only tokenize
    (build_posting_chunks_segment): per input partition, Arrow C kernels
    tokenize (functions/text.py:arrow_kept_tokens), a NumPy pair count gives
    per-doc tf (local to the doc, so no tf shuffle: map-side perfect
    combine), and an in-partition (term, doc_id) sort emits doc-ordered
    chunks. Token rows never leave the Python worker and are never
    shuffled; chunks break on id-bucket boundaries, so per-term chunk doc
    ranges are disjoint across partitions.
  * serving layout — one writer, _write_range_sorted, writes every keyed
    serving table as zstd Parquet, range-partitioned into
    _serving_partitions files and sorted by its key: the chunk rows
    (compressed postings, a fraction of corpus bytes) by (term, doc_lo)
    in bounded row groups, docs by doc_id (plus the doc store's
    memory-mapped Arrow twins, functions/docstore.py), the lexicon by term
    and suggest by (prefix, rnk). The writer persists nothing and runs no
    count job.
  * postings format v8 — per chunk: a blob of doc-id gaps from doc_lo and
    tf (functions/codec.py owns the layout) and the float32 block-max
    impact (functions/scoring.py:bm25_impact), the per-chunk bound the
    batch tier's chunk prune plans with. Doc lengths live once, in the
    docs component's doc store (functions/docstore.py), which every BM25
    read gathers them from. avgdl is only known after the pass, so the
    builders emit chunks without impacts and write_postings_sorted, the
    one postings writer, computes each chunk's max from its own blob and
    the doc store after the sort — for every row it publishes, the rows a
    compaction copies through included.
  * one chunker (_chunk_partition) turns every posting into chunk rows:
    the segment build hands it one input split, doc lengths included as
    postings of the reserved term ''; compaction re-chunks token rows with
    build_posting_chunks, a hash shuffle by (term, doc_id div doc_block) —
    a deterministic doc-range salt that splits a hot term across
    partitions while each block stays whole — then hands it each
    partition.
  * every stage materializes to Parquet and checkpoints via the lineage
    manifest (plans/checkpoint.py) — resume skips completed stages. The
    ids table is scratch: removed once the build completes, re-created
    only when a stage that reads it must run again.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from nextsearch_api_spark.config import BM25Params, BuildConfig, IndexPaths
from nextsearch_api_spark.functions.docstore import write_doc_store
from nextsearch_api_spark.functions.scoring import bm25_impact
from nextsearch_api_spark.functions.text import arrow_kept_tokens
from nextsearch_api_spark.operators.autocomplete import build_suggest
from nextsearch_api_spark.plans.checkpoint import BuildManifest, StageRunner

# token rows, one per (doc, term), as the compactions decode and re-chunk
# them
TOKENS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("term", StringType(), False),
    StructField("tf", IntegerType(), False),
])

# chunk rows as both builders emit them; write_postings_sorted adds each
# row's max_impact and publishes the postings table's columns
CHUNKS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("doc_lo", LongType(), False),
    StructField("doc_hi", LongType(), False),
    StructField("count", IntegerType(), False),
    StructField("tf_off", IntegerType(), False),
    StructField("blob", BinaryType(), False),
])

_KEY_SEP = "\x01"

# bump when the on-disk format of any component changes — forces resume
# logic to rebuild indexes created by older code. 7: the docs component
# also carries the doc store (functions/docstore.py) that hydration reads;
# 8: postings blobs hold doc-id gaps and tf only (functions/codec.py), and
# doc lengths are read from the doc store; 9: the doc store's twins are
# addressed by row offset, and docs store no uid (derived by uid_column)
FORMAT_VERSION = 9

# the docs component's Parquet columns, as the build and compact_deltas
# write them
DOCS_COLUMNS = ("doc_id", "repo", "path", "commit", "lang", "doc_len",
                "content_sha256")


def _parquet_rows(path: str) -> int:
    """Row count from Parquet footers only — no Spark job."""
    import pyarrow.dataset as ds
    return ds.dataset(path).count_rows()


def _fast_count(df: DataFrame) -> int:
    """Row-count estimate for sampling decisions: Parquet/ORC footer
    metadata when the plan is a straight file scan (an over-estimate is
    harmless for the sample fraction), else a count job."""
    try:
        files = df.inputFiles()
        if files and all(f.endswith(".parquet") for f in files):
            import pyarrow.dataset as ds
            return ds.dataset([f.replace("file:", "") for f in files]).count_rows()
        if files and all(f.endswith(".orc") for f in files):
            from pyarrow import orc
            return sum(orc.ORCFile(f.replace("file:", "")).nrows
                       for f in files)
    except Exception:
        pass
    return df.count()


# ---------------------------------------------------------------- doc ids --

# keys-collect fast path bound: below this row count the (repo,path,commit)
# keys come to the driver in ONE column-pruned Arrow collect (~60 B/key →
# ≤ ~120 MB) and bounds + bucket counts are computed there; above it the
# two-job distributed path (sample, then counts) runs — the only shape that
# works at 10^9+ rows.
DRIVER_KEYS_MAX = 2_000_000


def assign_doc_ids(corpus: DataFrame, n_buckets: int | None = None,
                   seed: int = 42,
                   driver_keys_max: int = DRIVER_KEYS_MAX) -> DataFrame:
    """Dense deterministic doc_id = global rank of (repo, path, commit).

    Equivalent to ``row_number() over (order by repo, path, commit)``
    (FIXTURES.md §4) but distributed: range bounds → bucket → per-bucket
    offsets → bucket-local position. doc_id is 1-based.

    Bounds + per-bucket counts come from ONE key collect when the corpus is
    small enough (``driver_keys_max``): exact equi-depth bounds and exact
    counts from the sorted keys, replacing two of the three corpus scans
    (the sample job and the counts job — measured 3.0 s of the 10.6 s
    8-core ids stage at 400k docs). Driver-side comparison is on UTF-8
    bytes, the same binary order Spark's UTF8String uses, so the
    driver-computed counts match the JVM bucket expression exactly. Larger
    corpora keep the fully distributed sample+count path, and so does a
    plan whose key collect exceeds ``driver_keys_max`` (footer counts see
    each input file once, however often the plan reads it).
    """
    spark = corpus.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # ≥4 tasks per core: with B == cores the id exchange is ONE wave of
    # fat window-sort tasks and any straggler extends the stage wall 1:1 —
    # measured 34.4 s → 23.9 s at 8 pinned cores (400k docs) by raising B
    # to 4× cores, while narrow widths are unchanged (waves already
    # amortize there). On a real cluster defaultParallelism is total
    # executor cores, so B keeps tracking cluster width.
    B = n_buckets or max(shuffle_p,
                         4 * spark.sparkContext.defaultParallelism)
    keyed = corpus.withColumn(
        "_key", F.concat_ws(_KEY_SEP, "repo", "path", "commit")
    )

    n = _fast_count(corpus)
    if n == 0:
        return keyed.drop("_key").withColumn("doc_id", F.lit(0).cast("long"))
    B = max(1, min(B, math.ceil(n / 16)))

    bounds: list[str] = []
    counts: dict[int, int] | None = None
    arr = None
    if B > 1 and n <= driver_keys_max:
        # one column-pruned Arrow collect; sort + split points run in Arrow
        # C kernels on UTF-8 binary (the same byte order Spark's UTF8String
        # compares with) — no Python string objects materialize
        arr = (keyed.select("_key").toArrow().column(0)
               .combine_chunks().cast(pa.binary()))
        # a self-union reads its files twice: re-check the budget on what
        # was collected
        if len(arr) > driver_keys_max:
            arr = None
    if arr is not None:
        import pyarrow.compute as pc
        skeys = pc.take(arr, pc.sort_indices(arr))
        m = len(skeys)
        bkeys = sorted({skeys[(m * i) // B].as_py() for i in range(1, B)})

        def _right(v: bytes) -> int:  # first index with key > v
            lo, hi = 0, m
            while lo < hi:
                mid = (lo + hi) // 2
                if skeys[mid].as_py() <= v:
                    lo = mid + 1
                else:
                    hi = mid
            return lo

        # bucket(key) = #bounds strictly < key, so bucket i+1 starts at the
        # first key > bound_i → right-bisect split points
        edges = [0] + [_right(v) for v in bkeys] + [m]
        counts = {b: edges[b + 1] - edges[b]
                  for b in range(len(bkeys) + 1) if edges[b + 1] > edges[b]}
        bounds = [k.decode("utf-8") for k in bkeys]
    elif B > 1:
        frac = min(1.0, (B * 64.0) / n)
        sample = sorted(
            r[0] for r in keyed.select("_key").sample(False, frac, seed).collect()
        )
        if sample:
            raw = [sample[(len(sample) * i) // B] for i in range(1, B)]
            bounds = sorted(set(raw))

    # bucket = count of bounds < key (== searchsorted-left) — a pure JVM
    # expression over a literal array: no Python workers anywhere in the
    # assignment, everything stays inside whole-stage codegen.
    if bounds:
        barr = F.array(*[F.lit(x) for x in bounds])
        bucket_col = F.size(F.filter(barr, lambda x: x < F.col("_key")))
    else:
        bucket_col = F.lit(0)
    keyed = keyed.withColumn("_bucket", bucket_col.cast("int"))

    # pass 1 (distributed path only): per-bucket counts (column-pruned scan,
    # tiny aggregate) — the keys-collect path already computed them exactly
    if counts is None:
        counts = {r["_bucket"]: r["cnt"]
                  for r in keyed.groupBy("_bucket").agg(F.count("*").alias("cnt")).collect()}
    offsets: list[tuple[int, int]] = []
    acc = 0
    for b in sorted(counts):
        offsets.append((b, acc))
        acc += counts[b]
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "_bucket int, _offset long")
    )

    # pass 2: one shuffle by bucket; per-bucket row_number is a window over
    # the bucket partition — JVM sort + codegen, no Python.
    #
    # This exchange carries FULL corpus rows (content included) — a
    # deliberate, measured choice (VERDICT r2 #3). A keys-only variant
    # (window over (_key) alone → (key → doc_id) mapping → shuffle-hash join
    # back) was implemented and measured at 4.2 s vs 6.6 s for this stage
    # (400k docs, 8 pinned cores) — but its join output is hash(_key)-
    # scattered, so ids files no longer hold whole id buckets and the
    # NO-SHUFFLE postings builder's chunk-disjointness invariant breaks
    # (417k overlapping chunk ranges at 40k docs). Restoring contiguity
    # costs a second full-content exchange before tokenization, which is
    # strictly worse at scale: this plan moves content over the wire exactly
    # once for the entire build; the alternative moves it twice.
    in_cols = [f.name for f in corpus.schema.fields]
    from pyspark.sql import Window
    w = Window.partitionBy("_bucket").orderBy("_key")
    # ``seg`` = the id bucket. Buckets cover contiguous, disjoint doc-id
    # ranges by construction (cumulative offsets in bucket order) — the
    # segment-mode postings builder breaks chunks on seg boundaries so chunk
    # doc-ranges stay globally disjoint no matter how the shuffle places
    # buckets into output files or how the scan packs files into splits.
    # The window output keeps rows partitioned by bucket, so each ids file
    # holds whole buckets — the contiguity the postings builder relies on.
    return (
        keyed.join(off_df, "_bucket")
        .withColumn("doc_id", (F.col("_offset") + F.row_number().over(w)).cast("long"))
        .select(*in_cols, "doc_id", F.col("_bucket").alias("seg"))
    )


# ---------------------------------------------------------------- tokenize --

def _term_counts(content, n_rows: int):
    """Per-(doc, term) counts of one Arrow batch's ``content`` column →
    (terms, row, tf, doc_lens), or None when the batch keeps no token. One
    entry per unique (row, term) pair, ordered by row: ``terms`` an Arrow
    string array, ``row`` the batch row, ``tf`` the count; ``doc_lens`` is
    the kept-token count of every batch row. Tokenizing runs in Arrow C
    kernels (functions/text.py:arrow_kept_tokens); the only NumPy work is
    the pair count, and term strings never become Python objects."""
    import pyarrow as pa
    import pyarrow.compute as pc

    flat, parent = arrow_kept_tokens(content)
    if len(flat) == 0:
        return None
    enc = pc.dictionary_encode(flat)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    local = parent.to_numpy(zero_copy_only=False).astype(np.int64)
    nu = len(enc.dictionary)
    pairs, tf = np.unique(local * nu + codes, return_counts=True)
    return (pc.take(enc.dictionary, pa.array(pairs % nu)), pairs // nu, tf,
            np.bincount(local, minlength=n_rows))


def tokenize_tf(corpus_ids: DataFrame) -> DataFrame:
    """(doc_id, term, tf, doc_len) — unique per (doc_id, term); zero-token
    docs are dropped (reference: src/ForwardIndex.cpp:152). One mapInArrow
    pass with the per-doc tf count local to each batch, so no shuffle."""
    def tok(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa

        for batch in batches:
            got = _term_counts(batch.column("content"), batch.num_rows)
            if got is None:
                continue
            terms, row, tf, doc_lens = got
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[row], type=pa.int64()),
                    terms,
                    pa.array(tf.astype(np.int32), type=pa.int32()),
                    pa.array(doc_lens[row].astype(np.int32), type=pa.int32()),
                ],
                names=["doc_id", "term", "tf", "doc_len"],
            )

    return corpus_ids.select("doc_id", "content").mapInArrow(
        tok, schema=StructType(
            TOKENS_SCHEMA.fields
            + [StructField("doc_len", IntegerType(), False)]))


# ----------------------------------------------------------------- chunks --

_PA_CHUNKS_SCHEMA = pa.schema([
    ("term", pa.string()),
    ("doc_lo", pa.int64()),
    ("doc_hi", pa.int64()),
    ("count", pa.int32()),
    ("tf_off", pa.int32()),
    ("blob", pa.binary()),
])


def _chunk_partition(terms: list, ids: list, tfs: list, parts: list,
                     chunk_size: int) -> pa.RecordBatch:
    """The chunker: one partition's postings → its chunk rows. Both
    builders hand every posting they emit to it.

    Each argument is a list of per-batch pieces: Arrow string arrays of
    terms (dictionary-encoded here, so term strings never become Python
    objects) and NumPy doc ids, tfs and ``parts``, the doc range a chunk
    must not span. One NumPy lexsort orders the postings by
    (term, doc_id), _chunk_bounds breaks them on (term, part) and every
    chunk_size rows, and one functions/codec.py:encode_chunks call writes
    every blob. The rows carry no impact: write_postings_sorted computes
    each chunk's max_impact from its blob and the doc store once the
    index's avgdl is known."""
    import pyarrow.compute as pc

    from nextsearch_api_spark.functions.codec import encode_chunks

    enc = pc.dictionary_encode(pa.concat_arrays(terms))
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    ids, tfs, parts = (np.concatenate(x) for x in (ids, tfs, parts))
    order = np.lexsort((ids, codes))
    codes, ids, tfs, parts = (x[order] for x in (codes, ids, tfs, parts))
    cst, cen = _chunk_bounds(codes, parts, chunk_size)
    blobs, tfo = encode_chunks(ids, tfs, cst)
    return pa.RecordBatch.from_arrays(
        [
            pc.take(enc.dictionary, pa.array(codes[cst].astype(np.int32))),
            pa.array(ids[cst]),
            pa.array(ids[cen - 1]),
            pa.array((cen - cst).astype(np.int32)),
            pa.array(tfo),
            blobs,
        ],
        schema=_PA_CHUNKS_SCHEMA,
    )


# Row-group byte targets of the keyed serving tables (parquet.block.size).
# The serving tier reads postings and suggest by key through footer indexes
# (functions/rowgroups.py), so a point read costs about one row group: a
# term fetch decodes its own postings row groups plus at most a partial
# neighbor at each end. Smaller groups cut the bytes per read but add footer
# metadata and weaken per-group compression; the values come from sweeps of
# the cold serving CPU against index bytes (CHANGES.md). The postings value
# was re-derived for format 8, whose blobs are half as large, so a group of
# the same bytes holds twice the chunk rows.
POSTINGS_ROW_GROUP_BYTES = 128 << 10
SUGGEST_ROW_GROUP_BYTES = 1 << 20


def _serving_partitions(spark: SparkSession) -> int:
    return min(64, max(8, int(spark.conf.get("spark.sql.shuffle.partitions"))))


def _write_range_sorted(df: DataFrame, out_path: str, keys: list[str],
                        then: tuple[str, ...] = (),
                        row_group_bytes: "int | None" = None,
                        columns: "list | None" = None) -> None:
    """The one writer of the keyed serving tables (postings, docs, lexicon,
    suggest): range-partition ``df`` by ``keys`` into _serving_partitions
    files, sort each by ``keys`` + ``then``, project ``columns`` (default:
    all) after the sort and write zstd Parquet, in row groups of
    ``row_group_bytes`` when given. Files cover disjoint key ranges and
    every row group's footer min/max of the leading key is a tight range,
    so a keyed read selects only the row groups holding its keys.

    Nothing is persisted: the range sample executes ``df`` once more, but
    only from its last shuffle, whose output Spark reuses. A caller whose
    input has no shuffle and is costly to recompute persists it
    (operators/compact.py:merge_postings)."""
    out = (df.repartitionByRange(_serving_partitions(df.sparkSession), *keys)
           .sortWithinPartitions(*keys, *then))
    if columns is not None:
        out = out.select(*columns)
    w = out.write.mode("overwrite").option("compression", "zstd")
    if row_group_bytes is not None:
        w = w.option("parquet.block.size", row_group_bytes)
    w.parquet(out_path)


def _block_max_impact(avgdl: float, params: BM25Params, docs_path: str):
    """Column expression over a chunk row's (blob, tf_off, count, doc_lo) →
    the chunk's block-max impact: the float32 maximum of
    functions/scoring.py:bm25_impact over its decoded postings at
    ``avgdl``, with each doc's length from the doc store at ``docs_path``
    — an ATTAINED query-time impact, which the batch tier's chunk prune
    (operators/query.py:_plan_chunk_prune) needs to stay exact. One Arrow
    UDF call per batch: the blobs arrive as one zero-copy Arrow array,
    decode in one decode_chunks_concat call, gather their lengths in one
    DocStore.doc_lens call and reduce with one maximum.reduceat; only the
    float column goes back. The store is mapped once per task."""
    from pyspark.sql.functions import arrow_udf

    from nextsearch_api_spark.functions.docstore import DocStore

    k1 = np.float32(params.k1)
    b = np.float32(params.b)
    # avgdl == 0 ⇔ no doc has tokens ⇔ no chunks exist; the guard only
    # keeps the f32 math finite on that empty plan
    avgdl32 = np.float32(avgdl if avgdl > 0 else 1.0)
    stores: list[DocStore] = []

    @arrow_udf("float")
    def block_max(blob: pa.Array, tf_off: pa.Array, count: pa.Array,
                  doc_lo: pa.Array) -> pa.Array:
        from nextsearch_api_spark.functions.codec import decode_chunks_concat

        counts = count.to_numpy(zero_copy_only=False).astype(np.int64)
        if not counts.size:
            return pa.array([], type=pa.float32())
        if not stores:
            stores.append(DocStore(docs_path))
        ids, tfs = decode_chunks_concat(blob, tf_off, counts, doc_lo)
        imp = bm25_impact(tfs, stores[0].doc_lens(ids), k1, b, avgdl32)
        return pa.array(np.maximum.reduceat(imp, np.cumsum(counts) - counts))

    return block_max("blob", "tf_off", "count", "doc_lo")


def write_postings_sorted(chunks: DataFrame, out_path: str, avgdl: float,
                          params: BM25Params, docs_path: str) -> None:
    """Publish chunk rows as the postings table through _write_range_sorted,
    keyed by (term, doc_lo) in POSTINGS_ROW_GROUP_BYTES row groups (tight
    per-row-group term min/max stats → a term fetch reads only the few row
    groups actually holding the term), each row with its block-max
    ``max_impact`` at the index's ``avgdl`` and ``params``' k1/b.
    ``docs_path`` is the docs component of the generation being written,
    already on disk: its doc store gives the doc lengths, and it must hold
    every posting's doc.

    Every postings writer (build_index, compact_postings, compact_deltas)
    goes through here, so this is the one place ``max_impact`` is computed,
    for every row written — copied-through chunk rows of a compaction
    included, whose old value was computed at an older avgdl. The column
    is projected after the sort, so the range-sampling pass and the
    shuffle read only the chunk columns and each blob is decoded once.

    This is also where the chunk invariant is checked: per term, chunk doc
    ranges are disjoint, hence one term's decoded doc ids are unique, which
    the scoring kernel relies on. After the write one aggregate over the
    (term, doc_lo, doc_hi) columns counts the chunks whose doc_lo is at
    most the previous doc_hi of the same term, and any such chunk raises
    ValueError — before the caller records the stage or flips a
    generation."""
    from pyspark.sql import Window

    _write_range_sorted(
        chunks.select(*CHUNKS_SCHEMA.fieldNames()), out_path,
        ["term", "doc_lo"], row_group_bytes=POSTINGS_ROW_GROUP_BYTES,
        columns=["term", "doc_lo", "doc_hi", "count",
                 _block_max_impact(avgdl, params, docs_path)
                 .alias("max_impact"),
                 "tf_off", "blob"])
    prev_hi = F.lag("doc_hi").over(
        Window.partitionBy("term").orderBy("doc_lo"))
    nbad = (chunks.sparkSession.read.parquet(out_path)
            .select("doc_lo", prev_hi.alias("prev_hi"))
            .where(F.col("doc_lo") <= F.col("prev_hi"))
            .count())
    if nbad:
        raise ValueError(
            f"postings written to {out_path} have {nbad} chunks overlapping "
            "the previous chunk of their term; refusing to publish them")


def write_docs_sorted(docs: DataFrame, out_path: str) -> tuple[int, int]:
    """Write the docs component: doc rows through _write_range_sorted keyed
    by doc_id, then the doc store's Arrow twin of every part
    (functions/docstore.py:write_doc_store, one more Spark job), which
    serving and batch hydration read — the reference's O(1)
    ``docs[docId]`` (api_engine.cpp:508-532). No keyed Parquet read of docs
    remains, so the Parquet files keep Spark's default row groups.
    → (N, total_len) of the written docs, counted by the twins' job."""
    _write_range_sorted(docs, out_path, ["doc_id"])
    return write_doc_store(docs.sparkSession, out_path)


def write_lexicon(spark: SparkSession, postings_path: str,
                  out_path: str) -> None:
    """Aggregate the written postings at ``postings_path`` into the lexicon
    — per term df (posting count) and n_chunks — through
    _write_range_sorted keyed by term, so footer min/max stats confine a
    term lookup to its row group (the reference's barrel/offset seek
    analog). The aggregate reads the postings' four small columns,
    column-pruned: blobs are never read, and the range sample re-runs only
    the aggregate's final step."""
    _write_range_sorted(
        spark.read.parquet(postings_path).groupBy("term").agg(
            F.sum("count").cast("long").alias("df"),
            F.count("*").cast("int").alias("n_chunks")),
        out_path, ["term"])


def write_suggest_sorted(spark: SparkSession, lexicon_path: str,
                         out_path: str) -> None:
    """The suggest table of the lexicon at ``lexicon_path``
    (operators/autocomplete.py:build_suggest) in LazySuggester's serving
    layout: _write_range_sorted keyed by prefix, then rnk, in
    SUGGEST_ROW_GROUP_BYTES row groups. A prefix's ≤10 rows land in
    exactly one file and every footer row-group stat is a tight [lo, hi]
    prefix range, so one lookup reads ~1 row group instead of collecting
    the whole table (VERDICT r5 next #1). The range sample re-runs only
    the top-10 window over its exchange."""
    _write_range_sorted(build_suggest(spark.read.parquet(lexicon_path)),
                        out_path, ["prefix"], then=("rnk",),
                        row_group_bytes=SUGGEST_ROW_GROUP_BYTES)


def _chunk_bounds(codes: np.ndarray, parts: np.ndarray,
                  chunk_size: int) -> tuple[np.ndarray, np.ndarray]:
    """Chunk row ranges [cst, cen) along a (term, doc_id)-sorted run. Rows
    group on every change of term code or of ``parts`` (the doc range a
    chunk must not span), and each group splits into consecutive chunks of
    ≤ chunk_size rows."""
    change = (codes[1:] != codes[:-1]) | (parts[1:] != parts[:-1])
    starts = np.flatnonzero(np.concatenate(([True], change)))
    ends = np.append(starts[1:], len(codes))
    per = -(-(ends - starts) // chunk_size)
    grp = np.repeat(np.arange(len(starts)), per)
    nth = np.arange(len(grp)) - np.repeat(np.cumsum(per) - per, per)
    cst = starts[grp] + nth * chunk_size
    return cst, np.minimum(cst + chunk_size, ends[grp])


def _segment_chunks(batches: Iterator[pa.RecordBatch],
                    chunk_size: int) -> Iterator[pa.RecordBatch]:
    """One input split's (doc_id, content, seg) batches → its chunk rows:
    tokenize and count every batch, then chunk the whole split, breaking
    chunks on ``seg``. Each doc with kept tokens also posts its length
    under the reserved term '' (real terms are ≥ 2 chars), tf = doc_len."""
    terms: list = []
    ids: list = []
    tfs: list = []
    segs: list = []
    for batch in batches:
        got = _term_counts(batch.column("content"), batch.num_rows)
        if got is None:
            continue
        words, row, tf, doc_lens = got
        docs = np.flatnonzero(doc_lens)  # zero-token docs are outside N
        row = np.concatenate((row, docs))
        terms.append(pa.concat_arrays(
            [words, pa.repeat(pa.scalar("", words.type), docs.size)]))
        tfs.append(np.concatenate((tf, doc_lens[docs])))
        ids.append(batch.column("doc_id").to_numpy(zero_copy_only=False)[row])
        segs.append(batch.column("seg").to_numpy(zero_copy_only=False)[row])
    if ids:
        yield _chunk_partition(terms, ids, tfs, segs, chunk_size)


def build_posting_chunks_segment(corpus_ids: DataFrame,
                                 cfg: BuildConfig) -> DataFrame:
    """NO-SHUFFLE postings build (Lucene-segment-style) — build_index's
    postings stage and the corpus's ONLY tokenize.

    Input: (doc_id, content, seg). Each partition is one *segment*: fused
    Arrow tokenize → in-partition lexsort by (term, doc_id) → chunk
    emission (_segment_chunks, _chunk_partition), holding one input split
    in memory. Token rows are born and consumed inside the Python worker —
    they NEVER cross the JVM↔Python boundary and there is NO exchange:
    per-partition transfer is content in (~split bytes), chunk rows out
    (~compressed postings).

    Disjointness invariant: every emitted chunk's [doc_lo, doc_hi] range must
    be disjoint from every other chunk's of the same term, across ALL
    partitions (the query tiers' cursor model depends on it). ``seg`` — the
    id-assignment bucket, a contiguous disjoint doc-id range — enforces it:
    chunks break on seg boundaries, so a chunk's range is always a
    sub-range of one seg. Without seg breaks the invariant silently relied
    on ids files being doc-range-disjoint, which the shuffle's hash placement
    of buckets into files does NOT guarantee (caught by an overlapping-chunk
    WAND failure when building over a lang-partitioned corpus).

    Scale notes: chunks-per-term grows with the id-bucket count (like
    Lucene segments); hot terms are naturally split by doc range. Small
    chunks are merged by a follow-up pass keyed by term
    (operators/compact.py: per-term metadata, not postings, drives the
    decision; its re-chunker is the shuffle-based build_posting_chunks).

    Doc lengths: avgdl is not known until this pass has tokenized the
    corpus, so chunk rows carry no impact. Every doc's length is a posting
    of the reserved term '' with tf = doc_len, chunked and encoded like any
    other term; build_index decodes those rows into the docs component
    (N, total_len, avgdl and the doc store) and write_postings_sorted then
    computes each real chunk's max_impact from its blob and the store."""
    chunk_size = cfg.chunk_size
    return corpus_ids.select("doc_id", "content", "seg").mapInArrow(
        lambda batches: _segment_chunks(batches, chunk_size),
        schema=CHUNKS_SCHEMA)


# doc-id block of the re-chunker's shuffle salt: a hot term spreads over
# ~max_doc/DOC_BLOCK partitions
DOC_BLOCK = 65536


def _rechunk(batches: Iterator[pa.RecordBatch],
             chunk_size: int) -> Iterator[pa.RecordBatch]:
    """One partition's (doc_id, term, tf, _blk) token batches → its chunk
    rows, breaking chunks on the doc block ``_blk``."""
    terms: list = []
    ids: list = []
    tfs: list = []
    blks: list = []
    for batch in batches:
        if not batch.num_rows:
            continue
        terms.append(batch.column("term"))
        ids.append(batch.column("doc_id").to_numpy(zero_copy_only=False))
        tfs.append(batch.column("tf").to_numpy(zero_copy_only=False))
        blks.append(batch.column("_blk").to_numpy(zero_copy_only=False))
    if ids:
        yield _chunk_partition(terms, ids, tfs, blks, chunk_size)


def build_posting_chunks(tokens: DataFrame, cfg: BuildConfig) -> DataFrame:
    """tokens (doc_id, term, tf) → chunked, compressed posting rows.
    The compactions' re-chunker (operators/compact.py, streaming/ingest.py):
    the only builder whose input is token rows rather than content.

    Skew handling: hash-partition by (term, doc_block) where doc_block =
    doc_id div DOC_BLOCK — a DETERMINISTIC salt derived from doc ranges.
    A hot term's postings spread across as many partitions as it has doc
    blocks, while each (term, block)'s rows stay together and doc ranges of
    different blocks never overlap. Compared to repartitionByRange this
    removes the range partitioner's sampling scan (a full extra pass over
    the token stream) and makes the physical layout reproducible
    run-to-run.

    Each partition then goes to the segment build's chunker
    (_chunk_partition) whole, with chunks breaking on (term, doc_block): a
    partition may hold two blocks of one term while a block between them
    lives elsewhere, and a chunk spanning them would overlap its range.
    Like the segment build, it holds one partition's token rows in
    memory."""
    P = int(tokens.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    chunk_size = cfg.chunk_size
    return (
        tokens.withColumn("_blk", F.floor(F.col("doc_id") / DOC_BLOCK))
        .repartition(P, "term", "_blk")
        .mapInArrow(lambda batches: _rechunk(batches, chunk_size),
                    schema=CHUNKS_SCHEMA)
    )


def decode_postings_to_tokens(chunks: DataFrame) -> DataFrame:
    """Inverse of the chunker: posting chunks → (doc_id, term, tf) rows.
    Each Arrow batch decodes in one decode_chunks_concat call; a chunk's
    term repeats once per posting."""
    def dec(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc

        from nextsearch_api_spark.functions.codec import decode_chunks_concat
        for batch in batches:
            if batch.num_rows == 0:
                continue
            counts = batch.column("count").to_numpy(zero_copy_only=False)
            ids, tfs = decode_chunks_concat(
                batch.column("blob"), batch.column("tf_off"), counts,
                batch.column("doc_lo"))
            rows = np.repeat(np.arange(batch.num_rows), counts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pc.take(batch.column("term"), pa.array(rows)),
                    pa.array(tfs.astype(np.int32), type=pa.int32()),
                ],
                names=TOKENS_SCHEMA.fieldNames(),
            )

    return chunks.select("term", "doc_lo", "count", "tf_off", "blob") \
        .mapInArrow(dec, schema=TOKENS_SCHEMA)


# ------------------------------------------------------------------ build --

def build_index(spark: SparkSession, corpus: DataFrame, out_root: str,
                cfg: BuildConfig | None = None, resume: bool = True) -> dict:
    """Full resumable build. Returns the stage-metrics dict.

    A completed root holds only what serving reads: postings, lexicon,
    docs, suggest and stats.json (plus the ``_manifest.json`` lineage).
    ``ids`` (doc ids, metadata and a copy of every doc's content) is build
    scratch: it stays while the build is incomplete, so a killed build
    resumes from it, and is removed right after the manifest records
    ``completed_at``. A resume re-creates it only when the docs or
    postings stage must run again (with ``postings`` deleted, ``ids`` runs
    before ``postings``); a complete build with unchanged inputs runs
    nothing."""
    cfg = cfg or BuildConfig()
    os.makedirs(out_root, exist_ok=True)
    # A batch (re)build claims the base-name generation: drop any compaction
    # pointer and its generation dirs so every stage reads/writes one
    # consistent layout. (Streamed deltas are not part of the batch corpus —
    # rebuilding from the corpus supersedes them by definition; after a
    # generation flip the base dirs are gone anyway, so stages re-run.)
    from nextsearch_api_spark.plans.generations import drop_generations
    drop_generations(out_root)
    paths = IndexPaths(out_root)
    manifest = BuildManifest.load(paths.manifest) if resume else BuildManifest(
        paths.manifest, {"stages": {}, "created_at": time.time()}
    )
    base_fp = {
        "format": FORMAT_VERSION,
        # build-intermediate layout (ids schema / stats source), independent
        # of the serving format: bumping invalidates old manifests without
        # making old INDEXES unreadable. 2 = single-tokenize flow (no
        # doc_len in ids; doclen table + stats derived from the postings
        # pass; deferred max_impact finalize). 3 = ids and doclen are
        # scratch, removed once the build completes; stats come only from
        # the postings stage's recorded N/total_len. 4 = no doclen table:
        # docs is written from the postings tokenize and records
        # N/total_len for the postings and stats stages. 5 = doc lengths
        # are a column of the doc store's Arrow twins. 6 = no uid in ids or
        # docs.
        "build_layout": 6,
        "chunk_size": cfg.chunk_size,
        "k1": cfg.bm25.k1, "b": cfg.bm25.b,
        "corpus": _corpus_fingerprint(corpus),
    }
    runner = StageRunner(manifest, base_fp)

    ids_path = os.path.join(out_root, "ids")
    # ids is read by the docs and postings stages only
    ids_needed = not (runner.done("docs", paths.docs)
                      and runner.done("postings", paths.postings))

    def stage_ids() -> dict:
        # One corpus pass: deterministic ids + content hashes, materialized
        # so later stages column-prune what they need (content is only read
        # again by the postings tokenizer) and resume never re-runs the
        # assignment. No doc_len here: the fused postings tokenize is the
        # build's ONLY tokenize and derives doc_len/avgdl itself (a second
        # tokenize here to learn avgdl early measured 11 s of the 17 s
        # 8-core ids stage at 400k docs, DRAM-bandwidth-bound).
        ids = assign_doc_ids(corpus).select(
            "doc_id", "repo", "path", "commit", "lang",
            F.sha2(F.col("content"), 256).alias("content_sha256"),
            "content", "seg",
        )
        ids.write.mode("overwrite").parquet(ids_path)
        return {"rows": _parquet_rows(ids_path)}

    runner.run("ids", stage_ids, output=ids_path if ids_needed else None)

    # THE corpus tokenize (the only one in the build, r6): the fused
    # builder emits chunk rows without impacts, doc lengths among them as
    # the postings of term ''. Persisted on first use, so the docs and
    # postings stages share one tokenize; whichever runs first populates
    # the cache.
    raw_cache: list[DataFrame] = []

    def raw_chunks() -> DataFrame:
        if not raw_cache:
            from pyspark import StorageLevel
            ids = spark.read.parquet(ids_path).select("doc_id", "content",
                                                      "seg")
            raw_cache.append(build_posting_chunks_segment(ids, cfg).persist(
                StorageLevel.MEMORY_AND_DISK))
        return raw_cache[0]

    def stage_docs() -> dict:
        # reference parity: docs = rows with ≥ 1 kept token
        # (src/ForwardIndex.cpp:152). Joins the content-pruned ids scan
        # with the doc lengths decoded from the tokenize's '' rows —
        # metadata-only rows on both sides, no content bytes move, and the
        # zero-token filter IS the inner join (such docs post no length).
        # Written doc-id-sorted with the doc store beside it: hydration
        # and every doc-length lookup read the store. N and total_len come
        # from the store's write and are recorded here, for avgdl and the
        # stats.
        lens = (decode_postings_to_tokens(
                    raw_chunks().where(F.col("term") == ""))
                .select("doc_id", F.col("tf").alias("doc_len")))
        docs = (
            spark.read.parquet(ids_path)
            .select("doc_id", "repo", "path", "commit", "lang",
                    "content_sha256")
            .join(lens, "doc_id")
            .select(*DOCS_COLUMNS)
        )
        N, total_len = write_docs_sorted(docs, paths.docs)
        return {"rows": N, "total_len": total_len}

    def stage_postings() -> dict:
        # Term-locality layout for the serving tier: the builder's output
        # files each span ~the whole vocab, so a query-term predicate would
        # prune nothing. Range-partition + sort by (term, doc_lo) so
        # Parquet footer min/max confine each term to 1-2 row groups — the
        # on-disk analog of the reference's contiguous per-term posting
        # regions (lexicon offset + seek). Chunk ROWS are shuffled here
        # (compressed postings, a fraction of corpus bytes), never token
        # rows — the build itself stays no-shuffle. max_impact takes avgdl
        # from the docs stage and each doc's length from its store.
        N, total_len = _docs_totals(runner)
        write_postings_sorted(
            raw_chunks().where(F.col("term") != ""), paths.postings,
            float(total_len) / N if N else 0.0, cfg.bm25, paths.docs)
        return {"rows": _parquet_rows(paths.postings)}

    try:
        runner.run("docs", stage_docs, output=paths.docs)
        runner.run("postings", stage_postings, output=paths.postings)
    finally:
        # docs + postings are on disk: the cache is fully consumed
        for raw in raw_cache:
            raw.unpersist(blocking=False)

    def stage_stats() -> dict:
        # N/total_len were recorded by the docs stage; metrics persist in
        # the manifest so resume keeps them across processes.
        N, total_len = _docs_totals(runner)
        avgdl = float(total_len) / N if N else 0.0
        stats = {"N": N, "avgdl": avgdl, "total_len": total_len,
                 "k1": cfg.bm25.k1, "b": cfg.bm25.b,
                 "format": FORMAT_VERSION, "built_at": time.time()}
        with open(paths.stats, "w") as f:
            json.dump(stats, f, indent=2)
        return {"rows": N}

    runner.run("stats", stage_stats, output=paths.stats)

    def stage_lexicon() -> dict:
        write_lexicon(spark, paths.postings, paths.lexicon)
        return {"rows": _parquet_rows(paths.lexicon)}

    runner.run("lexicon", stage_lexicon, output=paths.lexicon)

    def stage_suggest() -> dict:
        write_suggest_sorted(spark, paths.lexicon, paths.suggest)
        return {"rows": _parquet_rows(paths.suggest)}

    runner.run("suggest", stage_suggest, output=paths.suggest)

    manifest.data["completed_at"] = time.time()
    manifest.save()
    # every serving component is written: the scratch table goes (ids
    # holds a copy of the corpus, most of a built root's bytes)
    shutil.rmtree(ids_path, ignore_errors=True)
    return runner.metrics


def _docs_totals(runner: StageRunner) -> tuple[int, int]:
    """(N, total_len) the docs stage recorded, in this run or a resumed
    one."""
    docs = runner.metrics["docs"]
    return int(docs["rows"]), int(docs["total_len"])


def _corpus_fingerprint(corpus: DataFrame) -> str:
    """Cheap input fingerprint for resume decisions: source files if the plan
    is a file scan, else the logical plan string."""
    try:
        files = sorted(corpus.inputFiles())
        if files:
            return "files:" + ",".join(files)
    except Exception:
        pass
    return "plan:" + corpus._jdf.queryExecution().logical().toString()  # noqa: SLF001
