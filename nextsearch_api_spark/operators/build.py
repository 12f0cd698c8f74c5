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
  * serving layout — the chunk rows (compressed postings, a fraction of
    corpus bytes) are range-partitioned + sorted by (term, doc_lo) in
    bounded row groups; docs by doc_id; lexicon and suggest by key.
  * postings format v5 — per chunk: a blob of doc-id gaps from doc_lo, tf
    and frame-of-reference doc_len (functions/codec.py owns the layout),
    float32 block-max impact (functions/scoring.py:bm25_impact) — the
    per-chunk bound the batch tier's chunk prune plans with. avgdl is only
    known after the pass, so chunks carry a (tf, dl) Pareto frontier that
    finalize_max_impact turns into the attained max.
  * compaction re-chunks token rows with build_posting_chunks: a hash
    shuffle by (term, doc_id div doc_block), a deterministic doc-range salt
    that splits a hot term across partitions while each block stays whole.
  * every stage materializes to Parquet and checkpoints via the lineage
    manifest (plans/checkpoint.py) — resume skips completed stages. The
    ids and doclen tables are scratch: removed once the build completes,
    re-created only when a stage that reads them must run again.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from nextsearch_api_spark.config import BuildConfig, IndexPaths
from nextsearch_api_spark.functions.scoring import bm25_impact
from nextsearch_api_spark.functions.text import arrow_kept_tokens
from nextsearch_api_spark.plans.checkpoint import BuildManifest, StageRunner

TOKENS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("term", StringType(), False),
    StructField("tf", IntegerType(), False),
    StructField("doc_len", IntegerType(), False),
])

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("doc_lo", LongType(), False),
    StructField("doc_hi", LongType(), False),
    StructField("count", IntegerType(), False),
    StructField("sum_tf", LongType(), False),
    StructField("max_tf", IntegerType(), False),
    StructField("min_dl", IntegerType(), False),
    StructField("max_impact", FloatType(), False),
    StructField("tf_off", IntegerType(), False),
    StructField("dl_off", IntegerType(), False),
    StructField("blob", BinaryType(), False),
])

# deferred-impact build output (the postings pass, avgdl unknown at tokenize
# time): POSTINGS_SCHEMA + per-chunk (tf, dl) Pareto frontier; the frontier
# columns are consumed by finalize_max_impact and never reach disk
POSTINGS_BUILD_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields + [
        StructField("fr_tf", ArrayType(IntegerType(), False), False),
        StructField("fr_dl", ArrayType(IntegerType(), False), False),
    ]
)

_KEY_SEP = "\x01"

# bump when the on-disk chunk/lexicon format changes — forces resume logic to
# rebuild indexes created by older code
FORMAT_VERSION = 5


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
    corpora keep the fully distributed sample+count path.
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
    if B > 1 and n <= driver_keys_max:
        # one column-pruned Arrow collect; sort + split points run in Arrow
        # C kernels on UTF-8 binary (the same byte order Spark's UTF8String
        # compares with) — no Python string objects materialize
        import pyarrow as pa
        import pyarrow.compute as pc
        arr = (keyed.select("_key").toArrow().column(0)
               .combine_chunks().cast(pa.binary()))
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
        tok, schema=TOKENS_SCHEMA
    )


def append_doc_len(df: DataFrame) -> DataFrame:
    """Append a doc_len column (kept-token count) to a DataFrame that
    carries (doc_id, content, ...) — all other columns pass through as Arrow
    buffers (no conversion cost)."""
    out_schema = StructType(df.schema.fields + [
        StructField("doc_len", IntegerType(), False)
    ])

    def app(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            _, parent = arrow_kept_tokens(batch.column("content"))
            dl = np.bincount(parent.to_numpy(zero_copy_only=False),
                             minlength=batch.num_rows).astype(np.int32)
            yield batch.append_column("doc_len", pa.array(dl))

    return df.mapInArrow(app, schema=out_schema)


# ----------------------------------------------------------------- chunks --

def _pa_postings_schema(frontier: bool = False):
    import pyarrow as pa
    fields = [
        ("term", pa.string()),
        ("doc_lo", pa.int64()),
        ("doc_hi", pa.int64()),
        ("count", pa.int32()),
        ("sum_tf", pa.int64()),
        ("max_tf", pa.int32()),
        ("min_dl", pa.int32()),
        ("max_impact", pa.float32()),
        ("tf_off", pa.int32()),
        ("dl_off", pa.int32()),
        ("blob", pa.binary()),
    ]
    if frontier:
        fields += [("fr_tf", pa.list_(pa.int32())),
                   ("fr_dl", pa.list_(pa.int32()))]
    return pa.schema(fields)


def _chunks_recordbatch(dictionary, codes, ids, tfs, dls, cst, cen,
                        k1=None, b=None, avgdl32=None):
    """Vectorized chunk emission from (term-code, doc)-sorted arrays and
    chunk boundaries [cst, cen), which tile rows [0, cen[-1]): whole-batch
    impact computation, reduceat aggregates, and one
    functions/codec.py:encode_chunks call for every blob of the batch.

    ``avgdl32=None`` = deferred-impact mode (the segment build path, r6):
    avgdl is not known yet — the corpus is tokenized exactly ONCE, in this
    pass, and avgdl is derived from it afterwards. Instead of max_impact the
    batch carries each chunk's Pareto frontier of (tf, dl) pairs (points not
    dominated by another point with tf' ≥ tf and dl' ≤ dl). BM25 impact is
    increasing in tf and decreasing in dl, so for ANY avgdl the attained
    chunk max lies on the frontier; ``finalize_max_impact`` evaluates it
    with the same float32 arithmetic once avgdl exists. (Stepwise f32
    rounding is monotone in dl and can invert the tf direction by ~1 ulp,
    i.e. the finalized value may understate the true f32 max by ~1e-7
    relative — two orders of magnitude inside the 1e-5 slack the chunk
    prefilter already applies, operators/query.py _CHUNK_PRUNE_SLACK.)"""
    import pyarrow as pa
    import pyarrow.compute as pc

    from nextsearch_api_spark.functions.codec import encode_chunks

    m = int(cen[-1])  # rows covered by chunks (any held-back tail excluded)
    blobs, tfo, dlo = encode_chunks(ids[:m], tfs[:m], dls[:m], cst)

    sum_tf = np.add.reduceat(tfs[:m], cst)
    max_tf = np.maximum.reduceat(tfs[:m], cst)
    # min_dl: with max_tf it yields a sound per-chunk impact upper bound for
    # ANY (k1, b, avgdl), also after stats drift (incremental compaction
    # changes avgdl) has made the stored build-time max_impact stale
    min_dl = np.minimum.reduceat(dls[:m], cst)

    fr_off = fr_tf_vals = fr_dl_vals = None
    if avgdl32 is not None:
        imp_all = bm25_impact(tfs[:m], dls[:m], k1, b, avgdl32)
        max_imp = np.maximum.reduceat(imp_all, cst)
    else:
        # per-chunk Pareto frontier, one vectorized pass: sort rows by
        # (chunk, tf desc, dl asc); a row is on the frontier iff its dl is
        # strictly below the running per-chunk min (rows before it have
        # ≥ tf). Equal (tf, dl) duplicates collapse to one point.
        cid = np.searchsorted(cen, np.arange(m), side="right")
        order = np.lexsort((dls[:m], -tfs[:m], cid))
        cs = cid[order]
        ds = dls[:m][order]
        gmin = pd.Series(ds).groupby(cs).cummin().to_numpy()
        first = np.empty(m, dtype=bool)
        first[0] = True
        first[1:] = cs[1:] != cs[:-1]
        prev = np.empty(m, dtype=ds.dtype)
        prev[0] = 0
        prev[1:] = gmin[:-1]
        keep = first | (ds < prev)
        counts = np.bincount(cs[keep], minlength=len(cst))
        fr_off = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
        kept = order[keep]
        fr_tf_vals = tfs[:m][kept].astype(np.int32)
        fr_dl_vals = dls[:m][kept].astype(np.int32)
        max_imp = np.zeros(len(cst), dtype=np.float32)  # finalized later

    term_out = pc.take(dictionary, pa.array(codes[cst].astype(np.int32)))
    arrays = [
        term_out,
        pa.array(ids[cst]),
        pa.array(ids[cen - 1]),
        pa.array((cen - cst).astype(np.int32)),
        pa.array(sum_tf.astype(np.int64)),
        pa.array(max_tf.astype(np.int32)),
        pa.array(min_dl.astype(np.int32)),
        pa.array(max_imp.astype(np.float32)),
        pa.array(tfo),
        pa.array(dlo),
        blobs,
    ]
    if avgdl32 is None:
        arrays += [
            pa.ListArray.from_arrays(pa.array(fr_off),
                                     pa.array(fr_tf_vals, type=pa.int32())),
            pa.ListArray.from_arrays(pa.array(fr_off),
                                     pa.array(fr_dl_vals, type=pa.int32())),
        ]
    return pa.RecordBatch.from_arrays(
        arrays, schema=_pa_postings_schema(frontier=avgdl32 is None),
    )


# Row-group byte targets of the serving tables (parquet.block.size). The
# serving tier reads by key through footer indexes (functions/rowgroups.py),
# so a point read costs about one row group: hydrating k hits reads ≤ k docs
# row groups, a term fetch reads its own postings row groups plus at most a
# partial neighbor at each end. Smaller groups cut the bytes per read but
# add footer metadata and weaken per-group compression; the values come from
# a sweep of the k=100 serving tail against index bytes (CHANGES.md).
DOCS_ROW_GROUP_BYTES = 32 << 10
POSTINGS_ROW_GROUP_BYTES = 256 << 10
SUGGEST_ROW_GROUP_BYTES = 1 << 20
SUGGEST_ROWS_PER_FILE = 2_000_000


def _write_range_sorted(df: DataFrame, out_path: str, keys: list[str],
                        row_group_bytes: int, partitions: int,
                        then: tuple[str, ...] = (), post_sort=None) -> None:
    """Range-partition by ``keys``, sort by ``keys`` + ``then`` and write
    with bounded row groups: files cover disjoint key ranges and every row
    group's footer min/max of the leading key is a tight range, so a keyed
    read selects only the row groups holding its keys."""
    out = (df.repartitionByRange(partitions, *keys)
           .sortWithinPartitions(*keys, *then))
    if post_sort is not None:
        out = post_sort(out)
    (out.write.mode("overwrite")
        .option("parquet.block.size", row_group_bytes)
        .parquet(out_path))


def _serving_partitions(spark: SparkSession) -> int:
    return min(64, max(8, int(spark.conf.get("spark.sql.shuffle.partitions"))))


def write_postings_sorted(chunks: DataFrame, out_path: str,
                          post_sort=None) -> None:
    """Write chunk rows range-partitioned + sorted by (term, doc_lo) in
    bounded row groups: tight per-row-group term min/max stats → a term
    fetch reads only the few row groups actually holding the term.

    ``post_sort``: optional order-preserving DataFrame transform applied
    AFTER the sort, before the write (the deferred-impact finalize) — placed
    here so the range-sampling pass and the shuffle both read the cheap
    cached input and the transform runs exactly once, on the sorted
    stream.

    Every postings writer (build_index, compact_postings, compact_deltas)
    goes through here, so this is where the chunk invariant is checked: per
    term, chunk doc ranges are disjoint, hence one term's decoded doc ids
    are unique, which the scoring kernel relies on. After the write one
    aggregate over the (term, doc_lo, doc_hi) columns counts the chunks
    whose doc_lo is at most the previous doc_hi of the same term, and any
    such chunk raises ValueError — before the caller records the stage or
    flips a generation."""
    from pyspark.sql import Window

    _write_range_sorted(
        chunks, out_path, ["term", "doc_lo"], POSTINGS_ROW_GROUP_BYTES,
        _serving_partitions(chunks.sparkSession), post_sort=post_sort)
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


def write_docs_sorted(docs: DataFrame, out_path: str) -> None:
    """Write doc rows range-partitioned + sorted by doc_id in bounded row
    groups: row-group doc-id ranges are disjoint and ascending, so hydrating
    k hits reads at most k row groups (the reference's O(1) ``docs[docId]``,
    api_engine.cpp:508-532)."""
    _write_range_sorted(
        docs, out_path, ["doc_id"], DOCS_ROW_GROUP_BYTES,
        _serving_partitions(docs.sparkSession))


def write_lexicon(postings: DataFrame, out_path: str) -> None:
    """Aggregate chunk rows into the lexicon — per term df (posting count),
    cf, n_chunks and max_impact — written range-partitioned + sorted by
    term, so footer min/max stats confine a term lookup to its row group
    (the reference's barrel/offset seek analog). persist():
    repartitionByRange samples its input with an extra execution, which
    would otherwise run the aggregate twice."""
    lex = postings.groupBy("term").agg(
        F.sum("count").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        F.count("*").cast("int").alias("n_chunks"),
        F.max("max_impact").alias("max_impact"),
    ).persist()
    try:
        (lex.repartitionByRange(64, "term").sortWithinPartitions("term")
            .write.mode("overwrite").parquet(out_path))
    finally:
        lex.unpersist()


def write_suggest_sorted(sug: DataFrame, out_path: str) -> None:
    """Serving layout for LazySuggester: prefix-RANGE partitioning (a
    prefix's ≤10 rows land in exactly one file, file ranges near-disjoint)
    + sort within partitions + ~1 MiB row groups → every footer row-group
    stat is a tight [lo, hi] prefix range, so one lookup reads ~1 row group
    instead of collecting the whole table (VERDICT r5 next #1). persist():
    repartitionByRange range-samples its input, which would otherwise
    re-run the explode+window twice."""
    sug = sug.persist()
    try:
        n = sug.count()
        parts = max(1, -(-n // SUGGEST_ROWS_PER_FILE))
        _write_range_sorted(sug, out_path, ["prefix"],
                            SUGGEST_ROW_GROUP_BYTES, parts, then=("rnk",))
    finally:
        sug.unpersist()


# Doc-stat carrier rows (segment build, deferred-impact mode): the fused
# tokenize pass is the ONLY place doc_len exists, so each task packs its
# (doc_id, doc_len) pairs — zero-token docs excluded — into chunk-schema rows
# with term '' (real terms are ≥ 2 chars, so '' can never collide). Packing
# ~64k docs per row keeps the stat rows a vanishing fraction of the chunk
# table (one row per ~64k docs vs one chunk row per ≤ chunk_size postings);
# one row per doc would INVERT that ratio at 10^12 docs. The blob layout is
# functions/codec.py:pack_doc_stats, split point in tf_off.
_DOCSTAT_PACK = 65536

DOCLEN_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("doc_len", IntegerType(), False),
])


def _docstat_recordbatch(stat_ids: list, stat_dls: list):
    import pyarrow as pa

    from nextsearch_api_spark.functions.codec import pack_doc_stats

    sids = np.concatenate(stat_ids)
    sdls = np.concatenate(stat_dls).astype(np.int32)
    o = np.argsort(sids, kind="stable")  # file order is already ~sorted
    sids, sdls = sids[o], sdls[o]
    cols: dict[str, list] = {k: [] for k in
                             ("lo", "hi", "n", "tot", "off", "blob")}
    for s in range(0, len(sids), _DOCSTAT_PACK):
        e = min(s + _DOCSTAT_PACK, len(sids))
        cols["lo"].append(int(sids[s]))
        cols["hi"].append(int(sids[e - 1]))
        cols["n"].append(e - s)
        cols["tot"].append(int(sdls[s:e].sum()))
        blob, split = pack_doc_stats(sids[s:e], sdls[s:e])
        cols["off"].append(split)
        cols["blob"].append(blob)
    k = len(cols["lo"])
    empty_list = pa.ListArray.from_arrays(
        pa.array(np.zeros(k + 1, dtype=np.int32)),
        pa.array([], type=pa.int32()))
    return pa.RecordBatch.from_arrays(
        [
            pa.array([""] * k, type=pa.string()),
            pa.array(cols["lo"], type=pa.int64()),
            pa.array(cols["hi"], type=pa.int64()),
            pa.array(cols["n"], type=pa.int32()),
            pa.array(cols["tot"], type=pa.int64()),
            pa.array([0] * k, type=pa.int32()),
            pa.array([0] * k, type=pa.int32()),
            pa.array([0.0] * k, type=pa.float32()),
            pa.array(cols["off"], type=pa.int32()),
            pa.array([0] * k, type=pa.int32()),
            pa.array(cols["blob"], type=pa.binary()),
            empty_list,
            empty_list,
        ],
        schema=_pa_postings_schema(frontier=True),
    )


def decode_doclen_rows(stat_rows: DataFrame) -> DataFrame:
    """Doc-stat carrier rows → (doc_id, doc_len) DataFrame (one row per doc
    with ≥ 1 kept token — exactly the reference's N population,
    src/ForwardIndex.cpp:152)."""
    def go(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa

        from nextsearch_api_spark.functions.codec import unpack_doc_stats
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids, dls = unpack_doc_stats(batch.column("blob"),
                                        batch.column("tf_off"))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(dls)],
                schema=pa.schema([("doc_id", pa.int64()),
                                  ("doc_len", pa.int32())]),
            )

    return stat_rows.select("blob", "tf_off").mapInArrow(go, DOCLEN_SCHEMA)


def finalize_max_impact(chunks: DataFrame, avgdl: float,
                        cfg: BuildConfig) -> DataFrame:
    """Deferred-impact chunks → final POSTINGS_SCHEMA: per-chunk max_impact
    evaluated over the stored (tf, dl) Pareto frontier with the now-known
    avgdl, frontier columns dropped. Same float32 arithmetic as the eager
    path (and as query-time decode), so the stored value remains an ATTAINED
    query-time impact — the exactness precondition of the batch tier's chunk
    prefilter (operators/query.py:_plan_chunk_prune); verified bit-identical
    to the eager path's output on a 2k-doc corpus. A vectorized pandas_udf
    over ONLY the two frontier columns — the blob bytes (the bulk of every
    chunk row) never cross the JVM↔Python boundary."""
    from pyspark.sql.functions import pandas_udf

    k1 = np.float32(cfg.bm25.k1)
    b = np.float32(cfg.bm25.b)
    # avgdl == 0 ⇔ no doc has tokens ⇔ no real chunks exist; the guard only
    # keeps the f32 math finite on that empty plan
    avgdl32 = np.float32(avgdl if avgdl > 0 else 1.0)

    @pandas_udf("float")
    def _frontier_max(fr_tf: pd.Series, fr_dl: pd.Series) -> pd.Series:
        lens = fr_tf.str.len().to_numpy(dtype=np.int64)
        if len(lens) == 0:
            return pd.Series(np.empty(0, dtype=np.float32))
        if not (lens > 0).all():  # every chunk has ≥ 1 posting
            raise ValueError("chunk row with empty impact frontier")
        imp = bm25_impact(np.concatenate(fr_tf.to_numpy()),
                          np.concatenate(fr_dl.to_numpy()), k1, b, avgdl32)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        return pd.Series(np.maximum.reduceat(imp, starts).astype(np.float32))

    out_cols = [f.name for f in POSTINGS_SCHEMA.fields]
    return (chunks.withColumn("max_impact",
                              _frontier_max("fr_tf", "fr_dl"))
            .select(*out_cols))


def _chunk_bounds(codes: np.ndarray, parts: np.ndarray, chunk_size: int,
                  hold_tail: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Chunk row ranges [cst, cen) along a (term, doc_id)-sorted run. Rows
    group on every change of term code or of ``parts`` (the doc range a
    chunk must not span), and each group splits into consecutive chunks of
    ≤ chunk_size rows. ``hold_tail`` leaves out the last group's partial
    trailing chunk, whose term may continue in the next input batch, so
    cen[-1] can stop short of len(codes)."""
    change = (codes[1:] != codes[:-1]) | (parts[1:] != parts[:-1])
    starts = np.flatnonzero(np.concatenate(([True], change)))
    ends = np.append(starts[1:], len(codes))
    if hold_tail:
        ends[-1] -= (ends[-1] - starts[-1]) % chunk_size
    per = -(-(ends - starts) // chunk_size)
    grp = np.repeat(np.arange(len(starts)), per)
    nth = np.arange(len(grp)) - np.repeat(np.cumsum(per) - per, per)
    cst = starts[grp] + nth * chunk_size
    return cst, np.minimum(cst + chunk_size, ends[grp])


def build_posting_chunks_segment(corpus_ids: DataFrame,
                                 cfg: BuildConfig) -> DataFrame:
    """NO-SHUFFLE postings build (Lucene-segment-style) — build_index's
    postings stage and the corpus's ONLY tokenize.

    Input: (doc_id, content[, seg]). Each partition is one *segment*: fused
    Arrow tokenize → in-partition lexsort by (term, doc_id) → chunk emission.
    Token rows are born and consumed inside the Python worker — they NEVER
    cross the JVM↔Python boundary and there is NO exchange: per-partition
    transfer is content in (~split bytes), chunk rows out (~compressed
    postings).

    Disjointness invariant: every emitted chunk's [doc_lo, doc_hi] range must
    be disjoint from every other chunk's of the same term, across ALL
    partitions (the query tiers' cursor model depends on it). ``seg`` — the
    id-assignment bucket, a contiguous disjoint doc-id range — enforces it:
    chunks additionally break on seg boundaries, so a chunk's range is always
    a sub-range of one seg. Without seg breaks the invariant silently relied
    on ids files being doc-range-disjoint, which the shuffle's hash placement
    of buckets into files does NOT guarantee (caught by an overlapping-chunk
    WAND failure when building over a lang-partitioned corpus). Callers
    without a seg column (single contiguous range per partition, e.g. after
    repartitionByRange(doc_id)) may omit it.

    Scale notes: chunks-per-term grows with partition count (like Lucene
    segments); hot terms are naturally split by doc range. For extreme
    partition counts, compact small chunks with a follow-up merge keyed by
    term (operators/compact.py: per-term metadata, not postings, drives the
    decision; its re-chunker is the shuffle-based build_posting_chunks).

    Deferred impacts: avgdl is not known until this pass has tokenized the
    corpus, so chunks carry a (tf, dl) Pareto frontier instead of
    max_impact (see _chunks_recordbatch) and each task additionally emits
    doc-stat carrier rows (term '', see _docstat_recordbatch) from which
    build_index derives the doclen table, N, total_len and avgdl before
    finalize_max_impact evaluates the stored frontiers."""
    chunk_size = cfg.chunk_size

    def builder(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc

        term_parts: list = []   # arrow string arrays (no python objects)
        ids_parts: list = []
        tf_parts: list = []
        dl_parts: list = []
        seg_parts: list = []
        stat_ids: list = []     # per-doc (id, len) for the doc-stat rows
        stat_dls: list = []

        for batch in batches:
            got = _term_counts(batch.column("content"), batch.num_rows)
            if got is None:
                continue
            terms, row, tf, doc_lens = got
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            seg_ids = (
                batch.column("seg").to_numpy(zero_copy_only=False).astype(np.int64)
                if "seg" in batch.schema.names
                else np.zeros(batch.num_rows, dtype=np.int64)
            )
            term_parts.append(terms)
            ids_parts.append(doc_ids[row])
            tf_parts.append(tf)
            dl_parts.append(doc_lens[row])
            seg_parts.append(seg_ids[row])
            mask = doc_lens > 0  # zero-token docs are outside N
            stat_ids.append(doc_ids[mask].astype(np.int64))
            stat_dls.append(doc_lens[mask])

        if not ids_parts:
            return
        enc_all = pc.dictionary_encode(pa.concat_arrays(term_parts))
        if isinstance(enc_all, pa.ChunkedArray):
            enc_all = enc_all.combine_chunks()
        codes = enc_all.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        ids = np.concatenate(ids_parts)
        tfs = np.concatenate(tf_parts)
        dls = np.concatenate(dl_parts)
        segs = np.concatenate(seg_parts)
        order = np.lexsort((ids, codes))
        codes, ids, tfs, dls, segs = (
            codes[order], ids[order], tfs[order], dls[order], segs[order]
        )
        # chunk runs break on term AND seg change: segs are disjoint
        # contiguous doc ranges, so along the (term, doc_id) sort each seg's
        # docs are consecutive and the break keeps every chunk inside one seg
        cst, cen = _chunk_bounds(codes, segs, chunk_size)
        yield _chunks_recordbatch(enc_all.dictionary, codes, ids, tfs, dls,
                                  cst, cen)
        yield _docstat_recordbatch(stat_ids, stat_dls)

    cols = ["doc_id", "content"]
    if "seg" in [f.name for f in corpus_ids.schema.fields]:
        cols.append("seg")
    src = corpus_ids.select(*cols)
    if cfg.segment_partitions:
        # explicit segment sizing; range partitioning by doc_id keeps the
        # per-segment doc ranges disjoint (the correctness invariant)
        src = src.repartitionByRange(cfg.segment_partitions, "doc_id")
    return src.mapInArrow(builder, schema=POSTINGS_BUILD_SCHEMA)


def build_posting_chunks(tokens: DataFrame, avgdl: float,
                         cfg: BuildConfig) -> DataFrame:
    """tokens (doc_id, term, tf, doc_len) → chunked, compressed posting rows.
    The compactions' re-chunker (operators/compact.py, streaming/ingest.py):
    the only builder whose input is token rows rather than content.

    Skew handling: hash-partition by (term, doc_block) where doc_block =
    doc_id div cfg.doc_block — a DETERMINISTIC salt derived from doc ranges.
    A hot term's postings spread across as many partitions as it has doc
    blocks, while each (term, block)'s rows stay together and doc ranges of
    different blocks never overlap — so every partition emits independent,
    disjoint, doc-ordered chunks with memory bounded by chunk_size. Compared
    to repartitionByRange this removes the range partitioner's sampling scan
    (a full extra pass over the token stream) and makes the physical layout
    reproducible run-to-run."""
    spark = tokens.sparkSession
    P = cfg.postings_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    k1 = np.float32(cfg.bm25.k1)
    b = np.float32(cfg.bm25.b)
    avgdl32 = np.float32(avgdl)
    chunk_size = cfg.chunk_size

    def builder(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        """Arrow-native chunk builder. Term strings NEVER become Python
        objects: the term column rides through as an Arrow array (dictionary-
        encoded for group detection, pc.take for per-chunk output); numerics
        are zero-copy NumPy.

        Chunk runs break on (term, _blk) so chunks never span doc blocks —
        two blocks of one term may share a partition while a block between
        them lives elsewhere, and a spanning chunk would overlap its range."""
        import pyarrow as pa
        import pyarrow.compute as pc

        def emit(tbl: "pa.Table", complete_only: bool):
            terms = tbl.column("term").combine_chunks()
            blks = tbl.column("_blk").to_numpy(zero_copy_only=False)
            ids = tbl.column("doc_id").to_numpy(zero_copy_only=False)
            tfs = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
            dls = tbl.column("doc_len").to_numpy(zero_copy_only=False).astype(np.int64)
            enc = pc.dictionary_encode(terms)
            if isinstance(enc, pa.ChunkedArray):
                enc = enc.combine_chunks()
            codes = enc.indices.to_numpy(zero_copy_only=False)
            # a held-back tail carries over to the next batch: its term's
            # rows may continue there
            cst, cen = _chunk_bounds(codes, blks, chunk_size,
                                     hold_tail=complete_only)
            done = int(cen[-1]) if len(cen) else 0
            leftover = tbl.slice(done) if done < len(codes) else None
            if not len(cst):
                return None, leftover
            rb = _chunks_recordbatch(enc.dictionary, codes, ids,
                                     tfs, dls, cst, cen,
                                     k1, b, avgdl32)
            return rb, leftover

        buf: "pa.Table | None" = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            if buf is not None:
                tbl = pa.concat_tables([buf, tbl]).combine_chunks()
                buf = None
            out_rb, buf = emit(tbl, complete_only=True)
            if out_rb is not None:
                yield out_rb
        if buf is not None and buf.num_rows:
            out_rb, _ = emit(buf, complete_only=False)
            if out_rb is not None:
                yield out_rb

    return (
        tokens.withColumn("_blk", F.floor(F.col("doc_id") / cfg.doc_block))
        .repartition(P, "term", "_blk")
        .sortWithinPartitions("term", "doc_id")
        .mapInArrow(builder, schema=POSTINGS_SCHEMA)
    )


# ------------------------------------------------------------------ build --

def build_index(spark: SparkSession, corpus: DataFrame, out_root: str,
                cfg: BuildConfig | None = None, resume: bool = True) -> dict:
    """Full resumable build. Returns the stage-metrics dict.

    A completed root holds only what serving reads: postings, lexicon,
    docs, suggest and stats.json (plus the ``_manifest.json`` lineage).
    ``ids`` (doc ids, metadata and a copy of every doc's content) and
    ``doclen`` are build scratch: they stay while the build is incomplete,
    so a killed build resumes from them, and are removed right after the
    manifest records ``completed_at``. A resume re-creates a scratch table
    only when a stage that reads it must run again: with ``postings``
    deleted, ``ids`` runs before ``postings``; a complete build with
    unchanged inputs runs nothing."""
    cfg = cfg or BuildConfig()
    paths = IndexPaths(out_root)
    os.makedirs(out_root, exist_ok=True)
    # A batch (re)build claims the base-name generation: drop any compaction
    # pointer and its generation dirs so every stage reads/writes one
    # consistent layout. (Streamed deltas are not part of the batch corpus —
    # rebuilding from the corpus supersedes them by definition; after a
    # generation flip the base dirs are gone anyway, so stages re-run.)
    from nextsearch_api_spark.config import CURRENT_POINTER
    cur_ptr = os.path.join(out_root, CURRENT_POINTER)
    if os.path.exists(cur_ptr):
        from nextsearch_api_spark.plans.generations import (
            DEFAULT_COMPONENTS, RETIRED_COMPONENTS, current_mapping,
        )
        mapping = current_mapping(out_root)
        os.remove(cur_ptr)
        stale_names = {
            mapping.get(comp, default)
            for comp, default in DEFAULT_COMPONENTS.items()
            if mapping.get(comp, default) != default
        } | set(mapping.get("gc_pending", [])) \
            | {mapping[comp] for comp in RETIRED_COMPONENTS if comp in mapping}
        for phys in stale_names:
            if phys in DEFAULT_COMPONENTS.values():
                continue
            stale = os.path.join(out_root, phys)
            if os.path.isdir(stale):
                shutil.rmtree(stale, ignore_errors=True)
            elif os.path.exists(stale):
                os.remove(stale)
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
        # the postings stage's recorded N/total_len.
        "build_layout": 3,
        "chunk_size": cfg.chunk_size,
        "segment_partitions": cfg.segment_partitions,
        "k1": cfg.bm25.k1, "b": cfg.bm25.b,
        "corpus": _corpus_fingerprint(corpus),
    }
    runner = StageRunner(manifest, base_fp)

    ids_path = os.path.join(out_root, "ids")
    doclen_path = os.path.join(out_root, "doclen")
    # Scratch planning: postings reads ids and writes doclen, docs reads
    # both. A scratch table a completed build removed is re-created only
    # when one of its readers must run again.
    docs_todo = not runner.done("docs", paths.docs)
    postings_out = [paths.postings] + ([doclen_path] if docs_todo else [])
    ids_needed = docs_todo or not runner.done("postings", postings_out)

    def stage_ids() -> dict:
        # One corpus pass: deterministic ids + content hashes, materialized
        # so later stages column-prune what they need (content is only read
        # again by the postings tokenizer) and resume never re-runs the
        # assignment. No doc_len here: the fused postings tokenize is the
        # build's ONLY tokenize and derives doc_len/avgdl itself (a second
        # tokenize here to learn avgdl early measured 11 s of the 17 s
        # 8-core ids stage at 400k docs, DRAM-bandwidth-bound).
        ids = assign_doc_ids(corpus, cfg.id_partitions).select(
            "doc_id",
            F.substring(
                F.sha2(F.concat_ws("", "repo", "path", "commit"), 256), 1, 16
            ).alias("uid"),
            "repo", "path", "commit", "lang",
            F.sha2(F.col("content"), 256).alias("content_sha256"),
            "content", "seg",
        )
        ids.write.mode("overwrite").parquet(ids_path)
        return {"rows": _parquet_rows(ids_path)}

    runner.run("ids", stage_ids, output=ids_path if ids_needed else None)

    def stage_postings() -> dict:
        # THE corpus tokenize (the only one in the build, r6): the fused
        # builder runs in deferred-impact mode — chunks carry (tf, dl)
        # Pareto frontiers plus doc-stat carrier rows. The doclen write is
        # the first action (populating the persist); N/total_len/avgdl come
        # from a footer-cheap aggregate over it; finalize_max_impact then
        # turns frontiers into attained per-chunk maxes with that avgdl.
        from pyspark import StorageLevel
        ids = spark.read.parquet(ids_path).select("doc_id", "content", "seg")
        raw = build_posting_chunks_segment(ids, cfg).persist(
            StorageLevel.MEMORY_AND_DISK)
        try:
            decode_doclen_rows(raw.where(F.col("term") == "")) \
                .write.mode("overwrite").parquet(doclen_path)
            row = (
                spark.read.parquet(doclen_path)
                .agg(F.count("*").alias("N"),
                     F.sum("doc_len").alias("total_len"))
                .collect()[0]
            )
            N, total_len = int(row["N"]), int(row["total_len"] or 0)
            avgdl = float(total_len) / N if N else 0.0
            # Term-locality layout for the serving tier: the builder's
            # output files each span ~the whole vocab, so a query-term
            # predicate would prune nothing. Range-partition + sort by
            # (term, doc_lo) so Parquet footer min/max confine each term to
            # 1-2 row groups — the on-disk analog of the reference's
            # contiguous per-term posting regions (lexicon offset + seek).
            # Chunk ROWS are shuffled here (compressed postings, a fraction
            # of corpus bytes), never token rows — the build itself stays
            # no-shuffle. The raw cache (populated by the doclen write)
            # feeds the range-sampling pass and the shuffle; finalize runs
            # post-sort so blobs stay cached exactly once (a second
            # finalized-side persist measured +30 s at 2 cores — one full
            # extra serialize of the blob bytes).
            write_postings_sorted(
                raw.where(F.col("term") != ""), paths.postings,
                post_sort=lambda df: finalize_max_impact(df, avgdl, cfg))
        finally:
            # doclen + postings are on disk: the cache is fully consumed
            raw.unpersist(blocking=False)
        return {"rows": _parquet_rows(paths.postings),
                "N": N, "total_len": total_len}

    runner.run("postings", stage_postings, output=postings_out)

    def stage_stats() -> dict:
        # N/total_len were observed by the postings stage (the one that
        # tokenized the corpus); metrics persist in the manifest so resume
        # keeps them across processes.
        im = runner.metrics["postings"]
        N, total_len = int(im["N"]), int(im["total_len"])
        avgdl = float(total_len) / N if N else 0.0
        # impact_avgdl: the avgdl every chunk's stored f32 impacts (max_impact)
        # were computed with. While it equals the serving avgdl, stored chunk
        # maxes are ATTAINED query-time impacts — the batch tier's chunk
        # prefilter (operators/query.py) relies on that; incremental ingest
        # drops the marker when generations mix avgdls.
        stats = {"N": N, "avgdl": avgdl, "total_len": total_len,
                 "impact_avgdl": avgdl,
                 "k1": cfg.bm25.k1, "b": cfg.bm25.b,
                 "format": FORMAT_VERSION, "built_at": time.time()}
        with open(paths.stats, "w") as f:
            json.dump(stats, f, indent=2)
        return {"rows": N}

    runner.run("stats", stage_stats, output=paths.stats)

    def stage_docs() -> dict:
        # reference parity: docs = rows with ≥ 1 kept token
        # (src/ForwardIndex.cpp:152). Joins the content-pruned ids scan
        # with the doclen table the postings tokenize emitted —
        # metadata-only rows on both sides, no content bytes move, and the
        # zero-token filter IS the inner join (such docs have no doclen
        # row). Written doc-id-sorted in small row groups: serving
        # hydration reads only the row groups holding its hits.
        docs = (
            spark.read.parquet(ids_path)
            .select("doc_id", "uid", "repo", "path", "commit", "lang",
                    "content_sha256")
            .join(spark.read.parquet(doclen_path), "doc_id")
            .select("doc_id", "uid", "repo", "path", "commit", "lang",
                    "doc_len", "content_sha256")
        )
        write_docs_sorted(docs, paths.docs)
        return {"rows": _parquet_rows(paths.docs)}

    # docs rewrite ∥ lexicon: docs depends only on ids + doclen, so its
    # tasks fill the lexicon stage's scheduling gaps instead of occupying
    # the serial critical path.
    import threading
    _docs_err: list[BaseException] = []

    def _docs_job() -> None:
        try:
            runner.run("docs", stage_docs, output=paths.docs)
        except BaseException as e:  # propagate into the build thread
            _docs_err.append(e)

    docs_thread = threading.Thread(target=_docs_job, name="docs-stage")
    docs_thread.start()

    def stage_lexicon() -> dict:
        # the written postings serve the aggregate's 4 small columns
        # column-pruned — blobs are never read
        write_lexicon(spark.read.parquet(paths.postings), paths.lexicon)
        return {"rows": _parquet_rows(paths.lexicon)}

    try:
        runner.run("lexicon", stage_lexicon, output=paths.lexicon)
    finally:
        docs_thread.join()
    if _docs_err:
        raise _docs_err[0]

    if cfg.build_suggest:
        def stage_suggest() -> dict:
            from nextsearch_api_spark.operators.autocomplete import build_suggest
            write_suggest_sorted(build_suggest(spark.read.parquet(paths.lexicon)),
                                 paths.suggest)
            return {"rows": _parquet_rows(paths.suggest)}

        runner.run("suggest", stage_suggest, output=paths.suggest)

    manifest.data["completed_at"] = time.time()
    manifest.save()
    # every serving component is written: the scratch tables go (ids holds
    # a copy of the corpus, most of a built root's bytes)
    for scratch in (ids_path, doclen_path):
        shutil.rmtree(scratch, ignore_errors=True)
    return runner.metrics


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
