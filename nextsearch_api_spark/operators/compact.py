"""Posting-chunk compaction — the merge pass of the segment build model.

The no-shuffle segment build (operators/build.py, postings_mode='segment')
emits one chunk run per (term, input partition). At high partition counts,
rare terms accumulate many tiny chunks (classic Lucene small-segment
fragmentation). This operator consolidates them:

  1. pick fragmented terms from the LEXICON ONLY (metadata decision — df,
     n_chunks; no postings touched),
  2. decode just those terms' chunks, re-chunk them via the shuffle-based
     global builder (hash by (term, doc_block), doc-ordered, skew-safe),
  3. union with the untouched chunks and atomically swap postings + lexicon.

Cost is proportional to the fragmented fraction, not the index size — the
hot terms that dominate postings bytes are usually NOT fragmented (they fill
whole chunks in every partition), so compaction touches the long tail.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextsearch_api_spark.config import BuildConfig, IndexPaths
from nextsearch_api_spark.operators.build import (
    TOKENS_SCHEMA, build_posting_chunks, _parquet_rows,
)


def decode_postings_to_tokens(chunks: DataFrame) -> DataFrame:
    """Inverse of the chunk builder: posting chunks → (doc_id, term, tf,
    doc_len) rows. Arrow-batched; used by compaction and delta merges."""
    import pandas as pd

    def dec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        from nextsearch_api_spark.functions.codec import decode_chunk
        for pdf in batches:
            terms, ids, tfs, dls = [], [], [], []
            for row in pdf.itertuples(index=False):
                d_ids, d_tfs, d_dls = decode_chunk(
                    row.blob, int(row.tf_off), int(row.dl_off))
                terms.append(np.full(len(d_ids), row.term, dtype=object))
                ids.append(d_ids)
                tfs.append(d_tfs.astype(np.int32))
                dls.append(d_dls.astype(np.int32))
            if not ids:
                continue
            yield pd.DataFrame({
                "doc_id": np.concatenate(ids),
                "term": np.concatenate(terms),
                "tf": np.concatenate(tfs),
                "doc_len": np.concatenate(dls),
            })

    return chunks.select("term", "tf_off", "dl_off", "blob").mapInPandas(
        dec, schema=TOKENS_SCHEMA
    )


def compact_postings(spark: SparkSession, index_root: str,
                     cfg: BuildConfig | None = None,
                     min_fill: float = 0.25) -> dict:
    """Merge fragmented chunks. A term is fragmented when it has >1 chunk and
    its mean chunk fill is below ``min_fill`` of chunk_size. Returns stats."""
    cfg = cfg or BuildConfig()
    paths = IndexPaths(index_root)
    with open(paths.stats) as f:
        stats = json.load(f)
    # re-chunking recomputes max_impact: use the index's PERSISTED k1/b, not
    # the caller's defaults — wrong params under-estimate chunk upper bounds
    # and can drop true top-k results (ADVICE r1)
    from dataclasses import replace as dc_replace

    from nextsearch_api_spark.config import BM25Params
    persisted = BM25Params(k1=float(stats.get("k1", cfg.bm25.k1)),
                           b=float(stats.get("b", cfg.bm25.b)),
                           precision=cfg.bm25.precision)
    if (persisted.k1, persisted.b) != (cfg.bm25.k1, cfg.bm25.b):
        cfg = dc_replace(cfg, bm25=persisted)

    lex = spark.read.parquet(paths.lexicon)
    frag_terms = lex.where(
        (F.col("n_chunks") > 1)
        & (F.col("df") / F.col("n_chunks") < cfg.chunk_size * min_fill)
    ).select("term")
    n_frag = frag_terms.count()
    if n_frag == 0:
        return {"fragmented_terms": 0, "swapped": False}

    postings = spark.read.parquet(paths.postings)
    frag = postings.join(F.broadcast(frag_terms), "term", "left_semi")
    keep = postings.join(F.broadcast(frag_terms), "term", "left_anti")

    from nextsearch_api_spark.plans.generations import (
        flip_generation, gen_path, next_gen,
    )
    gen = next_gen(index_root)

    rebuilt = build_posting_chunks(
        decode_postings_to_tokens(frag), stats["avgdl"], cfg
    )
    from nextsearch_api_spark.operators.build import write_postings_sorted
    # persist before the range-partitioned write: repartitionByRange samples
    # its input with an extra execution, which would re-run the whole
    # decode + re-chunk subtree (same single-materialization fix as the
    # build's serving-layout rewrite)
    from pyspark import StorageLevel
    merged = keep.unionByName(rebuilt).persist(StorageLevel.MEMORY_AND_DISK)
    post_new = gen_path(index_root, "postings", gen)
    try:
        write_postings_sorted(merged, post_new)
    finally:
        merged.unpersist()

    lex_new = (
        spark.read.parquet(post_new).groupBy("term").agg(
            F.sum("count").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("cf"),
            F.count("*").cast("int").alias("n_chunks"),
            F.max("max_impact").alias("max_impact"),
        )
    )
    lex_tmp = gen_path(index_root, "lexicon", gen)
    (lex_new.repartitionByRange(max(1, min(64, lex_new.rdd.getNumPartitions())),
                                "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(lex_tmp))

    # ONE atomic pointer flip publishes postings + lexicon together — a
    # crash can never leave them from different generations (ADVICE r1)
    flip_generation(index_root, {
        "postings": os.path.basename(post_new),
        "lexicon": os.path.basename(lex_tmp),
    }, gen)

    return {
        "fragmented_terms": int(n_frag),
        "chunks_after": _parquet_rows(paths.postings),
        "swapped": True,
        "gen": gen,
    }
