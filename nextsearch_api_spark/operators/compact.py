"""Posting-chunk compaction — the merge pass of the segment build model.

The no-shuffle segment build (operators/build.py:build_posting_chunks_segment)
emits one chunk run per (term, id bucket). At high bucket counts, rare
terms accumulate many tiny chunks (classic Lucene small-segment
fragmentation). This operator consolidates them:

  1. pick fragmented terms from the LEXICON ONLY (metadata decision — df,
     n_chunks; no postings touched),
  2. ``merge_postings``: decode just those terms' chunks back to token rows
     and re-chunk them with build_posting_chunks (hash by (term,
     doc_block), skew-safe; each partition goes to the segment build's
     chunker); union with the untouched chunks and write postings +
     lexicon as a new generation. The postings writer (operators/build.py:
     write_postings_sorted) computes every written chunk's max_impact from
     its blob with the k1/b and avgdl stored in stats.json and the doc
     lengths of the live docs' doc store (functions/docstore.py),
  3. publish both with one atomic pointer flip.

The decode to token rows and the re-chunk are proportional to the
fragmented fraction, not the index size — the hot terms that dominate
postings bytes are usually NOT fragmented (they fill whole chunks in every
partition), so compaction re-chunks the long tail. Computing max_impact
decodes the doc-id and tf streams of every chunk row written and gathers
their doc lengths from the doc store.

The delta merge of streamed docs (streaming/ingest.py:compact_deltas) runs
the same ``merge_postings``, with superseded doc ids to drop and delta
token rows to add; it uses ``chunks_holding`` to find the chunks a
superseded doc version can sit in.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextsearch_api_spark.config import BM25Params, BuildConfig, IndexPaths
# decode_postings_to_tokens is re-exported: the compactions' callers and
# tests import it from here
from nextsearch_api_spark.operators.build import (
    CHUNKS_SCHEMA, build_posting_chunks, decode_postings_to_tokens,
    write_lexicon, write_postings_sorted, _parquet_rows,
)
from nextsearch_api_spark.operators.query import read_index_stats
from nextsearch_api_spark.plans.generations import flip_generation, gen_path


def chunks_holding(chunks: DataFrame, doc_ids: np.ndarray) -> DataFrame:
    """The chunk rows whose [doc_lo, doc_hi] range can hold one of
    ``doc_ids`` (an in-memory array, e.g. the superseded versions of a
    delta's updated docs). One vectorized range test over the two range
    columns: a Python UDF receives only its argument columns, so the blobs
    stay in the JVM and only the kept rows reach a later decode."""
    from pyspark.sql.functions import pandas_udf

    ids = np.unique(np.asarray(doc_ids, dtype=np.int64))

    @pandas_udf("boolean")
    def _holds(lo: pd.Series, hi: pd.Series) -> pd.Series:
        return pd.Series(
            np.searchsorted(ids, lo.to_numpy(np.int64), "left")
            < np.searchsorted(ids, hi.to_numpy(np.int64), "right"))

    return chunks.where(_holds("doc_lo", "doc_hi"))


def merge_postings(spark: SparkSession, paths: IndexPaths, gen: int,
                   stats: dict, affected: DataFrame, cfg: BuildConfig,
                   docs_path: str, superseded: "DataFrame | None" = None,
                   delta: "DataFrame | None" = None) -> "tuple[str, str]":
    """The merge both compactions run, from the generation ``paths`` names
    into generation ``gen`` → (postings dir, lexicon dir), not yet live.

    1. The chunks of the ``affected`` terms (a one-column ``term`` frame)
       are decoded to (doc_id, term, tf) token rows; the ``superseded`` doc
       ids are dropped and the ``delta`` token rows added.
    2. build_posting_chunks re-chunks them, and every other term's chunk
       rows are copied through with their blobs unchanged.
    3. write_postings_sorted writes the union at ``stats``' avgdl, k1 and
       b, with the doc lengths of the docs component at ``docs_path`` (the
       new generation's docs, which hold every merged posting's doc), and
       the lexicon is aggregated from the written postings."""
    postings = spark.read.parquet(paths.postings)
    untouched = (postings.select(*CHUNKS_SCHEMA.fieldNames())
                 .join(affected, "term", "left_anti"))
    live = decode_postings_to_tokens(
        postings.join(affected, "term", "left_semi"))
    if superseded is not None:
        live = live.join(F.broadcast(superseded), "doc_id", "left_anti")
    if delta is not None:
        live = live.unionByName(delta)
    # persisted, unlike every other input of the shared writer
    # (build.py:_write_range_sorted): its range sample executes the input
    # once more, which here would re-run a full postings scan (the
    # copied-through chunks) and the Python re-chunk after its shuffle
    from pyspark import StorageLevel
    merged = untouched.unionByName(build_posting_chunks(live, cfg)).persist(
        StorageLevel.MEMORY_AND_DISK)
    post_new = gen_path(paths.root, "postings", gen)
    try:
        write_postings_sorted(merged, post_new, stats["avgdl"],
                              BM25Params(k1=stats["k1"], b=stats["b"]),
                              docs_path)
    finally:
        merged.unpersist()
    lex_new = gen_path(paths.root, "lexicon", gen)
    write_lexicon(spark, post_new, lex_new)
    return post_new, lex_new


def compact_postings(spark: SparkSession, index_root: str,
                     cfg: BuildConfig | None = None,
                     min_fill: float = 0.25) -> dict:
    """Merge fragmented chunks. A term is fragmented when it has >1 chunk and
    its mean chunk fill is below ``min_fill`` of chunk_size. Returns stats."""
    cfg = cfg or BuildConfig()
    paths = IndexPaths(index_root)
    stats = read_index_stats(paths.stats)

    lex = spark.read.parquet(paths.lexicon)
    frag_terms = lex.where(
        (F.col("n_chunks") > 1)
        & (F.col("df") / F.col("n_chunks") < cfg.chunk_size * min_fill)
    ).select("term")
    n_frag = frag_terms.count()
    if n_frag == 0:
        return {"fragmented_terms": 0, "swapped": False}

    gen = paths.gen + 1
    post_new, lex_new = merge_postings(spark, paths, gen, stats,
                                       F.broadcast(frag_terms), cfg,
                                       paths.docs)
    # ONE atomic pointer flip publishes postings + lexicon together — a
    # crash can never leave them from different generations (ADVICE r1)
    flip_generation(index_root, {
        "postings": os.path.basename(post_new),
        "lexicon": os.path.basename(lex_new),
    }, gen)

    return {
        "fragmented_terms": int(n_frag),
        "chunks_after": _parquet_rows(post_new),
        "swapped": True,
        "gen": gen,
    }
