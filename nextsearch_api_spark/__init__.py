"""nextsearch_api_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Semantic blueprint: ShahzaibAhmad05/NextSearch-api (C++17 single-node full-text
search over CORD-19), re-expressed Spark-first over an Iceberg-style table of
source-code repositories ``(repo, path, commit, lang, content)``.

This is NOT a port: the reference's hard-coded physical plan (mutex-serialized
TAAT scoring over mmap-less barrel files, ``src/api_engine.cpp:369-541``) is
replaced by a declarative DataFrame pipeline (Catalyst/Tungsten pick the
physical strategy) plus a driver-side exhaustive TAAT serving path. Scoring
semantics — tokenizer, stopword list, BM25 constants, tie-breaks — are pinned
to the reference and verified against a NumPy golden oracle.

Layout:
  functions/   tokenization, the postings codec, BM25 scoring kernel,
               deterministic hashing
  sources/     synthetic corpus generator + corpus catalog (Iceberg-or-Parquet)
  operators/   index build, batch query, serving, autocomplete, dedup, similarity,
               text-stats, multimodal plumbing
  plans/       checkpoint manifest / resumable-stage runner, plan introspection
  streaming/   incremental ingestion (Structured Streaming)
"""

__version__ = "0.1.0"

from nextsearch_api_spark.config import BM25Params, IndexPaths  # noqa: F401
