#!/usr/bin/env python
"""spark-submit entry point: build the inverted index on a cluster.

    zip -r nextsearch_api_spark.zip nextsearch_api_spark/
    spark-submit --py-files nextsearch_api_spark.zip \\
        scripts/build_index_job.py --corpus <iceberg-table-or-parquet-path> \\
        --out <index-root> [--chunk-size 4096] \\
        [--generate N]     # synthesize an N-doc corpus instead of reading one

The session is created with cluster-friendly defaults but respects any conf
passed via spark-submit (--conf spark.sql.shuffle.partitions=..., executors,
memory, etc.). The build is resumable: re-submitting the same job after a
failure skips completed stages (see _manifest.json lineage).
"""

from __future__ import annotations

import argparse
import json

import os
import sys

# spark-submit --py-files ships the package; for a plain `python
# scripts/<job>.py` run, fall back to the repo root (scripts/' parent)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="Iceberg table name or parquet path")
    ap.add_argument("--out", required=True, help="index root directory")
    ap.add_argument("--chunk-size", type=int, default=4096)
    ap.add_argument("--generate", type=int, default=0,
                    help="generate a synthetic corpus of N docs at --corpus")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("nextsearch-build")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    from nextsearch_api_spark.config import BuildConfig
    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.sources.corpus import (
        generate_corpus, read_corpus, write_corpus,
    )

    if args.generate:
        write_corpus(generate_corpus(spark, args.generate, seed=42), args.corpus)
    corpus = read_corpus(spark, args.corpus)
    cfg = BuildConfig(chunk_size=args.chunk_size)
    metrics = build_index(spark, corpus, args.out, cfg,
                          resume=not args.no_resume)
    print(json.dumps(metrics, indent=2, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
