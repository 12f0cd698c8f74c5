#!/usr/bin/env python
"""spark-submit entry point: run a BM25 query batch against a built index.

    spark-submit --py-files nextsearch_api_spark.zip \\
        scripts/query_job.py --index <index-root> \\
        --query "load config" --query "hotterm" [--k 10] [--hydrate]

The whole batch goes through ``batch_search``: a batch whose query terms
hold at most SMALL_QUERY_MAX_POSTINGS postings in total is answered on the
driver from footer-indexed reads; a larger one runs as one distributed Spark
plan. For single-query serving latency use the driver-side engine:
``python -m nextsearch_api_spark.api <index-root> search "query"``.
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
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--hydrate", action="store_true")
    ap.add_argument("--f64", action="store_true",
                    help="float64 scoring (SQL-oracle-compatible)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("nextsearch-query").getOrCreate()
    from nextsearch_api_spark.config import BM25Params
    from nextsearch_api_spark.operators.query import (
        IndexReader, QuerySpec, batch_search,
    )

    reader = IndexReader(spark, args.index)
    specs = [QuerySpec(i, q, args.k) for i, q in enumerate(args.query)]
    params = BM25Params(precision="f64" if args.f64 else "f32")
    rows = (batch_search(reader, specs, params, hydrate=args.hydrate)
            .orderBy("qid", "rank").collect())
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append(r.asDict())
    for i, q in enumerate(args.query):
        print(json.dumps({"query": q, "results": out.get(i, [])}, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
