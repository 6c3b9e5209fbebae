#!/usr/bin/env python
"""spark-submit entry point: build the inverted index over a code-corpus
or documents table (north rule: runs via
``spark-submit --py-files dist/mdq_spark.zip scripts/build_job.py``).

Usage:
    spark-submit --py-files dist/mdq_spark.zip scripts/build_job.py \
        <input_dir_or_parquet> <out_index_dir> [--shape code|documents]
        [--mode xapian|simple]

The job is resumable: re-submitting with the same out dir skips
completed stages (per-stage _SUCCESS checkpoints + manifest lineage).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("input")
    ap.add_argument("out")
    ap.add_argument("--shape", choices=["code", "documents"],
                    default="documents")
    ap.add_argument("--mode", choices=["xapian", "simple"],
                    default="xapian")
    ap.add_argument("--block-span", type=int, default=1 << 16)
    ap.add_argument("--n-buckets", type=int, default=None,
                    help="term-bucket count (default: sized to the input)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("mdq-index-build").getOrCreate()
    from mdq_spark.build import build_index
    from mdq_spark.ingest import docs_from_code_table, \
        docs_from_documents_table

    if args.shape == "code":
        code = spark.read.parquet(args.input)
        docs = docs_from_code_table(spark, code)
    else:
        docs = docs_from_documents_table(spark, args.input)

    manifest = build_index(spark, docs, args.out, mode=args.mode,
                           block_span=args.block_span,
                           n_buckets=args.n_buckets)
    print(json.dumps(manifest["metrics"]))


if __name__ == "__main__":
    main()
