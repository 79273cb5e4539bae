#!/usr/bin/env python3
"""Cluster entry point: checkpointed extraction run over a transcripts table.

    python3 tools/make_pyfiles.py
    spark-submit --py-files dist/pdfminer_spark.zip jobs/extract_job.py \
        --input  <transcripts parquet/iceberg path> \
        --output <output dir> --run-id run-2026-08-16 [--buckets 4096]

Re-running the same command resumes: completed buckets (per the lineage
checkpoint) are anti-joined away. On Iceberg deployments point --input at
the table path and swap the writes in pdfminer_spark/spark/lineage.py for
``writeTo(...).overwritePartitions()`` — layout and commit order are
identical.

The session carries ``session_conf()`` (Arrow batch caps, UTC), the recipe
the tests and benchmarks run; it takes master, shuffle partitions and
memory from spark-submit. It runs Spark's stock Python worker daemon, not
``get_spark``'s: that daemon must import before the ``--py-files`` zip is
on a worker's path. So every daemon start here still compiles pyspark and
py4j from Spark's source zips, and every task re-reads ``pyspark.zip``'s
directory; ``pdfminer_spark/spark/daemon.py`` removes both for
``get_spark`` sessions.
"""
from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=4096)
    ap.add_argument("--salt", type=int, default=64)
    ap.add_argument("--pages", type=int, nargs="*", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pdfminer_spark.spark.lineage import run_extraction
    from pdfminer_spark.spark.session import session_conf

    spark = (SparkSession.builder.appName("pdfminer-spark-extract")
             .config(map=session_conf()).getOrCreate())
    transcripts = spark.read.parquet(args.input)
    stats = run_extraction(
        spark, transcripts, args.output, args.run_id,
        num_buckets=args.buckets, page_numbers=args.pages, salt=args.salt,
    )
    print("run complete:", stats)
    spark.stop()


if __name__ == "__main__":
    main()
