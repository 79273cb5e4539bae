"""Checkpointed extraction runs: per-partition lineage + idempotent resume.

north_rule requirement (no reference analog — SURVEY.md §2.8, §7 phase 8):
at 10^12-turn scale a job must resume mid-run. Design:

- every turn gets a deterministic bucket ``pk = xxhash64(conv_id, turn_idx)
  mod num_buckets`` — content-derived, so a re-run assigns identical
  buckets regardless of cluster size or input split order;
- output parquet is partitioned by pk with dynamic partition overwrite, so
  re-processing a bucket replaces (never duplicates) its output;
- after output commit, one lineage row per pk is appended to the checkpoint
  table: (run_id, pk, conv_id_min/max, turn_count, bytes_decoded, checksum,
  ts). checksum is content-derived (bit_xor of per-row xxhash64), so a
  resume can verify prior buckets without recomputing them;
- resume = anti-join of the input's pk against the completed lineage pks,
  collected once (at most num_buckets rows) and applied as a NOT IN
  filter; the same rows give the run's bucket counters, and a resume with
  no outstanding bucket returns them without extracting or writing.

On a real deployment both tables are Iceberg (``writeTo(...).append()`` /
``overwritePartitions()``); plain parquet here carries the same layout and
commit ordering.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import EXTRACTED_DDL, extract_transcripts

LINEAGE_COLS = ["run_id", "pk", "conv_id_min", "conv_id_max", "turn_count",
                "bytes_decoded", "checksum", "ts"]
# the output table read back: extract_transcripts' columns, then the pk
# partition column typed int, as partition discovery infers it; declared,
# so an output that holds no bucket yet reads as zero rows
OUTPUT_SCHEMA = EXTRACTED_DDL + ", pk int"


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "pk", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(num_buckets))
    )


def completed_buckets(spark: SparkSession, lineage_path: str) -> list:
    """The committed (run_id, pk) lineage rows, at most one per bucket."""
    if not os.path.exists(lineage_path):
        return []
    try:
        lineage = spark.read.parquet(lineage_path)
    except Exception:
        return []
    return lineage.select("run_id", "pk").collect()


def lineage_of(extracted_with_pk: DataFrame, run_id: str) -> DataFrame:
    """One row per bucket; checksum is order-independent + content-derived."""
    row_hash = F.xxhash64("conv_id", "turn_idx", "text", "status")
    return (
        extracted_with_pk
        .groupBy("pk")
        .agg(
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
            F.count("*").alias("turn_count"),
            F.sum("bytes_decoded").alias("bytes_decoded"),
            F.conv(F.bit_xor(row_hash).cast("string"), 10, 16).alias("checksum"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ts", F.current_timestamp())
        .select(*LINEAGE_COLS)
    )


def run_extraction(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                   run_id: str, num_buckets: int = 64,
                   page_numbers=None, detect_vertical: bool = True,
                   salt: int = 16,
                   fail_after_buckets: int | None = None) -> dict:
    """Execute (or resume) a checkpointed extraction run.

    ``fail_after_buckets`` processes only the first N outstanding buckets —
    the test hook that simulates a mid-run crash.
    Returns counters: {"processed_buckets": n, "skipped_buckets": m}.
    """
    output_path = os.path.join(out_dir, "extracted")
    lineage_path = os.path.join(out_dir, "lineage")
    src = with_bucket(transcripts, num_buckets)
    done = completed_buckets(spark, lineage_path)
    done_pks = {r.pk for r in done}
    if done_pks:
        src = src.filter(~F.col("pk").isin(sorted(done_pks)))
    # the outstanding bucket list is tiny (<= num_buckets ints) and known
    # before extraction; collecting it lets the post-commit read-back
    # partition-prune to just-written pk= directories instead of
    # rescanning every previously committed bucket on resume
    todo_pks = [r.pk for r in
                src.select("pk").distinct().orderBy("pk").collect()]
    if fail_after_buckets is not None:
        todo_pks = todo_pks[:fail_after_buckets]
        src = src.filter(F.col("pk").isin(todo_pks))
    # this run-id's buckets: those it committed before (a resumed run-id)
    # plus the ones committed below
    processed = {r.pk for r in done if r.run_id == run_id} | set(todo_pks)
    counters = {"processed_buckets": len(processed),
                "skipped_buckets": len(done_pks)}
    if done_pks and not todo_pks:
        # a full resume: nothing to extract, write or checksum; a fresh
        # run over an empty input still writes its (empty) output below
        return counters
    extracted = extract_transcripts(
        src.drop("pk"), page_numbers=page_numbers,
        detect_vertical=detect_vertical, salt=salt,
    )
    extracted = with_bucket(extracted, num_buckets)
    # commit order: output partitions first, lineage second — a crash in
    # between re-runs those buckets and dynamic overwrite keeps it idempotent
    (extracted.write
     .mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("pk")
     .parquet(output_path))
    # lineage from the just-written buckets, read back so the checksum
    # reflects exactly what was committed; the isin on the partition
    # column prunes the scan to this run's pk= directories only
    this_run = (read_extracted(spark, out_dir)
                .filter(F.col("pk").isin(todo_pks)))
    lineage = lineage_of(this_run, run_id)
    lineage.write.mode("append").parquet(lineage_path)
    return counters


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(OUTPUT_SCHEMA).parquet(
        os.path.join(out_dir, "extracted"))
