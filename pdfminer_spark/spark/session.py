"""SparkSession factory tuned for the extraction workload.

Key settings (rationale — SURVEY.md §4 "physical execution"):
- Arrow exchange on: all heavy work crosses JVM->Python once per batch;
- arrow.maxRecordsPerBatch bounded: payload cells can be MBs, so batch
  size controls executor/Python-worker memory, not row count alone;
- AQE on: runtime coalescing + skew-join splitting for the relational ops;
- shuffle.partitions sized for local runs (cluster deployments override);
- python.daemon.module = pdfminer_spark.spark.daemon: before every task a
  worker invalidates the import caches, which on CPython < 3.13 re-reads
  the whole directory of pyspark.zip once per pyspark package imported
  from it (16 re-reads, ~0.7 s per task measured on 4 cores); this daemon
  re-reads an archive only when its size or mtime changed.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pdfminer-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch: int = 4096,
              arrow_max_bytes: str = "16m") -> SparkSession:
    # python WORKERS resolve imports via PYTHONPATH, not the driver's
    # sys.path — a harness launching from any other cwd would otherwise
    # fail to unpickle the mapInPandas UDFs (worker: "No module named
    # 'pdfminer_spark'"). Must happen before the JVM/context starts;
    # cluster deployments ship the package via --py-files instead.
    repo = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    parts = os.environ.get("PYTHONPATH", "")
    if repo not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = (repo + os.pathsep + parts) if parts \
            else repo
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # guide §3.1/§9: let the planner (and AQE, via the local-map
        # threshold) pick shuffled-hash over sort-merge when the build
        # side fits — size-conditioned, so the choice adapts per scale
        # rather than being a local[32] constant (measured -15% on the
        # fact-fact join of revenue_by_nation at sf1.0; sort-merge still
        # chosen whenever no side fits the threshold)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "128m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r8 (guide §4.2): the r7 64-ROW batch cap — sized for MB-scale
        # PDF payload cells — taxed every narrow-row Python stage with
        # per-batch overhead (ann_lsh_pairs' exact-cosine stage spent
        # 3.6 s of its 5.7 s crossing 104k rows in 1.6k batches; 2.4 s
        # total with the caps below). Spark 4's maxBytesPerBatch is the
        # direct memory bound: rows-per-batch can rise to 4096 while a
        # batch of MB-size payload cells is cut at 16 MB — STRICTER for
        # the PDF extraction stage than 64 rows ever was (64 x 650 KB
        # forms ~= 40 MB).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", arrow_max_bytes)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module", "pdfminer_spark.spark.daemon")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    return builder.getOrCreate()
