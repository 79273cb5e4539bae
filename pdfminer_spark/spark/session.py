"""The Spark session recipe of the extraction workload.

``session_conf()`` holds the settings that define how the pipeline
executes; ``get_spark`` (library, tests, benchmarks, tools) and
``jobs/extract_job.py`` (spark-submit) both build from it, so the shipped
job runs the same recipe as everything that measures it. Rationale
(SURVEY.md §4 "physical execution"):
- Arrow exchange on: all heavy work crosses JVM->Python once per batch;
- Arrow batches capped at 4,096 rows / 16 MB: payload cells can be MBs,
  so the byte cap bounds executor/Python-worker memory per batch, while
  narrow-row stages still cross in few batches;
- session time zone UTC: timestamp arithmetic and casts do not depend on
  the host's zone.

``get_spark`` adds the local-launch settings, which a spark-submit job
takes from its command line or cluster instead: master, app name, shuffle
partitions sized for local runs, driver memory, UI off, the workers'
``PYTHONPATH`` and the worker daemon
``python.daemon.module = pdfminer_spark.spark.daemon``. The stock daemon
imports pyspark and py4j from Spark's source zips, which hold no bytecode,
so each new daemon compiles them (1.77-1.84 s per task's worker start,
against 0.48-0.55 s with this daemon, in perfbench's warm-up job on a
4-core VM); this
daemon imports an installed, byte-compiled copy of the same release
instead when the path holds one. Before every task a stock worker also
invalidates the import caches, which on CPython < 3.13 re-reads the whole
directory of pyspark.zip once per pyspark package imported from it (16
re-reads, ~0.7 s per task measured on 4 cores); this daemon re-reads an
archive only when its size or mtime changed. It is a launch setting
because the daemon module must import before any task runs: under
``spark-submit --py-files`` the package zip is not yet on a worker's path
then, and the job fails with "No module named 'pdfminer_spark'".
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_conf() -> dict[str, str]:
    """The execution settings every entry point's session carries."""
    return {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.execution.arrow.maxBytesPerBatch": "16m",
        "spark.sql.session.timeZone": "UTC",
    }


def get_spark(app_name: str = "pdfminer-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
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
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=session_conf())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "pdfminer_spark.spark.daemon")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
