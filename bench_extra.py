#!/usr/bin/env python3
"""Per-query isolation bench (guide §1.4): times selected queries()
entries with the noop sink so the computation is measured, not the
sink, plus the same warm+count methodology bench.py uses (for
comparability with the driver artifact). bench.py itself stays frozen.

Usage:
  python3 bench_extra.py q1 q2 ...      # time the named queries
  python3 bench_extra.py --all          # the bench.py headline list
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python3 bench_extra.py bm25_scores
Env:
  SPARK_GRAFT_REPS   timed reps per query (default 2; best wins)
  SPARK_GRAFT_PLANS  if set, write explain("formatted") to this dir
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
PLAN_DIR = os.environ.get("SPARK_GRAFT_PLANS", "")


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if "--all" in sys.argv or not names:
        names = HEADLINE
    import __spark_entry__ as entry
    from pdfminer_spark.spark.session import get_spark

    spark = get_spark("bench-extra", cpus=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    qs = entry.queries()
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription("warm: " + name)
        df = qs[name](spark, SF_DIR)
        df.count()
        spark.catalog.clearCache()
        if PLAN_DIR:
            os.makedirs(PLAN_DIR, exist_ok=True)
            txt = qs[name](spark, SF_DIR)._jdf.queryExecution() \
                .explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted"))
            with open(os.path.join(PLAN_DIR, name + ".txt"), "w") as f:
                f.write(txt)
            spark.catalog.clearCache()
        counts, noops = [], []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription("count: " + name)
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            counts.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription("noop: " + name)
            t0 = time.time()
            (qs[name](spark, SF_DIR).write.format("noop")
             .mode("overwrite").save())
            noops.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        out[name] = {"count_s": min(counts), "noop_s": min(noops),
                     "counts": counts, "noops": noops}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": SF_DIR, "results": {
        k: v["count_s"] for (k, v) in out.items()}}))


if __name__ == "__main__":
    main()
