"""Extraction capacity probe: the full pipeline at 1x and 10x the bench
corpus (r6 verdict #5 — the dedup generators have 10x/100x capacity
points; this gives extraction one, with the memory evidence).

For each size the REAL pipeline runs end to end (salted repartition of
base64 text -> JVM-side decode -> mapInPandas extract over binary ->
turn-order window) on an executor-side-generated corpus
(build_transcripts_scaled: same payload marginals and 20%
giant-conversation skew as the bench), and the mapInPandas stage is
instrumented per PARTITION:

* rows / Arrow batches / max batch rows (evidence the configured
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` bound holds);
* Python-worker peak RSS (VmHWM) and post-partition RSS (VmRSS) from
  /proc/self/status — workers are reused, so VmHWM is the process peak
  across every partition it has run: a conservative UPPER bound on any
  single partition's footprint.

The wrapper drives the production stage input (_extraction_input) and
batch function (_extract_map_batches) unmodified; only the output schema
gains the telemetry columns, so the measured path is the shipped path.

Output: one JSON line per size plus a final summary line with the
1x->10x throughput ratio. Flat t/s and bounded worker RSS at 10x is the
pass criterion recorded in CAPACITY.md.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = [int(s) for s in os.environ.get(
    "SPARK_GRAFT_EXCAP_SIZES", "4000,40000").split(",")]
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ARROW_BATCH = 64  # get_spark default; asserted against observed batches


def _proc_kb(field: str) -> int:
    with open("/proc/self/status") as fp:
        for line in fp:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return -1


def _telemetry_fn(inner):
    """Wrap the production mapInPandas batch fn: pass batches through it
    untouched, then emit one telemetry row for the partition."""
    import pandas as pd

    def fn(batches):
        from pyspark import TaskContext

        (rows, n_batches, max_batch) = (0, 0, 0)
        for out in inner(batches):
            rows += len(out)
            n_batches += 1
            max_batch = max(max_batch, len(out))
        yield pd.DataFrame({
            "pid": [TaskContext.get().partitionId()],
            "rows": [rows],
            "batches": [n_batches],
            "max_batch_rows": [max_batch],
            "vm_hwm_kb": [_proc_kb("VmHWM")],
            "vm_rss_kb": [_proc_kb("VmRSS")],
        })

    return fn


def run(spark, n_turns: int) -> dict:
    from pdfminer_spark.spark.fixtures import build_transcripts_scaled
    from pdfminer_spark.spark.pipeline import (_extract_map_batches,
                                               _extraction_input,
                                               extract_transcripts,
                                               with_turn_order)

    df = build_transcripts_scaled(spark, n_turns=n_turns, giant_frac=0.2,
                                  num_partitions=CPUS)

    # timed pass: the production pipeline exactly as benched
    t0 = time.time()
    out = with_turn_order(extract_transcripts(df, page_numbers=[0], salt=4))
    n = out.count()
    wall = time.time() - t0

    # telemetry pass: same input, same salt plan, same batch fn — the
    # schema swap is the only difference
    tele = (_extraction_input(df, salt=4)
            .mapInPandas(
                _telemetry_fn(_extract_map_batches([0], True)),
                schema=("pid int, rows long, batches long, "
                        "max_batch_rows long, vm_hwm_kb long, "
                        "vm_rss_kb long"))
            .collect())
    parts = [r.asDict() for r in tele if r["rows"] > 0]
    max_batch = max(r["max_batch_rows"] for r in parts)
    assert max_batch <= ARROW_BATCH, \
        f"Arrow batch bound violated: {max_batch} > {ARROW_BATCH}"
    return {
        "n_turns": n_turns,
        "rows_out": n,
        "wall_s": round(wall, 2),
        "turns_per_s": round(n_turns / wall, 1),
        "partitions": len(parts),
        "max_part_rows": max(r["rows"] for r in parts),
        "max_batch_rows": max_batch,
        "arrow_batch_bound": ARROW_BATCH,
        "worker_peak_rss_mb": round(max(r["vm_hwm_kb"] for r in parts) / 1024),
        "worker_end_rss_mb": round(max(r["vm_rss_kb"] for r in parts) / 1024),
    }


def main() -> None:
    from pdfminer_spark.spark.session import get_spark

    spark = get_spark("capacity-extract", cpus=CPUS)
    # warmup: JIT + python worker pool spin-up outside the timed region
    run(spark, CPUS * 4)
    results = []
    for n in SIZES:
        rec = run(spark, n)
        results.append(rec)
        print(json.dumps(rec), flush=True)
    summary = None
    if len(results) >= 2:
        r0, r1 = results[0], results[-1]
        summary = {
            "scale_x": round(r1["n_turns"] / r0["n_turns"], 1),
            "tps_ratio_10x_vs_1x": round(
                r1["turns_per_s"] / r0["turns_per_s"], 3),
            "rss_growth_mb": r1["worker_peak_rss_mb"] - r0["worker_peak_rss_mb"],
        }
        print(json.dumps(summary), flush=True)
    with open("/tmp/capacity_extract.json", "w") as fp:
        json.dump({"sizes": results, "summary": summary}, fp, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
