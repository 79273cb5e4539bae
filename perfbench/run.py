#!/usr/bin/env python3
"""Benchmark of the extraction pipeline, its checkpointed lineage path and
the text operators, at local[nproc] from one driver process.

    python3 perfbench/run.py --workload pdf_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` times the workload's path
with tracing off and prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` calls into each layer once under a span and prints the
per-layer metrics. Spans are written to
``.perfbench_work/trace-<workload>-<seed>.json`` when the run ends.
The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
A failed correctness gate prints the result and exits 1; a checkout
without the program exits 2 without a result.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the program's own files this benchmark drives
PROGRAM = ("pdfminer_spark/spark/pipeline.py",
           "pdfminer_spark/spark/lineage.py", "pdfminer_spark/ops/textops.py",
           "__spark_entry__.py", "fixtures/payloads", "fixtures/goldens")


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        return {m["name"]: m["unit"] for m in json.load(fp)[section]}


def _stop_session(run) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited
    (the pyspark daemon and its workers end with it)."""
    from pyspark import SparkContext

    run.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _wait_for_children(sampler, timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    while sampler.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print("perfbench: program files missing: %s" % ", ".join(missing),
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.procstat import ProcSampler
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error("--workload must be one of %s" % ", ".join(WORKLOADS))
    section = "per_layer" if args.trace else "end_to_end"
    units = _units(section)

    # every file Spark, the JVM and the workers write stays in the checkout
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "%s-%d-%d" % (args.workload, args.seed,
                                            os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp,
    })
    run_id = "%s-%d-%d" % (args.workload, args.seed, int(time.time()))
    tracer = Tracer(run_id, enabled=bool(args.trace))
    with ProcSampler() as sampler:
        run = Run(work, args.seed, args.seconds, tracer, sampler)
        try:
            res = WORKLOADS[args.workload](run)
        finally:
            _stop_session(run)
            _wait_for_children(sampler)
            shutil.rmtree(work, ignore_errors=True)

    correct = res["failed"] == 0
    if args.trace:
        layers = res["layers"]
        for name in ("session.start", "session.warm"):
            layers[name + "_s"] = statistics.median(
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] == name)
        layers["error_frac"] = res["failed"] / res["attempted"]
        if "trace.layer_sum_ratio" in layers:
            # the replay must reproduce extract_one and account for its time
            correct = (correct and layers["trace.replay_mismatches"] == 0
                       and abs(layers["trace.layer_sum_ratio"] - 1) <= 0.1)
        if not set(layers) <= set(units):
            print("perfbench: metrics %s are not in BENCHMARK.json"
                  % sorted(set(layers) - set(units)), file=sys.stderr)
            return 3
        # layers this workload does not run read 0
        values = {name: layers.get(name, 0) for name in units}
        tracer.write(os.path.join(base, "trace-%s-%d.json"
                                  % (args.workload, args.seed)))
        print("span self time (s), summed per name:")
        for (name, own) in sorted(tracer.self_totals().items(),
                                  key=lambda kv: -kv[1]):
            print("  %-32s %10.4f" % (name, own))
    else:
        values = res["metrics"]
        if set(values) != set(units):
            print("perfbench: metrics %s do not match BENCHMARK.json %s"
                  % (sorted(values), sorted(units)), file=sys.stderr)
            return 3
    out = {"correct": correct, "attempted": res["attempted"],
           "failed": res["failed"],
           "metrics": {k: {"value": v, "unit": units[k]}
                       for (k, v) in values.items()}}
    print(json.dumps(out, default=float), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
