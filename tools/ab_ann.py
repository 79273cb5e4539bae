#!/usr/bin/env python3
"""Interleaved solo A/B for the r5 ANN bench-regression cluster
(VERDICT r5 "What's wrong #2"): embedding_near_dups_fast +51-77%,
ann_ivf_topk, ann_lsh_pairs in BENCH_r05 vs r04, all in
ops/similarity.py, correlated with r5's cache()->localCheckpoint switch
for the shared signature materialization.

Protocol (the r5 simhash_pairs A/B, BASELINE.md round-5 notes): one
warmup per (op, variant), then N alternating timed reps per variant in
the SAME JVM so both variants share the box's noisy-neighbor phase; a
fixed single-thread CPU control is timed before every rep so a slow rep
is attributable to the box inside the artifact. Medians compared.

Only ann_lsh_pairs actually contains the switched materialization (its
sig_mat keyword, passed explicitly per call — no mutable module state,
ADVICE r6); embedding_near_dups_fast and ann_ivf_topk have NO op-level
materialization at all — for those the two "variants" run identical
code, so any A-vs-B spread is a direct measurement of phase noise at
this protocol's resolution.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python3 tools/ab_ann.py
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_AB_REPS", "4"))

OPS = ["embedding_near_dups_fast", "ann_lsh_pairs", "ann_ivf_topk"]


def control_probe() -> float:
    import hashlib

    block = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.time()
    for _ in range(256):
        h.update(block)
    return round(time.time() - t0, 4)


def main() -> None:
    from pdfminer_spark.ops import similarity as sim
    from pdfminer_spark.spark.session import get_spark

    spark = get_spark("ab-ann", cpus=CPUS, shuffle_partitions=max(CPUS, 16))

    def run(name: str, variant: str):
        fn = getattr(sim, name)
        if name == "ann_lsh_pairs":  # the only op with the switch
            return fn(spark, SF_DIR, sig_mat=variant)
        return fn(spark, SF_DIR)

    result: dict = {"sf": SF_DIR, "cpus": CPUS, "reps": REPS, "ops": {}}
    for name in OPS:
        rec: dict = {"counts": {}, "times": {"checkpoint": [], "cache": []},
                     "controls": []}
        for variant in ("checkpoint", "cache"):  # warmup each variant
            rec["counts"][variant] = run(name, variant).count()
            spark.catalog.clearCache()
        assert rec["counts"]["checkpoint"] == rec["counts"]["cache"], name
        for _rep in range(REPS):
            for variant in ("checkpoint", "cache"):  # interleaved
                ctl = control_probe()
                t0 = time.time()
                run(name, variant).count()
                rec["times"][variant].append(round(time.time() - t0, 3))
                rec["controls"].append(ctl)
                spark.catalog.clearCache()
        rec["median"] = {v: round(statistics.median(ts), 3)
                         for v, ts in rec["times"].items()}
        rec["phase_drift_max"] = round(
            max(rec["controls"]) / min(rec["controls"]), 2)
        result["ops"][name] = rec
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
