#!/usr/bin/env python3
"""Capacity points: run operators at growing sizes, one JSON line per
(operator, size), so scale claims are measurements, not extrapolations.

    python3 tools/capacity.py pairs --sizes 5000 50000
    python3 tools/capacity.py random --sizes 2000 8000 16000
    python3 tools/capacity.py ops pagerank bm25_scores --sizes 5000 50000
    python3 tools/capacity.py extract --sizes 4000 40000

Families:

* ``pairs``: the four candidate generators (MinHash bands, simhash Manku
  keys over distinct fingerprints, sign-LSH 16x16, ExactSubstr w=20) on
  the sf0.1-marginal corpus of ``synth_corpus``. Prints gen, n (docs, or
  vectors for sign-LSH), candidates, rate = candidates / C(n, 2), wall_s.
* ``random``: the worst case for the same schemes, corpora with no
  structure (random embeddings, random 64-bit fingerprints, random
  40-word documents over a 50k vocabulary with one planted duplicate),
  drawn from one seed-11 stream across the sizes in order. Same keys.
* ``ops NAME ...``: any registered query of ``__spark_entry__.queries()``
  on the sf0.1-marginal corpus. Prints op, n_docs, rows, wall_s,
  us_per_doc.
* ``extract``: the shipped extraction pipeline (salted repartition,
  JVM-side base64 decode, Arrow-batched extract, turn-order window) on
  the bench's generated transcripts, then the same salted plan with the
  production batch function wrapped in per-partition telemetry: rows,
  Arrow batches, max batch rows (checked against the session's
  ``arrow.maxRecordsPerBatch``) and Python-worker VmHWM / VmRSS. Given
  two or more sizes, a last line compares the last size to the first.

The session is ``get_spark``'s (``SPARK_GRAFT_CPUS`` sets ``local[N]``,
shuffle partitions are max(N, 32)). Every operator runs once untimed on
the first size before its first timed pass, so session and worker
start-up, codegen and the first file listing stay out of the per-size
walls.
"""
from __future__ import annotations

import argparse
import json
import os
import random as pyrandom
import sys
import tempfile
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REAL_SF = "/root/testdata/sf0.1"  # whose marginals synth_corpus copies
VEC_PER_DOC = 2000 / 5000  # sf0.1 embeddings-to-documents ratio


def synth_corpus(n_docs: int, root: str) -> str:
    """Deterministic corpus (seed 42, like TESTDATA) with sf0.1's
    marginals at any size; returns its directory under ``root``.

    documents: sf0.1's own vocabulary, word-count distribution and
    lang/source marginals, plus a planted 2% exact-duplicate mass (random
    same-vocabulary text never shares a 20-token window, so without it
    ExactSubstr, and part of MinHash, would have no work at any size).
    embeddings: unit-norm random float32[64] at sf0.1's vectors-per-doc
    ratio with uniform 10-way labels, the measured structure of the real
    table (mean same-label cosine ~= cross-label cosine ~= 0)."""
    rng = np.random.RandomState(42)
    real = pd.read_parquet(f"{REAL_SF}/documents.parquet")
    vocab = np.asarray(sorted({w for t in real["text"]
                               for w in t.split(" ") if w}))
    lens = real["text"].str.split(" ").str.len().to_numpy()
    langs = real["lang"].to_numpy()
    sources = real["source"].to_numpy()
    texts = [" ".join(vocab[rng.randint(0, len(vocab), ln)])
             for ln in lens[rng.randint(0, len(lens), n_docs)]]
    dup_at = rng.choice(np.arange(1, n_docs), size=n_docs // 50,
                        replace=False)
    for i in dup_at:
        texts[i] = texts[rng.randint(0, i)]
    d = os.path.join(root, "synth_%d" % n_docs)
    os.makedirs(d)
    pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.randint(0, len(langs), n_docs)],
        "source": sources[rng.randint(0, len(sources), n_docs)],
        "n_chars": np.int32([len(t) for t in texts]),
    }).to_parquet(d + "/documents.parquet")
    n_vec = int(n_docs * VEC_PER_DOC)
    emb = rng.randn(n_vec, 64).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [row.tolist() for row in emb],
        "label": (np.arange(n_vec) % 10).astype(np.int32),
    }).to_parquet(d + "/embeddings.parquet")
    return d


def random_corpora(root: str):
    """Return a ``corpus(n)`` that writes the ``random`` family's
    worst-case tables for each size in turn, from one seed-11 stream."""
    rng = np.random.RandomState(11)
    pyrng = pyrandom.Random(11)

    def corpus(n: int) -> str:
        d = os.path.join(root, "random_%d" % n)
        os.makedirs(d)
        pd.DataFrame({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [rng.randn(64).astype(np.float32).tolist()
                          for _ in range(n)],
            "label": (np.arange(n) % 10).astype(np.int32),
        }).to_parquet(d + "/embeddings.parquet")
        fps = [pyrng.getrandbits(64) for _ in range(n)]
        pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "simhash": ["%016x" % fp for fp in fps],
        }).to_parquet(d + "/fingerprints.parquet")
        texts = [" ".join("w%d" % pyrng.randrange(50000) for _ in range(40))
                 for _ in range(n)]
        texts[1] = texts[0]  # the one planted exact duplicate
        pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                      "text": texts}).to_parquet(d + "/documents.parquet")
        return d

    return corpus


def _timed(action, warm: bool):
    """(result, wall seconds) of ``action()``, after one untimed call
    when ``warm``."""
    if warm:
        action()
    t0 = time.perf_counter()
    out = action()
    return (out, time.perf_counter() - t0)


def _candidates(spark, sizes, corpus, gens):
    """Candidate count, rate and wall per generator per size; ``gens``
    holds (name, fn(spark, dir) -> pairs frame, table counted as n,
    rate digits)."""
    for (i, size) in enumerate(sizes):
        d = corpus(size)
        for (gen, fn, table, digits) in gens:
            n = pq.read_metadata(f"{d}/{table}.parquet").num_rows
            (k, wall) = _timed(lambda: fn(spark, d).count(), warm=i == 0)
            yield {"gen": gen, "n": n, "candidates": k,
                   "rate": round(k / (n * (n - 1) / 2), digits),
                   "wall_s": round(wall, 2)}
        spark.catalog.clearCache()


def pairs(spark, sizes, root):
    from pyspark.sql import functions as F

    from pdfminer_spark.ops.similarity import ann_lsh_pairs
    from pdfminer_spark.ops.textops import (_simhash_candidates,
                                            dedup_minhash_pairs, simhash,
                                            substring_dup_pairs)

    def distinct_fp(spark, d):
        return _simhash_candidates(
            simhash(spark, d).groupBy("simhash")
            .agg(F.min("doc_id").alias("doc_id")))

    return _candidates(spark, sizes, lambda n: synth_corpus(n, root), [
        ("minhash_bands", dedup_minhash_pairs, "documents", 8),
        ("simhash_manku_distinct_fp", distinct_fp, "documents", 8),
        ("sign_lsh_16x16", ann_lsh_pairs, "embeddings", 8),
        ("exact_substring_w20", substring_dup_pairs, "documents", 10)])


def random(spark, sizes, root):
    from pdfminer_spark.ops.similarity import ann_lsh_pairs
    from pdfminer_spark.ops.textops import (_simhash_candidates,
                                            substring_dup_pairs)

    def manku(spark, d):
        return _simhash_candidates(
            spark.read.parquet(d + "/fingerprints.parquet"))

    return _candidates(spark, sizes, random_corpora(root), [
        ("sign_lsh_16x16", ann_lsh_pairs, "embeddings", 8),
        ("simhash_manku_6c3", manku, "fingerprints", 10),
        ("exact_substring_w20", substring_dup_pairs, "documents", 10)])


def ops(spark, sizes, root, names):
    import __spark_entry__

    qs = __spark_entry__.queries()
    for (i, n) in enumerate(sizes):
        d = synth_corpus(n, root)
        for name in names:
            (rows, wall) = _timed(lambda: qs[name](spark, d).count(),
                                  warm=i == 0)
            yield {"op": name, "n_docs": n, "rows": rows,
                   "wall_s": round(wall, 3),
                   "us_per_doc": round(wall * 1e6 / n, 1)}
        spark.catalog.clearCache()


def _proc_kb(field: str) -> int:
    with open("/proc/self/status") as fp:
        for line in fp:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return -1


def _telemetry_fn(inner):
    """Pass batches through the production mapInPandas batch function,
    then emit one telemetry row for the partition."""
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


def extract(spark, sizes):
    from pdfminer_spark.spark.batches import row_batches
    from pdfminer_spark.spark.fixtures import build_transcripts_scaled
    from pdfminer_spark.spark.pipeline import (EXTRACTED_DDL, _extract_row,
                                               _extraction_input,
                                               extract_transcripts,
                                               with_turn_order)

    bound = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    for (i, n_turns) in enumerate(sizes):
        df = build_transcripts_scaled(
            spark, n_turns=n_turns, giant_frac=0.2,
            num_partitions=spark.sparkContext.defaultParallelism)
        (n, wall) = _timed(
            lambda: with_turn_order(
                extract_transcripts(df, page_numbers=[0], salt=4)).count(),
            warm=i == 0)
        # telemetry pass: same input, salt plan and batch function; only
        # the output schema differs
        parts = [r.asDict() for r in (
            _extraction_input(df, salt=4)
            .mapInPandas(
                _telemetry_fn(row_batches(_extract_row([0], True),
                                          EXTRACTED_DDL)),
                schema=("pid int, rows long, batches long, "
                        "max_batch_rows long, vm_hwm_kb long, "
                        "vm_rss_kb long"))
            .collect()) if r["rows"] > 0]
        max_batch = max(r["max_batch_rows"] for r in parts)
        if max_batch > bound:
            raise RuntimeError(
                f"Arrow batch bound violated: {max_batch} > {bound}")
        yield {
            "n_turns": n_turns,
            "rows_out": n,
            "wall_s": round(wall, 2),
            "turns_per_s": round(n_turns / wall, 1),
            "partitions": len(parts),
            "max_part_rows": max(r["rows"] for r in parts),
            "max_batch_rows": max_batch,
            "arrow_batch_bound": bound,
            "worker_peak_rss_mb": round(
                max(r["vm_hwm_kb"] for r in parts) / 1024),
            "worker_end_rss_mb": round(
                max(r["vm_rss_kb"] for r in parts) / 1024),
        }


def extract_summary(first: dict, last: dict) -> dict:
    """The last size against the first: scale, throughput ratio (named
    after the two sizes) and worker peak-RSS growth."""
    (a, b) = (first["n_turns"], last["n_turns"])
    return {"scale_x": round(b / a, 1),
            f"tps_ratio_{b}_vs_{a}": round(
                last["turns_per_s"] / first["turns_per_s"], 3),
            "rss_growth_mb": (last["worker_peak_rss_mb"]
                              - first["worker_peak_rss_mb"])}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("family", choices=["pairs", "random", "ops", "extract"])
    ap.add_argument("names", nargs="*",
                    help="ops: registered query names to run")
    ap.add_argument("--sizes", type=int, nargs="+", required=True,
                    help="documents (pairs, ops), vectors and documents "
                         "(random) or turns (extract), in run order")
    args = ap.parse_args(argv)
    if min(args.sizes) < 2:
        ap.error("sizes must be at least 2 (a rate needs a pair)")
    if (args.family == "ops") != bool(args.names):
        ap.error("query names go with the ops family, and only with it")
    if args.names:
        import __spark_entry__

        unknown = sorted(set(args.names) - set(__spark_entry__.queries()))
        if unknown:
            ap.error("not registered queries: %s" % ", ".join(unknown))

    from pdfminer_spark.spark.session import get_spark

    spark = get_spark("capacity-" + args.family)
    with tempfile.TemporaryDirectory(prefix="capacity_") as root:
        if args.family == "pairs":
            records = pairs(spark, args.sizes, root)
        elif args.family == "random":
            records = random(spark, args.sizes, root)
        elif args.family == "ops":
            records = ops(spark, args.sizes, root, args.names)
        else:
            records = extract(spark, args.sizes)
        out = []
        for rec in records:
            out.append(rec)
            print(json.dumps(rec), flush=True)
    if args.family == "extract" and len(out) >= 2:
        print(json.dumps(extract_summary(out[0], out[-1])), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
