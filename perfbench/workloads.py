"""The workloads, their correctness gates and their layer sweeps.

Every workload runs in one driver process at ``local[nproc]``:

1. set-up, ``SETUPS`` times: start the session, warm the Python workers
   (fork, imports, font and CMap load), generate the seeded inputs and
   write them to parquet. Between set-ups the session is stopped, so each
   one forks fresh workers; the JVM is started once.
2. the correctness gate: one untimed pass over the first arrangement,
   whose output is checked. It is also the first warm-up pass.
3. untraced: a workload's warm-up passes, untimed, then timed passes until
   ``seconds`` are used; pass ``n`` (the gate's is 0) reads arrangement
   ``n % ARRANGEMENTS``. Traced: one call into each layer over the first
   arrangement, each under a span.

An arrangement is one seeded input. All arrangements of a run carry the
same work of each kind, in a different order, so each pass meets a
different partition layout and the run's median over them depends less
on any single layout than one input passed over repeatedly would.
"""
from __future__ import annotations

import base64
import gc
import os
import shutil
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from concurrent.futures import ThreadPoolExecutor

from .gen import (DOCUMENTS_SCHEMA, TRANSCRIPTS_SCHEMA, documents,
                  transcripts, write_parquet)

SETUPS = 3
ARRANGEMENTS = 6
PDF_MIX_TURNS = 240
TEXT_OPS_DOCS = 500
# untimed passes after the gate's, before the timed ones: measured on a
# 4-core host, pdf_mix passes are level from the second pass of a session
# on; text_ops passes fall by about 9% a pass from the second to the
# fourth, but a second warm-up pass would take a text_ops run past its
# share of the run budget (perfbench/LAYERS.md)
PDF_MIX_WARMUP = 1
TEXT_OPS_WARMUP = 1
TEXT_OPS = ("dedup_minhash_pairs", "simhash_pairs", "substring_dup_pairs",
            "tfidf_keywords", "ngram_jaccard_pairs", "repetition_filter")
# the extraction contract of the reference goldens: page 0, vertical
# text detection on
PAGES = [0]


class Run:
    """One benchmark run: session, seeded inputs, tracer and sampler."""

    def __init__(self, work, seed, seconds, tracer, sampler):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.sampler = sampler
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None

    def arrangement_seed(self, r: int) -> str:
        return "%d/%d" % (self.seed, r)

    def setup(self, make_inputs):
        """(median set-up seconds, inputs of the last set-up); the session
        of the last set-up stays open."""
        from pdfminer_spark.spark.session import get_spark

        times = []
        for _ in range(SETUPS):
            self.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = get_spark("perfbench", cpus=self.cores)
            with self.tracer.span("session.warm"):
                warm_workers(self.spark, self.cores)
            with self.tracer.span("inputs.generate"):
                inputs = make_inputs()
            times.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return (statistics.median(times), inputs)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def measure(self, one_pass, n_items: int, setup_s: float,
                warmup: int, scaled: bool) -> dict:
        """The end-to-end metrics of calls ``one_pass(r)``, each a pass
        over arrangement ``r``. The gate made pass 0, over arrangement 0;
        pass ``n`` reads arrangement ``n % ARRANGEMENTS``.

        ``warmup`` untimed passes run first: pass time falls over the
        first passes of a session while the JVM compiles the path's code,
        so the timed passes start once it has stopped falling. Timed
        passes then start while less than ``seconds`` have passed; each
        time is the median over them.

        ``scaled``: on a shared host the CPU speed can drift by tens of
        percent from minute to minute, so a control loop runs in the
        Python workers before the first timed pass and after each, and
        every time is given in reference seconds: seconds scaled by
        CONTROL_REF_S / (median control seconds of the run). Set-up runs
        shortly before the first control and is scaled alike; memory is
        not scaled. Only a path whose time is spent in the Python workers
        is scaled; the control does not track one whose time is spent in
        the JVM."""
        passes = 0

        def next_pass() -> float:
            nonlocal passes
            passes += 1
            t0 = time.perf_counter()
            one_pass(passes % ARRANGEMENTS)
            return time.perf_counter() - t0

        def control() -> list[float]:
            return [control_probe(self.spark, self.cores)] if scaled else []

        warm = [next_pass() for _ in range(warmup)]
        controls = control()
        walls: list[float] = []
        t_start = time.perf_counter()
        while True:
            walls.append(next_pass())
            controls += control()
            if time.perf_counter() - t_start >= self.seconds:
                break
        scale = CONTROL_REF_S / statistics.median(controls) if scaled else 1
        wall = statistics.median(walls)
        print("perfbench: warm-up %s s, passes %s s, controls %s s"
              % ([round(w, 4) for w in warm], [round(w, 4) for w in walls],
                 [round(c, 4) for c in controls]))
        return {
            "turns_per_s": n_items / (wall * scale),
            "wall_s": wall * scale,
            "setup_s": setup_s * scale,
            "peak_rss_mb": self.sampler.peak_worker_rss / 2**20,
        }

    def layer(self, name: str, build) -> float:
        """Seconds of one noop-sink pass of ``build()`` under span
        ``name``. Building the plan counts: some operators compute eagerly
        while building it."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            noop(build())
        return time.perf_counter() - t0

    def tasks_failed(self) -> int:
        """Failed task attempts of every job of the session."""
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for jid in st.getJobIdsForGroup():
            job = st.getJobInfo(jid)
            for sid in (job.stageIds if job else ()):
                stage = st.getStageInfo(sid)
                n += stage.numFailedTasks if stage else 0
        return n


def warm_workers(spark, cores: int) -> None:
    """Fork one Python worker per core and extract the ten reference
    samples in each, which imports the extractor and loads its fonts and
    CMaps."""
    from pdfminer_spark.spark.fixtures import PAYLOAD_DIR, SAMPLE_NAMES

    payloads = []
    for name in SAMPLE_NAMES:
        with open(os.path.join(PAYLOAD_DIR, name + ".pdf"), "rb") as fp:
            payloads.append(fp.read())

    def fn(batches):
        from pdfminer_spark.spark.pipeline import extract_one

        for batch in batches:
            for data in payloads:
                extract_one("", "pdf", PAGES, True, pdf_bytes=data)
            yield batch

    spark.range(cores, numPartitions=cores).mapInPandas(
        fn, "id long").collect()


SPIN = 1_500_000
# seconds of one control loop at the reference speed
CONTROL_REF_S = 0.2


def control_probe(spark, cores: int) -> float:
    """Mean seconds of a fixed pure-Python loop, run in one Python worker
    per core at once: the speed the machine gives the workers now."""
    import pandas as pd

    def fn(batches):
        for batch in batches:
            t0 = time.perf_counter()
            x = 0
            for i in range(SPIN):
                x += i * i % 7
            yield pd.DataFrame({"s": [time.perf_counter() - t0]})

    return statistics.mean(r.s for r in spark.range(
        cores, numPartitions=cores).mapInPandas(fn, "s double").collect())


@contextmanager
def udf_clock(spark):
    """Within the block, every function passed to ``DataFrame.mapInPandas``
    adds to the yielded accumulator the seconds the Python workers spend
    inside it, not counting the time it waits for its input batches or
    the time its output batches take to leave the worker."""
    acc = spark.sparkContext.accumulator(0.0)
    # the session's own DataFrame class, which defines mapInPandas itself
    DataFrame = type(spark.range(0))
    plain = DataFrame.mapInPandas

    def timed_map(self, func, schema, *args, **kwargs):
        def fn(batches):
            waited = 0.0

            def feed():
                nonlocal waited
                it = iter(batches)
                while True:
                    t0 = time.perf_counter()
                    batch = next(it, None)
                    waited += time.perf_counter() - t0
                    if batch is None:
                        return
                    yield batch

            inside = 0.0
            out = iter(func(feed()))
            while True:
                t0 = time.perf_counter()
                batch = next(out, None)
                inside += time.perf_counter() - t0
                if batch is None:
                    break
                yield batch
            acc.add(inside - waited)

        return plain(self, fn, schema, *args, **kwargs)

    DataFrame.mapInPandas = timed_map
    try:
        yield acc
    finally:
        DataFrame.mapInPandas = plain


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# -- pdf_mix ------------------------------------------------------------------

def extraction_path(df):
    from pdfminer_spark.spark.pipeline import (extract_transcripts,
                                               with_turn_order)

    return with_turn_order(
        extract_transcripts(df, page_numbers=PAGES, detect_vertical=True))


def check_turns(got, expected, ranked: bool) -> int:
    """Turns that are missing, duplicated, not ``ok*``, not equal to
    their expected text, or (``ranked``) whose ``turn_rank`` does not
    follow ``turn_idx``. PDF text is compared with its golden exactly."""
    seen: Counter = Counter()
    bad = 0
    for r in got.itertuples(index=False):
        key = (r.conv_id, int(r.turn_idx))
        seen[key] += 1
        exp = expected.get(key)
        if (exp is None or seen[key] > 1 or not r.status.startswith("ok")
                or r.text != exp
                or (ranked and int(r.turn_rank) != key[1] + 1)):
            bad += 1
    return bad + sum(1 for k in expected if k not in seen)


def run_pdf_mix(run: Run) -> dict:
    """read parquet -> extract_transcripts -> with_turn_order -> noop sink.
    The traced run adds the checkpointed path on the same input."""
    paths = [os.path.join(run.work, "transcripts-%d.parquet" % r)
             for r in range(ARRANGEMENTS)]

    def make():
        first = None
        for (r, path) in enumerate(paths):
            (rows, expected) = transcripts(run.arrangement_seed(r),
                                           PDF_MIX_TURNS)
            write_parquet(rows, TRANSCRIPTS_SCHEMA, _fresh(path))
            first = first or (rows, expected)
        return first

    (setup_s, (rows, expected)) = run.setup(make)
    spark = run.spark
    with run.tracer.span("gate"):
        got = extraction_path(spark.read.parquet(paths[0])).select(
            "conv_id", "turn_idx", "text", "status", "turn_rank").toPandas()
    res = {"attempted": len(expected),
           "failed": check_turns(got, expected, ranked=True)}
    if run.tracer.enabled:
        m = extraction_layers(run, paths[0], rows)
        (failed, more) = lineage_layers(run, paths[0], expected,
                                        m["pipeline.extract_stage_s"])
        res["attempted"] += len(expected)
        res["failed"] += failed
        m.update(more)
        res["layers"] = m
    else:
        res["metrics"] = run.measure(lambda r: noop(extraction_path(
            spark.read.parquet(paths[r]))), PDF_MIX_TURNS,
            setup_s, PDF_MIX_WARMUP, scaled=True)
    return res


def extraction_layers(run: Run, path, rows) -> dict:
    """Pipeline passes (each a noop sink of one public call), the
    partition map of the extraction stage, and the serial in-UDF replay."""
    from pyspark.sql import functions as F

    from pdfminer_spark.spark.pipeline import (extract_transcripts,
                                               salted_repartition)

    read = lambda: run.spark.read.parquet(path)  # noqa: E731
    extract = lambda: extract_transcripts(  # noqa: E731
        read(), page_numbers=PAGES, detect_vertical=True)
    m = {
        "pipeline.scan_s": run.layer("pipeline.scan", read),
        "pipeline.shuffle_s": run.layer(
            "pipeline.shuffle", lambda: salted_repartition(read())),
        "pipeline.extract_stage_s": run.layer("pipeline.extract_stage",
                                              extract),
    }
    m["pipeline.arrow_roundtrip_s"] = run.layer(
        "pipeline.shuffle_identity",
        lambda: salted_repartition(read()).mapInPandas(
            lambda batches: batches, read().schema)
    ) - m["pipeline.shuffle_s"]
    cpu0 = run.sampler.cpu_seconds()
    traced = run.layer("pipeline.path", lambda: extraction_path(read()))
    m["cpu_s_per_kturn"] = (run.sampler.cpu_seconds() - cpu0) / (
        len(rows) / 1000)
    m["pipeline.window_s"] = traced - m["pipeline.extract_stage_s"]
    with run.tracer.span("pipeline.partition_map"):
        pmap = extract().select("conv_id", "turn_idx",
                                F.spark_partition_id().alias("pid")
                                ).toPandas()
    m["pipeline.tasks_failed"] = run.tasks_failed()

    (serial, replay) = replay_udf(run.tracer, rows)
    m.update(replay)
    turns: Counter = Counter()
    cost: Counter = Counter()
    for r in pmap.itertuples(index=False):
        turns[r.pid] += 1
        cost[r.pid] += serial[(r.conv_id, int(r.turn_idx))]
    m["pipeline.partitions"] = len(turns)
    m["pipeline.partition_skew"] = max(turns.values()) / statistics.mean(
        turns.values())
    m["pipeline.partition_cost_skew"] = max(cost.values()) / statistics.mean(
        cost.values())
    m["pipeline.parallel_eff"] = sum(serial.values()) / (
        run.cores * m["pipeline.extract_stage_s"])
    return m


def replay_udf(tracer, rows) -> tuple[dict, dict]:
    """Serial in-process replay of every turn: ``extract_one`` timed
    whole, and the same turn through the public calls ``extract_one``
    makes, in its order, once with each call under a span and once with
    no span. Returns (serial extract_one seconds per turn, metrics)."""
    from pdfminer_spark.html.boilerplate import extract_main_text
    from pdfminer_spark.pdf.document import PdfDocument
    from pdfminer_spark.pdf.extract import render_text
    from pdfminer_spark.pdf.interp import Interpreter, ResourceCache
    from pdfminer_spark.pdf.layout import (Char, Container, LAParams,
                                           TextBox, analyze_container)
    from pdfminer_spark.spark.pipeline import extract_one

    def chars(item) -> int:
        if isinstance(item, Char):
            return 1
        if isinstance(item, Container):
            return sum(chars(o) for o in item.objs)
        return 0

    def open_page0(data):
        doc = PdfDocument(data)
        if not doc.is_extractable:
            raise RuntimeError("replay: extraction not allowed")
        # like extract_one, walk the whole page tree and keep page 0
        return [p for (i, p) in enumerate(doc.get_pages()) if i in PAGES][0]

    def render(page):
        out: list[str] = []
        render_text(page, out)
        out.append("\f")
        return "".join(out)

    layers: Counter = Counter()

    def timed(name, fn, *args):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn(*args)
        layers[name] += time.perf_counter() - t0
        return out

    def bare(name, fn, *args):
        return fn(*args)

    def whole_turn(text, tool, data):
        t0 = time.perf_counter()
        with tracer.span("extract_one"):
            out = extract_one("" if data else text, tool, PAGES, True,
                              pdf_bytes=data)
        return (out[0], time.perf_counter() - t0)

    def layered_turn(call, text, tool, data):
        """(text, laid-out page or None) through the layers, each call
        made through ``call``: ``timed`` (under a span) or ``bare``."""
        if tool == "pdf":
            page0 = call("document.open", open_page0, data)
            interp = Interpreter(ResourceCache(), None, collect_shapes=False)
            page = call("interp.interpret", interp.process_page, page0)
            call("layout.analyze", analyze_container, page,
                 LAParams(detect_vertical=True))
            return (call("extract.render", render, page), page)
        if tool == "html":
            return (call("boilerplate.extract", extract_main_text, text),
                    None)
        return (text, None)

    def clocked(fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        return (out, time.perf_counter() - t0)

    serial = {}
    counts: Counter = Counter()
    mismatches = 0
    # seconds of the layered replay with spans and with none; their ratio
    # is the tracing cost where the spans are
    (on_s, off_s) = (0.0, 0.0)
    # this process holds many live objects (pyspark, pandas); frozen, they
    # are not scanned by the collections that fall inside the timed calls
    gc.collect()
    gc.freeze()
    for (i, (conv_id, turn_idx, _, text, tool, _)) in enumerate(rows):
        with tracer.span("replay.turn"):
            data = base64.b64decode(text) if tool == "pdf" else None
            # alternate the order of the three runs, so that none is
            # favoured by the caches another warmed
            if i % 2:
                ((again, page), on) = clocked(layered_turn, timed, text,
                                              tool, data)
                (_, off) = clocked(layered_turn, bare, text, tool, data)
                (whole, secs) = whole_turn(text, tool, data)
            else:
                (whole, secs) = whole_turn(text, tool, data)
                (_, off) = clocked(layered_turn, bare, text, tool, data)
                ((again, page), on) = clocked(layered_turn, timed, text,
                                              tool, data)
            serial[(conv_id, turn_idx)] = secs
            mismatches += again != whole
            (on_s, off_s) = (on_s + on, off_s + off)
            if page is not None:
                counts["interp.chars"] += chars(page)
                counts["layout.boxes"] += sum(isinstance(o, TextBox)
                                              for o in page.objs)
                counts["document.bytes_in"] += len(data)
    gc.unfreeze()

    total = sum(serial.values())
    in_layers = sum(layers.values())
    q = statistics.quantiles([1000 * s for s in serial.values()], n=100)
    m = {
        "document.open_s": layers["document.open"],
        "interp.interpret_s": layers["interp.interpret"],
        "layout.analyze_s": layers["layout.analyze"],
        "extract.render_s": layers["extract.render"],
        "boilerplate.extract_s": layers["boilerplate.extract"],
        "pipeline.udf_residual_s": total - in_layers,
        "trace.layer_sum_ratio": in_layers / total,
        "trace.replay_mismatches": mismatches,
        "trace.overhead": 1 - off_s / on_s,
        "pipeline.turn_ms_p50": q[49],
        "pipeline.turn_ms_p98": q[97],
        "pipeline.turn_ms_n": len(serial),
    }
    m.update(counts)
    return (serial, m)


def lineage_layers(run: Run, path, expected, extract_stage_s):
    """The checkpointed path that jobs/extract_job.py ships, on the same
    input: lineage.run_extraction into a fresh directory, then a resume
    pass that must skip every bucket. Returns (failures, metrics)."""
    from pdfminer_spark.spark.lineage import run_extraction

    spark = run.spark
    out = _fresh(os.path.join(run.work, "checkpoint"))
    t0 = time.perf_counter()
    with run.tracer.span("lineage.run"):
        first = run_extraction(spark, spark.read.parquet(path), out, "run-0",
                               page_numbers=PAGES, detect_vertical=True)
    run_s = time.perf_counter() - t0
    files = [os.path.join(d, f) for (d, _, fs) in os.walk(out) for f in fs]
    t0 = time.perf_counter()
    with run.tracer.span("lineage.resume"):
        again = run_extraction(spark, spark.read.parquet(path), out,
                               "resume-0", page_numbers=PAGES,
                               detect_vertical=True)
    m = {
        "lineage.run_s": run_s,
        "lineage.commit_s": run_s - extract_stage_s,
        "lineage.resume_s": time.perf_counter() - t0,
        "lineage.files_written": len(files),
        "lineage.bytes_written": sum(os.path.getsize(f) for f in files),
        "lineage.buckets_skipped": again["skipped_buckets"],
    }
    return (check_checkpoint(run, out, expected, first, again), m)


def check_checkpoint(run: Run, out, expected, first, again) -> int:
    """Failures of the checkpointed run: output turns against the
    expected rows, lineage checksums against a recomputation from the
    expected rows, and bucket counts of the run and the resume."""
    from pyspark.sql import functions as F

    from pdfminer_spark.spark.lineage import read_extracted

    spark = run.spark
    got = read_extracted(spark, out).select(
        "conv_id", "turn_idx", "text", "status").toPandas()
    failed = check_turns(got, expected, ranked=False)
    exp = spark.createDataFrame(
        [(c, t, text, "ok") for ((c, t), text) in expected.items()],
        "conv_id string, turn_idx int, text string, status string")
    # the lineage checksum: bit_xor of xxhash64 over (conv_id, turn_idx,
    # text, status) per bucket of run_extraction's default 64, as hex
    want = {r.pk: (r.n, r.checksum) for r in exp.groupBy(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(64)).alias("pk")
    ).agg(F.count("*").alias("n"), F.conv(F.bit_xor(F.xxhash64(
        "conv_id", "turn_idx", "text", "status")).cast("string"), 10, 16)
        .alias("checksum")).collect()}
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    have = {r.pk: (r.turn_count, r.checksum) for r in lineage.filter(
        F.col("run_id") == "run-0").collect()}
    failed += sum(want[pk] != have.get(pk) for pk in want) + len(
        set(have) - set(want))
    failed += first["processed_buckets"] != len(want)
    failed += (again["processed_buckets"] != 0
               or again["skipped_buckets"] != len(want))
    return failed


# -- text_ops ----------------------------------------------------------------

def run_text_ops(run: Run) -> dict:
    """The six text operators over a seeded ``documents`` table, each
    checked against its DuckDB oracle."""
    import __spark_entry__ as entry

    sf_dirs = [os.path.join(run.work, "docs-%d" % r)
               for r in range(ARRANGEMENTS)]

    def make():
        for (r, sf_dir) in enumerate(sf_dirs):
            os.makedirs(_fresh(sf_dir))
            write_parquet(documents(run.arrangement_seed(r), TEXT_OPS_DOCS),
                          DOCUMENTS_SCHEMA,
                          os.path.join(sf_dir, "documents.parquet"))

    (setup_s, _) = run.setup(make)
    spark = run.spark
    qs = entry.queries()
    oracles = entry.oracle_sql()
    path = os.path.join(sf_dirs[0], "documents.parquet")
    attempted = failed = 0
    rows = {}
    with run.tracer.span("gate"), ThreadPoolExecutor(1) as pool:
        # DuckDB runs beside the operators, which run one after another,
        # as in a pass
        want = pool.submit(lambda: [oracle_frame(oracles[op], path)
                                    for op in TEXT_OPS])
        got = [qs[op](spark, sf_dirs[0]).toPandas() for op in TEXT_OPS]
        for (op, g, w) in zip(TEXT_OPS, got, want.result()):
            rows[op] = len(g)
            attempted += len(w)
            failed += frame_diff(g, w)
    res = {"attempted": attempted, "failed": failed}
    if run.tracer.enabled:
        m = {"pipeline.scan_s": run.layer(
            "pipeline.scan", lambda: spark.read.parquet(path))}
        cpu0 = run.sampler.cpu_seconds()
        for op in TEXT_OPS:
            with udf_clock(spark) as inside:
                m["textops.%s_s" % op] = run.layer(
                    "textops." + op, lambda: qs[op](spark, sf_dirs[0]))
            m["textops.%s_udf_s" % op] = inside.value
            m["textops.%s_rows" % op] = rows[op]
        m["cpu_s_per_kturn"] = (run.sampler.cpu_seconds() - cpu0) / (
            TEXT_OPS_DOCS / 1000)
        m["textops.udf_share"] = sum(
            m["textops.%s_udf_s" % op] for op in TEXT_OPS) / (
            run.cores * sum(m["textops.%s_s" % op] for op in TEXT_OPS))
        m["pipeline.tasks_failed"] = run.tasks_failed()
        res["layers"] = m
        return res

    def one_pass(r):
        for op in TEXT_OPS:
            noop(qs[op](spark, sf_dirs[r]))

    res["metrics"] = run.measure(one_pass, TEXT_OPS_DOCS, setup_s,
                                 TEXT_OPS_WARMUP, scaled=False)
    return res


def oracle_frame(sql: str, documents_path: str):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                    % documents_path.replace("'", "''"))
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def frame_diff(got, want) -> int:
    """Rows in one frame and not the other, after sorting columns by name
    and rounding floats to 6 places (a different column set fails every
    row)."""
    import numpy as np

    if sorted(got.columns) != sorted(want.columns):
        return max(len(got), len(want), 1)

    def canon(df) -> Counter:
        df = df[sorted(df.columns)]
        return Counter(
            tuple(round(float(v), 6) if isinstance(v, (float, np.floating))
                  else tuple(v) if isinstance(v, (list, np.ndarray))
                  else v.item() if isinstance(v, np.generic) else v
                  for v in row)
            for row in df.itertuples(index=False, name=None))

    (a, b) = (canon(got), canon(want))
    return sum(((a - b) + (b - a)).values())


WORKLOADS = {
    "pdf_mix": run_pdf_mix,
    "text_ops": run_text_ops,
}
