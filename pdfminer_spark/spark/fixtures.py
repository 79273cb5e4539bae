"""Deterministic synthetic transcripts table (FIXTURES.md §1).

Schema fixed by the BASELINE input_hint:
(conv_id string, turn_idx int, role string, text string, tool string,
 ts timestamp). Payload cells: base64 PDF bytes (tool='pdf'), raw HTML
(tool='html'), or plain chat text (tool=''). Seed=42; includes one giant
conversation (>=100x median turns) to exercise skew salting.
"""
from __future__ import annotations

import base64
import datetime
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PAYLOAD_DIR = os.path.join(REPO, "fixtures", "payloads")
GOLDEN_DIR = os.path.join(REPO, "fixtures", "goldens")

SAMPLE_NAMES = [
    "simple1", "simple2", "simple3", "jo",
    "nonfree/dmca", "nonfree/f1040nr", "nonfree/i1040nr", "nonfree/kampo",
    "nonfree/naacl06-shinyama", "nonfree/nlp2004slides",
]

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

_HTML_TEMPLATE = """<html><head><title>Doc {k}</title><style>body{{margin:0}}</style></head>
<body><nav class="top-nav"><a href="/">Home</a> <a href="/a">Section A</a> <a href="/b">Section B</a></nav>
<div class="sidebar"><ul><li><a href="/x">Link one</a></li><li><a href="/y">Link two</a></li></ul></div>
<article><h1>{title}</h1>
<p>{body}</p>
<p>{body2}</p></article>
<footer><a href="/about">About</a> | <a href="/tos">Terms of service</a> | copyright example</footer>
</body></html>"""

_CHAT_LINES = [
    "Sounds good, let me check the document.",
    "Here is the summary you asked for.",
    "Can you extract the text from the attachment?",
    "The pipeline finished without errors.",
    "Let me know if you need the layout boxes too.",
]

_ROLES = ["user", "assistant", "tool"]


def _load_payloads(payload_dir: str = PAYLOAD_DIR):
    out = []
    for name in SAMPLE_NAMES:
        with open(os.path.join(payload_dir, name + ".pdf"), "rb") as fp:
            out.append((name, base64.b64encode(fp.read()).decode("ascii")))
    return out


def _load_goldens(golden_dir: str = GOLDEN_DIR):
    out = {}
    for name in SAMPLE_NAMES:
        with open(os.path.join(golden_dir, name + ".txt.ref"), "rb") as fp:
            out[name] = fp.read().decode("utf-8")
    return out


def _html_payload(rng: random.Random, k: int) -> tuple[str, str]:
    """Returns (html, expected_main_text)."""
    title = "Synthetic document %d" % k
    body = " ".join("word%d" % rng.randrange(1000) for _ in range(24))
    body2 = " ".join("token%d" % rng.randrange(1000) for _ in range(18))
    html = _HTML_TEMPLATE.format(k=k, title=title, body=body, body2=body2)
    expected = "\n".join([title, body, body2])
    return (html, expected)


def build_transcript_rows(n_convs: int = 20, seed: int = 42,
                          giant_conv_turns: int = 0,
                          payload_dir: str = PAYLOAD_DIR,
                          golden_dir: str | None = GOLDEN_DIR):
    """Generate (rows, expected_rows). Deterministic for a given seed.

    ``giant_conv_turns``: if >0, conversation conv-0000 gets that many
    turns (the skew driver); others get 3-9 turns.
    """
    rng = random.Random(seed)
    payloads = _load_payloads(payload_dir)
    goldens = _load_goldens(golden_dir) if golden_dir else {}
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    expected = []
    pdf_rr = 0
    for k in range(n_convs):
        conv_id = "conv-%04d" % k
        if k == 0 and giant_conv_turns:
            n_turns = giant_conv_turns
        else:
            n_turns = rng.randint(3, 9)
        for t in range(n_turns):
            role = _ROLES[t % 3]
            ts = t0 + datetime.timedelta(minutes=t)
            kind = rng.random()
            if kind < 0.45:
                (name, b64) = payloads[pdf_rr % len(payloads)]
                pdf_rr += 1
                rows.append((conv_id, t, role, b64, "pdf", ts))
                if name in goldens:
                    expected.append((conv_id, t, goldens[name]))
            elif kind < 0.70:
                (html, exp) = _html_payload(rng, k * 1000 + t)
                rows.append((conv_id, t, role, html, "html", ts))
                expected.append((conv_id, t, exp))
            else:
                text = _CHAT_LINES[rng.randrange(len(_CHAT_LINES))]
                rows.append((conv_id, t, role, text, "", ts))
                expected.append((conv_id, t, text))
    return (rows, expected)


def build_transcripts(spark: SparkSession, n_convs: int = 20, seed: int = 42,
                      giant_conv_turns: int = 0,
                      num_partitions: int | None = None) -> DataFrame:
    (rows, _) = build_transcript_rows(n_convs, seed, giant_conv_turns)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def corpus_transcripts(spark: SparkSession) -> DataFrame:
    """One PDF turn per vendored sample, conv_id = sample name. The frame
    enters as one pandas frame over the session's Arrow path: the ~4 MB
    of base64 payload rows cost ~0.4 s per evaluation through the
    pickled-tuples ``createDataFrame``, single-digit ms as Arrow batches."""
    import pandas as pd

    payloads = _load_payloads()
    pdf = pd.DataFrame({
        "conv_id": [name for (name, _b64) in payloads],
        "turn_idx": pd.Series([0] * len(payloads), dtype="int32"),
        "role": "tool",
        "text": [b64 for (_name, b64) in payloads],
        "tool": "pdf",
        "ts": pd.Series([datetime.datetime(2026, 1, 1)] * len(payloads),
                        dtype="datetime64[us]"),
    })
    return spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA)


def build_transcripts_scaled(spark: SparkSession, n_turns: int,
                             n_convs: int | None = None,
                             giant_frac: float = 0.2,
                             num_partitions: int | None = None) -> DataFrame:
    """Scale-path transcripts builder: the skeleton is generated
    executor-side with spark.range and payload cells attached via a
    broadcast join against the 10-row payload table — the driver never
    serializes the replicated corpus (contrast build_transcripts, which
    ships every cell through createDataFrame; fine for tests, wrong for
    benchmarks).

    ``giant_frac`` of all turns land in conversation conv-0000 (the skew
    driver); the rest spread over n_convs conversations."""
    from pyspark.sql import functions as F

    if n_convs is None:
        n_convs = max(n_turns // 8, 1)
    payloads = _load_payloads()
    pay_df = spark.createDataFrame(
        [(i, b64) for (i, (_, b64)) in enumerate(payloads)],
        "payload_id int, payload string")
    giant_turns = int(n_turns * giant_frac)
    sk = spark.range(n_turns, numPartitions=num_partitions or None)
    conv = F.when(
        F.col("id") < giant_turns, F.lit(0)
    ).otherwise(F.pmod(F.xxhash64("id"), F.lit(max(n_convs - 1, 1))) + 1)
    kind = F.pmod(F.xxhash64(F.col("id") + 7), F.lit(100))
    skeleton = sk.select(
        F.concat(F.lit("conv-"), F.lpad(conv.cast("string"), 4, "0")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                     (F.col("id") % 3 + 1).cast("int")).alias("role"),
        kind.alias("_kind"),
        F.pmod(F.xxhash64(F.col("id") + 13), F.lit(len(payloads)))
        .cast("int").alias("payload_id"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("id").cast("int") % 1440)).alias("ts"),
    )
    html = F.concat(
        F.lit("<html><body><nav><a href='/'>Home</a> <a href='/a'>A</a></nav>"
              "<article><h1>Synthetic "),
        F.col("turn_idx").cast("string"),
        F.lit("</h1><p>generated body text with enough words to keep the "
              "block classifier happy and some more filler tokens here"
              "</p></article><footer><a href='/tos'>terms</a></footer>"
              "</body></html>"))
    chat = F.concat(F.lit("chat message number "), F.col("turn_idx").cast("string"))
    joined = skeleton.join(F.broadcast(pay_df), "payload_id", "left")
    return joined.select(
        "conv_id", "turn_idx", "role",
        F.when(F.col("_kind") < 45, F.col("payload"))
        .when(F.col("_kind") < 70, html)
        .otherwise(chat).alias("text"),
        F.when(F.col("_kind") < 45, F.lit("pdf"))
        .when(F.col("_kind") < 70, F.lit("html"))
        .otherwise(F.lit("")).alias("tool"),
        "ts",
    )


EXPECTED_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("expected_text", T.StringType()),
])


def build_expected(spark: SparkSession, n_convs: int = 20, seed: int = 42,
                   giant_conv_turns: int = 0) -> DataFrame:
    (_, expected) = build_transcript_rows(n_convs, seed, giant_conv_turns)
    return spark.createDataFrame(expected, EXPECTED_SCHEMA)
