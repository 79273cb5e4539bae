"""Spark-layer tests: extraction pipeline, turn ordering, lineage resume.

Correctness oracle: the vendored goldens (FIXTURES.md §3) joined per
(conv_id, turn_idx)."""
import base64
import os

import pytest
from pyspark.sql import functions as F

from conftest import golden_text, payload
from pdfminer_spark.spark.fixtures import build_expected, build_transcripts
from pdfminer_spark.spark.lineage import read_extracted, run_extraction
from pdfminer_spark.spark.pipeline import (assemble_conversations,
                                           extract_transcripts,
                                           with_turn_order)

N_CONVS = 8


@pytest.fixture(scope="module")
def extracted(spark):
    df = build_transcripts(spark, n_convs=N_CONVS)
    out = extract_transcripts(df, page_numbers=[0]).cache()
    yield out
    out.unpersist()


def test_per_turn_text_equality(spark, extracted):
    exp = build_expected(spark, n_convs=N_CONVS)
    joined = extracted.join(exp, ["conv_id", "turn_idx"], "inner")
    assert joined.count() == extracted.count()
    assert joined.filter(F.col("text") != F.col("expected_text")).count() == 0
    assert extracted.filter(F.col("status") != "ok").count() == 0


def test_turn_ordering_window(spark, extracted):
    ranked = with_turn_order(extracted)
    # row_number over (conv_id, turn_idx) is dense + ordered per conv
    bad = (ranked.groupBy("conv_id")
           .agg(F.count("*").alias("n"), F.max("turn_rank").alias("mx"))
           .filter(F.col("n") != F.col("mx")).count())
    assert bad == 0


def test_assemble_conversations(spark, extracted):
    docs = assemble_conversations(extracted)
    assert docs.count() == N_CONVS
    row = docs.filter(F.col("conv_id") == "conv-0000").first()
    # doc text is the turn texts joined in turn order
    turns = (extracted.filter(F.col("conv_id") == "conv-0000")
             .orderBy("turn_idx").select("text").collect())
    assert row.doc_text == "\n".join(t.text for t in turns)


def test_poison_payload_yields_status_not_failure(spark):
    rows = [("c1", 0, "user", "aGVsbG8=", "pdf", None),  # not a pdf
            ("c1", 1, "user", "plain text", "", None)]
    from pdfminer_spark.spark.fixtures import TRANSCRIPTS_SCHEMA

    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    out = extract_transcripts(df, repartition=False).collect()
    by_idx = {r.turn_idx: r for r in out}
    assert by_idx[0].status.startswith("error:")
    assert by_idx[0].text == ""
    assert by_idx[1].status == "ok"


@pytest.mark.parametrize("repartition", [True, False])
def test_malformed_base64_yields_status_not_failure(spark, repartition):
    """Base64 with a bad ending aborted the job under ANSI when the
    decode was ``unbase64``; it must come back as a status row."""
    from pdfminer_spark.spark.fixtures import TRANSCRIPTS_SCHEMA

    good = base64.b64encode(payload("simple1")).decode("ascii")
    texts = [good, "QUJD=", "QUJDR", "QUJDRA=", good]
    rows = [("c1", i, "user", t, "pdf", None) for (i, t) in enumerate(texts)]
    # a chat turn that reads as base64 is not decoded
    rows.append(("c1", len(texts), "user", "QUJDREU=", "", None))
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    out = extract_transcripts(df, page_numbers=[0],
                              repartition=repartition).collect()
    by_idx = {r.turn_idx: r for r in out}
    assert len(by_idx) == len(rows)
    for i in (1, 2, 3):
        assert by_idx[i].status.startswith("error:"), by_idx[i]
        assert by_idx[i].text == ""
    for i in (0, 4, 5):
        assert by_idx[i].status == "ok", by_idx[i]
    assert by_idx[0].text == golden_text("simple1")
    assert by_idx[5].text == "QUJDREU="


ABORT = "abort"
# payload -> what extract_one received under the pre-change rule (PDF
# text matching rlike '^[A-Za-z0-9+/\\s]*={0,2}$' was unbase64'd by the
# JVM before the shuffle, the rest decoded by Python's b64decode): the
# decoded bytes, the Python decode's error status, or ABORT where
# unbase64 failed the whole job under ANSI. b"ABCDE" is "QUJDREU=".
DECODE_CASES = [
    ("QUJD\nREU=", b"ABCDE"),
    ("QUJD\r\nREU=", b"ABCDE"),
    ("QUJD\tREU=", b"ABCDE"),
    ("QUJD\x0bREU=", b"ABCDE"),
    ("QUJDREU=\n", b"ABCDE"),
    ("QUJDREU", b"ABCDE"),
    ("QUJDREU=", b"ABCDE"),
    ("QUJDRA==", b"ABCD"),
    ("QUJDRA===", b"ABCD"),
    ("QUJDRA== ", b"ABCD"),
    ("QU=JDREU=", b"ABCDE"),
    ("QUJD!REU=", b"ABCDE"),
    ("QUJD-_RE", "error:Error"),
    ("QUJD\x1cREU=", b"ABCDE"),
    ("QUJD\x1dREU=", b"ABCDE"),
    ("QUJD\x1eREU=", b"ABCDE"),
    ("QUJD\x1fREU=", b"ABCDE"),
    ("QUJD\u2003REU=", "error:ValueError"),
    ("QUJD\u3000REU=", "error:ValueError"),
    ("QUJD\u2028REU=", "error:ValueError"),
    ("QUJD\xa0REU=", "error:ValueError"),
    ("", b""),
    ("QUJD=", ABORT),
    ("QUJDR", ABORT),
    ("QUJDRA=", ABORT),
    ("==", ABORT),
]
# the intended differences: try_to_binary skips the Unicode whitespace
# the old regex rejected (the Python decode then failed on non-ASCII),
# and the job-abort cases now reach the Python decode as rows
DECODE_CHANGED = {
    "QUJD\u2003REU=": b"ABCDE",
    "QUJD\u3000REU=": b"ABCDE",
    "QUJD\u2028REU=": b"ABCDE",
    "QUJD=": b"ABC",
    "QUJDR": "error:Error",
    "QUJDRA=": "error:Error",
    "==": b"",
}


def test_pdf_decode_parity(spark):
    """The post-shuffle ``try_to_binary`` decode hands ``extract_one`` the
    same bytes or error as the pre-change rule, except the pinned
    changes."""
    from pdfminer_spark.spark.pipeline import _extraction_input

    texts = [t for (t, _) in DECODE_CASES]
    df = spark.createDataFrame(
        [(i, t, "pdf") for (i, t) in enumerate(texts)],
        "turn_idx int, text string, tool string")
    got = {}
    for r in _extraction_input(df, repartition=False).collect():
        if r._pdf is not None:
            assert r.text == ""
            got[r.turn_idx] = bytes(r._pdf)
            continue
        assert r.text == texts[r.turn_idx]
        try:
            got[r.turn_idx] = base64.b64decode(r.text)
        except Exception as exc:  # the status extract_one would set
            got[r.turn_idx] = "error:%s" % type(exc).__name__
    for (i, (text, old)) in enumerate(DECODE_CASES):
        assert old != ABORT or text in DECODE_CHANGED, text
        assert got[i] == DECODE_CHANGED.get(text, old), (text, got[i])


def test_pdf_decode_runs_after_the_shuffle(spark):
    """The base64 decode sits above the salted repartition's Exchange,
    inside the extraction stage, and no payload regex remains."""
    df = build_transcripts(spark, n_convs=2)
    plan = (extract_transcripts(df)._jdf.queryExecution().executedPlan()
            .toString())
    assert "unbase64" in plan and "Exchange" in plan, plan
    assert plan.index("unbase64") < plan.index("Exchange"), plan
    assert plan.count("unbase64") == 1, plan
    assert "rlike" not in plan.lower(), plan


def test_lineage_resume(spark, tmp_path):
    out_dir = str(tmp_path / "run")
    df = build_transcripts(spark, n_convs=N_CONVS)
    r1 = run_extraction(spark, df, out_dir, "run-a", num_buckets=8,
                        page_numbers=[0], fail_after_buckets=3)
    assert r1["processed_buckets"] == 3
    r2 = run_extraction(spark, df, out_dir, "run-b", num_buckets=8,
                        page_numbers=[0])
    assert r2["skipped_buckets"] == 3
    ext = read_extracted(spark, out_dir)
    assert ext.count() == df.count()
    dups = (ext.groupBy("conv_id", "turn_idx").count()
            .filter("count > 1").count())
    assert dups == 0
    # idempotent full rerun
    r3 = run_extraction(spark, df, out_dir, "run-c", num_buckets=8,
                        page_numbers=[0])
    assert r3["processed_buckets"] == 0
    assert read_extracted(spark, out_dir).count() == df.count()
