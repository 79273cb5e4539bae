"""Transcript-format ingestion operators: the caption/subtitle and
e-mail reply formats that conversation corpora actually arrive in.

Three layers:

* ``parse_srt`` / ``parse_vtt`` — SubRip and WebVTT cue parsers (pure
  stdlib): timestamp lines to integer milliseconds, optional cue
  identifiers, WEBVTT header / NOTE / STYLE block skipping, ``<v
  Speaker>`` voice-tag extraction, markup-tag stripping. These are the
  formats ASR systems and caption tracks emit; at corpus scale each
  cell is one caption file and parsing is per-row independent work.
* ``merge_cues_to_turns`` semantics as a PURE JVM window plan
  (``cues_to_turns``): consecutive cues from the same speaker within a
  silence threshold merge into one turn — the cue-stream-to-turn-table
  step that produces exactly the north-rule input shape (conv/turn/
  role/text with stable turn ordering).
* ``strip_email_reply`` — mailing-list / support-thread main-content
  extraction: RFC-822 header block, ``On ... wrote:`` attribution
  lines, ``>``-quoted history, and the ``-- `` signature block drop;
  the author's own prose survives.

Registered queries put each under the driver's oracle gate with
closed-form expected outputs (the markdown_strip/warc_extract
wrap-and-recover pattern).

Scale: ``subtitle_cues`` and ``email_quote_strip`` are per-row
functions run by ``spark/batches.map_rows``: one map-side stage after a
round-robin spread of the scan (``_docs``);
``cues_to_turns`` is ONE exchange — a window partitioned by doc_id —
then a same-key aggregation that reuses the window's partitioning.
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..spark.batches import map_rows
from .textops import _docs

_MAX_CUES = 1 << 20  # hostile-input ceiling per caption cell

# hours group optional (WebVTT allows MM:SS.mmm), comma or dot
_TS_RE = re.compile(r"(?:(\d+):)?(\d{1,2}):(\d{1,2})[.,](\d{3})")
_TAG_RE = re.compile(r"<[^>]*>")
_VOICE_RE = re.compile(r"<v(?:[.\w-]*)\s+([^>]*)>")


class TranscriptError(ValueError):
    """Malformed subtitle payload."""


def _parse_ts(s: str) -> int:
    m = _TS_RE.fullmatch(s.strip())
    if m is None:
        raise TranscriptError("bad timestamp %r" % s)
    (h, mi, se, ms) = m.groups()
    return (((int(h or 0) * 60 + int(mi)) * 60 + int(se)) * 1000
            + int(ms))


def _cue_from_block(time_line: str, text_lines: list[str]) -> dict:
    (left, sep, right) = time_line.partition("-->")
    if not sep:
        raise TranscriptError("cue without '-->' time line")
    # WebVTT allows settings after the end timestamp
    end_field = right.strip().split(" ", 1)[0]
    raw = "\n".join(text_lines).strip()
    vm = _VOICE_RE.search(raw)
    speaker = vm.group(1).strip() if vm else ""
    text = re.sub(r"\s+", " ", _TAG_RE.sub("", raw)).strip()
    return {"start_ms": _parse_ts(left),
            "end_ms": _parse_ts(end_field),
            "speaker": speaker, "text": text}


def parse_srt(data: str, max_cues: int = _MAX_CUES) -> list[dict]:
    """Parse SubRip text into cues: blank-line-separated blocks of
    [numeric index,] timestamp line, text lines. Styling tags
    (``<i>``, ``<b>``, ``<font>``) strip; cue order is file order."""
    cues: list[dict] = []
    for block in re.split(r"\n\s*\n", data.lstrip("﻿")):
        lines = [ln for ln in block.split("\n") if ln.strip()]
        if not lines:
            continue
        if "-->" not in lines[0]:
            if not lines[0].strip().isdigit():
                raise TranscriptError(
                    "SRT block starts with neither index nor time")
            lines = lines[1:]
        if not lines:
            raise TranscriptError("SRT block without time line")
        if len(cues) >= max_cues:
            raise TranscriptError("cue count exceeds cap")
        cues.append(_cue_from_block(lines[0], lines[1:]))
    return cues


def parse_vtt(data: str, max_cues: int = _MAX_CUES) -> list[dict]:
    """Parse WebVTT text into cues: required ``WEBVTT`` header; NOTE /
    STYLE / REGION blocks skip; cues are [id line,] timestamp line
    (with optional settings), text lines. ``<v Speaker>`` populates the
    speaker field; all markup tags strip from the text."""
    body = data.lstrip("﻿")
    if not body.startswith("WEBVTT"):
        raise TranscriptError("missing WEBVTT header")
    blocks = re.split(r"\n\s*\n", body)
    cues: list[dict] = []
    for block in blocks[1:]:
        lines = [ln for ln in block.split("\n") if ln.strip()]
        if not lines or lines[0].split(" ", 1)[0] in (
                "NOTE", "STYLE", "REGION"):
            continue
        if "-->" not in lines[0]:
            lines = lines[1:]  # cue identifier
        if not lines:
            raise TranscriptError("VTT cue without time line")
        if len(cues) >= max_cues:
            raise TranscriptError("cue count exceeds cap")
        cues.append(_cue_from_block(lines[0], lines[1:]))
    return cues


def _fmt_ts(ms: int, sep: str) -> str:
    (s, mms) = divmod(ms, 1000)
    (mi, se) = divmod(s, 60)
    (h, mi) = divmod(mi, 60)
    return "%02d:%02d:%02d%s%03d" % (h, mi, se, sep, mms)


def _build_captions(doc_id: int, text: str) -> tuple[str, str]:
    words = text.split(" ")
    n = 1 + doc_id % 4
    step = 1000 + doc_id % 500
    if doc_id % 2 == 0:
        blocks = []
        for i in range(n):
            w = words[(i * 7) % len(words)]
            blocks.append(
                "%d\n%s --> %s\nc%d <i>%s</i>\n"
                % (i + 1, _fmt_ts(i * step, ","),
                   _fmt_ts(i * step + 900, ","), i, w))
        return ("srt", "\n".join(blocks))
    blocks = ["WEBVTT\n", "NOTE synthetic caption track\n"]
    for i in range(n):
        w = words[(i * 7) % len(words)]
        ident = ("cue-%d\n" % i) if i % 2 == 1 else ""
        blocks.append(
            "%s%s --> %s align:start\n<v S%d>c%d <c>%s</c>\n"
            % (ident, _fmt_ts(i * step, "."),
               _fmt_ts(i * step + 900, "."), i % 2, i, w))
    return ("vtt", "\n".join(blocks))


def _cue_rows(doc_id, text):
    (fmt, payload) = _build_captions(doc_id, text)
    cues = parse_srt(payload) if fmt == "srt" else parse_vtt(payload)
    return ([doc_id] * len(cues), [fmt] * len(cues), range(len(cues)),
            [c["start_ms"] for c in cues], [c["end_ms"] for c in cues],
            [c["speaker"] for c in cues], [c["text"] for c in cues])


def subtitle_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-track ingestion under the driver's oracle gate: each
    document becomes a synthetic caption file — SRT for even doc_ids
    (indexed blocks, comma timestamps, ``<i>`` styling), WebVTT for odd
    (header, a NOTE block, cue identifiers on odd cues, settings after
    the end timestamp, ``<v>`` voice + ``<c>`` class tags) — and the
    parser must recover every cue's exact timing, speaker, and
    de-tagged text.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _cue_rows,
                    "doc_id long, fmt string, cue_idx int, start_ms long,"
                    " end_ms long, speaker string, text string")


_TURN_GAP_MS = 2000  # silence threshold between merged cues


def _cue_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cue stream (what subtitle_cues yields upstream):
    4..8 cues per doc, speaker alternating every ``1 + doc_id % 2``
    cues, a 4-second silence injected before cue 3 on every third doc
    (so the gap rule splits a same-speaker run)."""
    d = _docs(spark, sf_dir).select("doc_id")
    n = F.lit(4) + (F.col("doc_id") % 5).cast("int")
    c = d.select("doc_id",
                 F.explode(F.sequence(F.lit(0), n - 1)).alias("cue_idx"))
    blk = F.lit(1) + (F.col("doc_id") % 2).cast("int")
    shift = F.when((F.col("cue_idx") >= 3) & (F.col("doc_id") % 3 == 0),
                   F.lit(4000)).otherwise(F.lit(0))
    start = (F.col("cue_idx").cast("long") * 1000 + shift).alias("start_ms")
    return c.select(
        "doc_id", "cue_idx",
        F.concat(F.lit("S"),
                 ((F.col("cue_idx") / blk).cast("int") % 2).cast("string"))
         .alias("speaker"),
        start,
        (F.col("cue_idx").cast("long") * 1000 + shift + 900)
            .alias("end_ms"),
        F.concat(F.lit("c"), F.col("cue_idx").cast("string")).alias("text"))


def cues_to_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cue-stream-to-turn-table merge: consecutive cues with the same
    speaker and an inter-cue silence under ``_TURN_GAP_MS`` collapse
    into one turn — min start, max end, space-joined text in stable cue
    order. This is the segmentation step that turns raw caption streams
    into the north-rule transcript shape (stable turn ordering per
    conversation).

    Scale: ONE exchange — the doc_id window computes the
    speaker-change / gap flags and the running turn index, and the
    groupBy on (doc_id, turn_idx) reuses that partitioning. Pure JVM
    expressions throughout; no Python in the path."""
    c = _cue_stream(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("cue_idx")
    prev_speaker = F.lag("speaker").over(w)
    prev_end = F.lag("end_ms").over(w)
    new_turn = F.when(
        prev_speaker.isNull()
        | (prev_speaker != F.col("speaker"))
        | (F.col("start_ms") - prev_end > _TURN_GAP_MS),
        F.lit(1)).otherwise(F.lit(0))
    t = c.withColumn(
        "turn_idx",
        (F.sum(new_turn).over(
            w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("int"))
    return (t.groupBy("doc_id", "turn_idx")
            .agg(F.first("speaker").alias("speaker"),
                 F.min("start_ms").alias("start_ms"),
                 F.max("end_ms").alias("end_ms"),
                 F.count("*").cast("int").alias("n_cues"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("cue_idx", "text"))),
                         lambda s: s["text"]), " ").alias("text")))


_ATTRIB_RE = re.compile(r"^On .*wrote:\s*$")


def strip_email_reply(msg: str) -> tuple[str, int]:
    """Main-content extraction for a mailing-list / support-thread
    message: drop the RFC-822 header block (up to the first blank line,
    only when the message actually starts with header fields), the
    ``On ... wrote:`` attribution line, every ``>``-quoted history
    line, and everything from the ``-- `` signature delimiter on.
    Returns (main text with whitespace collapsed, quoted-line count).
    """
    lines = msg.split("\n")
    i = 0
    if lines and re.match(r"^[A-Za-z][A-Za-z-]*:", lines[0]):
        while i < len(lines) and lines[i].strip():
            i += 1
    kept: list[str] = []
    n_quoted = 0
    for ln in lines[i:]:
        if ln.rstrip("\r") == "-- ":
            break
        if ln.startswith(">"):
            n_quoted += 1
            continue
        if _ATTRIB_RE.match(ln.strip()):
            continue
        kept.append(ln)
    return (re.sub(r"\s+", " ", " ".join(kept)).strip(), n_quoted)


def _build_reply(doc_id: int, text: str) -> str:
    return ("From: alice@example.org\n"
            "To: list@example.org\n"
            "Subject: Re: doc %d\n"
            "\n"
            "Thanks!\n"
            "%s\n"
            "\n"
            "On Mon, 5 Jan 2026, Bob wrote:\n"
            "> quoted line one\n"
            "> quoted line two\n"
            ">> deeper quote\n"
            "\n"
            "-- \n"
            "Alice\n"
            "sig line\n" % (doc_id, text))


def _email_row(doc_id, text):
    (main, nq) = strip_email_reply(_build_reply(doc_id, text))
    return ([doc_id], [main], [nq])


def email_quote_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reply-chain stripping under the driver's oracle gate: wrap each
    document's text in a synthetic reply e-mail (headers, fresh prose,
    attribution line, three quoted-history lines, signature block) and
    require exactly ``Thanks! <text>`` back with the quoted-line count.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _email_row,
                    "doc_id long, main_text string, n_quoted_lines int")


def tool_call_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call span extraction from agent transcripts — the parse
    that populates the north-rule input's ``tool`` column: assistant
    turns may embed a ``<tool_call>{json}</tool_call>`` span; the op
    pulls the span with a JVM regexp and parses it with Catalyst's
    ``from_json`` (nested args struct), emitting the tool name, an
    argument, and a validity verdict — no Python anywhere.

    Every third document's assistant text carries a call (closed-form
    payload), the rest none; a malformed-span case (every 15th doc:
    unterminated JSON) must surface as has_call=1/valid=0, never an
    exception.

    Scale: zero exchanges — regexp + from_json + field access inside
    the one scan stage."""
    from pyspark.sql import functions as F

    from .textops import _docs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    payload = F.concat(
        F.lit('{"name": "search", "args": {"q": "doc '),
        F.col("doc_id").cast("string"), F.lit('", "k": '),
        (F.col("doc_id") % 5).cast("string"), F.lit("}}"))
    payload = F.when(F.col("doc_id") % 15 == 0,
                     F.lit('{"name": "search"')).otherwise(payload)
    turn = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" <tool_call>"), payload,
                 F.lit("</tool_call>"))).otherwise(F.col("text"))
    span = F.regexp_extract(turn, r"<tool_call>(.*?)</tool_call>", 1)
    p = F.from_json(span,
                    "name string, args struct<q:string, k:int>")
    has_call = (span != "").cast("int")
    valid = F.when(span == "", F.lit(None).cast("int"))         .otherwise(p["name"].isNotNull().cast("int"))
    return d.select(
        "doc_id",
        has_call.alias("has_call"),
        valid.alias("valid"),
        F.when(valid == 1, p["name"]).alias("tool_name"),
        F.when(valid == 1, p["args"]["k"]).alias("arg_k"))


def turn_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation response-latency statistics over the transcript
    view — the operational dashboard an agent pipeline reports: for
    every assistant turn, latency = its event time minus the previous
    turn's; per conversation, response count, exact integer-microsecond
    mean (half-up, the corpus_report recipe), and max. Event times are
    closed-form in (conv, turn_idx) with a +5 s stall injected before
    turn 3 so mean and max genuinely differ.

    Scale: ONE exchange — the conv_id window computes the lag, the
    conv_id groupBy reuses its partitioning."""
    from pyspark.sql import functions as F

    from .trainprep_shared import conv_turns_with_ts

    t = conv_turns_with_ts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lat = (F.col("ts_us") - F.lag("ts_us").over(w)).alias("latency_us")
    r = (t.withColumn("latency_us", lat)
         .where((F.col("role") == "assistant")
                & F.col("latency_us").isNotNull()))
    agg = r.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_responses"),
        F.sum("latency_us").alias("sum_us"),
        F.max("latency_us").alias("max_latency_us"))
    return agg.select(
        "conv_id", "n_responses",
        F.expr("(sum_us * 2 + n_responses) div (2 * n_responses)")
         .alias("mean_latency_us"),
        "max_latency_us")


_CONV_KEY_DF_CAP = 8     # drop turn-keys present in more conversations
_CONV_JACCARD_MIN = 500  # e4: report pairs with J >= 0.05


def conversation_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level near-dup detection — the transcript analogue
    of document minhash: each conversation becomes its SET of turn
    keys (hash of the turn's leading bigram — the shingle that
    tolerates paraphrased tails), keys present in more than
    ``_CONV_KEY_DF_CAP`` conversations drop as boilerplate (the
    ExactSubstr df-cap discipline — it also bounds the bucket join's
    per-key fan-out), candidate pairs come from a self-join on shared
    keys, and exact set Jaccard in integer e4 gates the report.

    Scale: the pair space is bounded by the df cap (<= C(8,2) pairs
    per key), never |convs|^2; set sizes travel as two small
    aggregates; everything is exchanges on uniform hash keys."""
    from pyspark.sql import functions as F

    from .textops import _docs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    turns = d.select(
        F.concat(F.lit("conv-"),
                 F.lpad((F.col("doc_id") % 50).cast("string"), 4, "0"))
         .alias("conv_id"),
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 2)))
         .alias("key")).distinct()
    df_ok = (turns.groupBy("key")
             .agg(F.countDistinct("conv_id").alias("df"))
             .where(F.col("df") <= _CONV_KEY_DF_CAP))
    kept = turns.join(df_ok.select("key"), "key")
    sizes = kept.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_keys"))
    pairs = (kept.alias("a")
             .join(kept.alias("b"), "key")
             .where(F.col("a.conv_id") < F.col("b.conv_id"))
             .groupBy(F.col("a.conv_id").alias("conv_a"),
                      F.col("b.conv_id").alias("conv_b"))
             .agg(F.count("*").cast("long").alias("shared")))
    out = (pairs
           .join(sizes.withColumnRenamed("conv_id", "conv_a")
                 .withColumnRenamed("n_keys", "na"), "conv_a")
           .join(sizes.withColumnRenamed("conv_id", "conv_b")
                 .withColumnRenamed("n_keys", "nb"), "conv_b")
           .select("conv_a", "conv_b", "shared",
                   F.expr("(shared * 20000 + (na + nb - shared))"
                          " div (2 * (na + nb - shared))")
                    .alias("jaccard_e4")))
    return out.where(F.col("jaccard_e4") >= _CONV_JACCARD_MIN)


def transcript_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row transcript-corpus dashboard (the corpus_report pattern
    over the conversation table): conversation count, the
    conversation_quality keep rate and tool-call rate in exact integer
    e4, response totals and worst latency, and the near-dup pair count
    — the numbers a curation run reports before training starts. Every
    figure is the one-row aggregate of a registered op, so the
    dashboard is consistent with the gates by construction.

    Scale: four one-row aggregates crossJoin-broadcast together —
    plan cost is the component ops' cost, the join adds nothing."""
    from pyspark.sql import functions as F

    from .trainprep import conversation_quality

    cq = conversation_quality(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_convs"),
        F.sum("keep").cast("long").alias("n_keep"))
    tool = tool_call_extract(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("has_call").cast("long").alias("n_calls"))
    lat = turn_latency_stats(spark, sf_dir).agg(
        F.sum("n_responses").cast("long").alias("total_responses"),
        F.max("max_latency_us").alias("worst_latency_us"))
    nd = conversation_near_dups(spark, sf_dir).agg(
        F.count("*").cast("long").alias("near_dup_pairs"))
    e4 = "(%s * 20000 + %s) div (2 * %s)"
    return (cq.crossJoin(F.broadcast(tool))
            .crossJoin(F.broadcast(lat))
            .crossJoin(F.broadcast(nd))
            .select(
                "n_convs",
                F.expr(e4 % ("n_keep", "n_convs", "n_convs"))
                 .alias("keep_rate_e4"),
                F.expr(e4 % ("n_calls", "n_docs", "n_docs"))
                 .alias("tool_call_rate_e4"),
                "total_responses", "worst_latency_us",
                "near_dup_pairs"))


ORACLES: dict[str, str] = {
    "conversation_near_dups": """
        WITH turns AS (
          SELECT DISTINCT
                 'conv-' || LPAD((doc_id % 50)::VARCHAR, 4, '0')
                   AS conv_id,
                 MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:2], ' '))
                   AS key
          FROM documents
        ), df_ok AS (
          SELECT key FROM turns GROUP BY key
          HAVING COUNT(DISTINCT conv_id) <= 8
        ), kept AS (
          SELECT t.* FROM turns t JOIN df_ok USING (key)
        ), sizes AS (
          SELECT conv_id, COUNT(*)::BIGINT AS n_keys
          FROM kept GROUP BY conv_id
        ), pairs AS (
          SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
                 COUNT(*)::BIGINT AS shared
          FROM kept a JOIN kept b
            ON a.key = b.key AND a.conv_id < b.conv_id
          GROUP BY a.conv_id, b.conv_id
        )
        SELECT conv_a, conv_b, shared,
               (shared * 20000 + (sa.n_keys + sb.n_keys - shared))
                 // (2 * (sa.n_keys + sb.n_keys - shared)) AS jaccard_e4
        FROM pairs
        JOIN sizes sa ON sa.conv_id = conv_a
        JOIN sizes sb ON sb.conv_id = conv_b
        WHERE (shared * 20000 + (sa.n_keys + sb.n_keys - shared))
                 // (2 * (sa.n_keys + sb.n_keys - shared)) >= 500
    """,
    "tool_call_extract": """
        SELECT doc_id,
               (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::INT
                 AS has_call,
               CASE WHEN doc_id % 3 <> 0 THEN NULL
                    WHEN doc_id % 15 = 0 THEN 0 ELSE 1 END::INT AS valid,
               CASE WHEN doc_id % 3 = 0 AND doc_id % 15 <> 0
                    THEN 'search' END AS tool_name,
               CASE WHEN doc_id % 3 = 0 AND doc_id % 15 <> 0
                    THEN (doc_id % 5)::INT END AS arg_k
        FROM documents
    """,
    "turn_latency_stats": """
        WITH turns AS (
          SELECT 'conv-' || LPAD((doc_id % 50)::VARCHAR, 4, '0') AS conv_id,
                 (doc_id // 50)::INT AS turn_idx,
                 CASE WHEN (doc_id // 50) % 2 = 0 THEN 'user'
                      ELSE 'assistant' END AS role,
                 ((doc_id // 50) * (60 + doc_id % 50 % 10) * 1000000
                  + CASE WHEN doc_id // 50 = 3 THEN 5000000
                         ELSE 0 END)::BIGINT AS ts_us
          FROM documents
        ), lagd AS (
          SELECT conv_id, turn_idx, role,
                 ts_us - LAG(ts_us) OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx) AS latency_us
          FROM turns
        )
        SELECT conv_id, COUNT(*)::BIGINT AS n_responses,
               (SUM(latency_us)::BIGINT * 2 + COUNT(*)) // (2 * COUNT(*))
                 AS mean_latency_us,
               MAX(latency_us) AS max_latency_us
        FROM lagd
        WHERE role = 'assistant' AND latency_us IS NOT NULL
        GROUP BY conv_id
    """,
    "subtitle_cues": """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS fmt,
               i::INT AS cue_idx,
               (i * (1000 + doc_id % 500))::BIGINT AS start_ms,
               (i * (1000 + doc_id % 500) + 900)::BIGINT AS end_ms,
               CASE WHEN doc_id % 2 = 0 THEN ''
                    ELSE 'S' || (i % 2)::VARCHAR END AS speaker,
               'c' || i::VARCHAR || ' '
                    || w[1 + (i * 7) % LEN(w)] AS text
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w
              FROM documents),
             UNNEST(RANGE(0, 1 + doc_id % 4)) AS t(i)
    """,
    "cues_to_turns": """
        WITH cues AS (
          SELECT doc_id, i::INT AS cue_idx,
                 'S' || ((i // (1 + doc_id % 2)) % 2)::VARCHAR AS speaker,
                 (i * 1000 + CASE WHEN i >= 3 AND doc_id % 3 = 0
                                  THEN 4000 ELSE 0 END)::BIGINT AS start_ms,
                 (i * 1000 + CASE WHEN i >= 3 AND doc_id % 3 = 0
                                  THEN 4000 ELSE 0 END + 900)::BIGINT
                   AS end_ms,
                 'c' || i::VARCHAR AS text
          FROM documents, UNNEST(RANGE(0, 4 + doc_id % 5)) AS t(i)
        ), flagged AS (
          SELECT *,
                 CASE WHEN LAG(speaker) OVER w IS NULL
                        OR LAG(speaker) OVER w <> speaker
                        OR start_ms - LAG(end_ms) OVER w > 2000
                      THEN 1 ELSE 0 END AS new_turn
          FROM cues
          WINDOW w AS (PARTITION BY doc_id ORDER BY cue_idx)
        )
        SELECT doc_id, cue_idx,
               (SUM(new_turn) OVER (PARTITION BY doc_id ORDER BY cue_idx
                                    ROWS UNBOUNDED PRECEDING) - 1)::INT
                 AS turn_idx,
               speaker, start_ms, end_ms, text
        FROM flagged
    """,
    "email_quote_strip": """
        SELECT doc_id, 'Thanks! ' || text AS main_text,
               3::INT AS n_quoted_lines
        FROM documents
    """,
}

# cues_to_turns aggregates per turn; the oracle above is per-cue — wrap
# it so the compared shape matches the Spark output exactly.
ORACLES["cues_to_turns"] = """
    SELECT doc_id, turn_idx,
           MIN(speaker) AS speaker,
           MIN(start_ms) AS start_ms,
           MAX(end_ms) AS end_ms,
           COUNT(*)::INT AS n_cues,
           STRING_AGG(text, ' ' ORDER BY cue_idx) AS text
    FROM (%s) cue_turns
    GROUP BY doc_id, turn_idx
""" % ORACLES["cues_to_turns"]

QUERIES = {
    "subtitle_cues": subtitle_cues,
    "tool_call_extract": tool_call_extract,
    "turn_latency_stats": turn_latency_stats,
    "conversation_near_dups": conversation_near_dups,
    "cues_to_turns": cues_to_turns,
    "email_quote_strip": email_quote_strip,
}


from .trainprep import ORACLES as _TP_ORACLES  # noqa: E402

ORACLES["transcript_report"] = """
    WITH cq AS (%(cq)s), tool AS (%(tool)s), lat AS (%(lat)s),
         nd AS (%(nd)s)
    SELECT
      (SELECT COUNT(*) FROM cq)::BIGINT AS n_convs,
      ((SELECT SUM(keep) FROM cq)::BIGINT * 20000
        + (SELECT COUNT(*) FROM cq))
        // (2 * (SELECT COUNT(*) FROM cq)) AS keep_rate_e4,
      ((SELECT SUM(has_call) FROM tool)::BIGINT * 20000
        + (SELECT COUNT(*) FROM tool))
        // (2 * (SELECT COUNT(*) FROM tool)) AS tool_call_rate_e4,
      (SELECT SUM(n_responses) FROM lat)::BIGINT AS total_responses,
      (SELECT MAX(max_latency_us) FROM lat)::BIGINT
        AS worst_latency_us,
      (SELECT COUNT(*) FROM nd)::BIGINT AS near_dup_pairs
""" % {"cq": _TP_ORACLES["conversation_quality"],
       "tool": ORACLES["tool_call_extract"],
       "lat": ORACLES["turn_latency_stats"],
       "nd": ORACLES["conversation_near_dups"]}

QUERIES["transcript_report"] = transcript_report
