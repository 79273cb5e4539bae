"""The extraction pipeline: transcripts DataFrame -> extracted DataFrame.

Stage plan (SURVEY.md §3.1 "Spark lifecycle"):

  scan -> salted repartition on conv_id  [shuffle #1, skew defuse]
       -> try_to_binary(text, 'base64')  [PDF payloads, stage-parallel]
       -> map_rows(extract_one)          [the only JVM<->Python crossing,
                                          one Arrow-batched mapInPandas]
       -> window over (conv_id, turn_idx) for stable turn ordering
          (applied by assemble_conversations / validate joins)

Extraction is per-turn independent, so salting by hash(turn_idx) is safe;
ordering is restored downstream by the window. Per-turn failures become a
``status`` column instead of task failures (one poison payload must not
kill a 10^12-turn job).
"""
from __future__ import annotations

import base64

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .batches import map_rows

# the extracted frame's columns, declared once: the extraction stage's
# output and, with ``pk``, lineage's read-back schema
EXTRACTED_DDL = ("conv_id string, turn_idx int, role string, tool string, "
                 "text string, n_pages int, n_boxes int, bytes_decoded long, "
                 "status string")


def extract_one(text: str, tool: str, page_numbers=None,
                detect_vertical: bool = True, with_boxes: bool = False,
                pdf_bytes: bytes | None = None):
    """Extract one turn payload -> (text, n_pages, n_boxes, bytes, status
    [, boxes]). ``boxes`` rows are (box_id, page, x0, y0, x1, y1, wmode,
    text) in reading order — the span unit of the XML goldens.

    ``pdf_bytes``: pre-decoded payload (the pipeline base64-decodes
    JVM-side after the shuffle, so the Arrow crossing carries binary,
    25% smaller than base64 text); ``None`` decodes ``text`` here.

    Importable without pyspark (reused by tests and the DuckDB oracle)."""
    from pdfminer_spark.html.boilerplate import extract_main_text
    from pdfminer_spark.pdf.extract import extract_pages, extract_text
    from pdfminer_spark.pdf.layout import LAParams, TextBox, TextBoxV

    boxes: list[tuple] = []
    try:
        if tool == "pdf":
            data = pdf_bytes if pdf_bytes is not None else base64.b64decode(text)
            la = LAParams(detect_vertical=detect_vertical)
            pages = extract_pages(data, page_numbers=page_numbers,
                                  laparams=la, collect_shapes=False)
            n_boxes = 0
            for (pageno, page) in enumerate(pages):
                for o in page.objs:
                    if isinstance(o, TextBox):
                        n_boxes += 1
                        if with_boxes:
                            boxes.append((
                                o.index, pageno, o.x0, o.y0, o.x1, o.y1,
                                "tb-rl" if isinstance(o, TextBoxV) else "lr-tb",
                                o.get_text()))
            # deep-nesting truncation is observable, not silent (ADVICE
            # r6): a doc whose Form XObject nesting hit the interpreter's
            # 64-deep cap still extracts, flagged 'ok:truncated-forms'
            truncated = sum(getattr(p, "truncated_forms", 0) for p in pages)
            status = "ok:truncated-forms" if truncated else "ok"
            result = (extract_text(data, pages=pages), len(pages), n_boxes,
                      len(data), status)
        elif tool == "html":
            main = extract_main_text(text)
            result = (main, 0, 0, len(text.encode("utf-8")), "ok")
        else:
            result = (text, 0, 0, len(text.encode("utf-8")), "ok")
    except Exception as exc:  # poison payload -> status, not task failure
        result = ("", 0, 0, 0, "error:%s" % type(exc).__name__)
        boxes = []
    return result + (boxes,) if with_boxes else result


def _extract_row(page_numbers, detect_vertical):
    """The extraction stage's per-row function over ``_extraction_input``'s
    columns: one ``EXTRACTED_DDL`` row."""
    def per_row(conv_id, turn_idx, role, tool, text, pdf):
        out = extract_one(text, tool, page_numbers, detect_vertical,
                          pdf_bytes=None if pdf is None else bytes(pdf))
        return [(v,) for v in (conv_id, turn_idx, role, tool) + out]

    return per_row


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       salt: int = 16) -> DataFrame:
    """Spread giant conversations across ``salt`` buckets (SURVEY.md §4).

    AQE's skew handling only splits join/shuffle stages, not the UDF
    fan-out from one huge conv_id — hence the explicit salt column."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salt))
    )
    if num_partitions:
        salted = salted.repartition(num_partitions, "conv_id", "_salt")
    else:
        salted = salted.repartition("conv_id", "_salt")
    return salted.drop("_salt")


def _extraction_input(df: DataFrame, num_partitions: int | None = None,
                      salt: int = 16, repartition: bool = True) -> DataFrame:
    """The salted shuffle, then PDF payloads base64-decoded JVM-side into
    ``_pdf`` (``text`` blanked) at the stage's parallelism, not the
    scan's: the shuffle carries text, the Arrow crossing binary. Payloads
    the decoder rejects get NULL, not a task failure under ANSI, and keep
    their text for ``extract_one``'s Python decode (status column). Only
    the columns the stage reads cross into Python."""
    src = salted_repartition(df, num_partitions, salt) if repartition else df
    pdf = F.when(F.col("tool") == "pdf",
                 F.try_to_binary(F.col("text"), F.lit("base64")))
    return src.withColumn("_pdf", pdf).select(
        "conv_id", "turn_idx", "role", "tool",
        F.when(F.col("_pdf").isNotNull(), F.lit("")).otherwise(
            F.col("text")).alias("text"),
        "_pdf")


def extract_transcripts(df: DataFrame, page_numbers=None,
                        detect_vertical: bool = True,
                        num_partitions: int | None = None,
                        salt: int = 16,
                        repartition: bool = True) -> DataFrame:
    """transcripts -> extracted (``EXTRACTED_DDL``). One Arrow-batched
    ``map_rows`` stage.

    PDF payloads are base64-decoded JVM-side *after* the salted shuffle,
    inside the extraction stage's tasks (``_extraction_input``)."""
    return map_rows(_extraction_input(df, num_partitions, salt, repartition),
                    _extract_row(page_numbers, detect_vertical),
                    EXTRACTED_DDL)


def with_turn_order(extracted: DataFrame) -> DataFrame:
    """Stable turn ordering: row_number over (conv_id, turn_idx)
    (north_rule window requirement)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return extracted.withColumn("turn_rank", F.row_number().over(w))


def assemble_conversations(extracted: DataFrame,
                           segment_size: int = 256) -> DataFrame:
    """Per-conversation document: turn texts concatenated in turn order.

    Two-stage concat to cap skew (r1 verdict #6): turns first aggregate
    per (conv_id, turn_idx // segment_size) — a giant conversation
    spreads over ceil(T/segment_size) keys, so no single task ever
    collects more than ``segment_size`` turn structs — then the ordered
    segment STRINGS (already concatenated, far fewer and flatter than
    raw structs) merge per conv_id. The final one-row-per-conversation
    output is inherently conversation-sized; what the cap removes is the
    monster collect_list buffer and the single-task hot key at the wide
    stage. Both stages are map-side-combinable aggregates."""
    seg = (F.col("turn_idx") / segment_size).cast("int")
    segments = (
        extracted
        .groupBy("conv_id", seg.alias("_seg"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "text"))
            ).alias("_turns"),
            F.count("*").alias("_n"),
            F.sum("bytes_decoded").alias("_bytes"),
        )
        .withColumn(
            "_seg_text",
            F.array_join(F.transform("_turns", lambda s: s["text"]), "\n"),
        )
        .drop("_turns")
    )
    return (
        segments
        .groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_seg", "_seg_text"))
            ).alias("_segs"),
            F.sum("_n").alias("n_turns"),
            F.sum("_bytes").alias("bytes_decoded"),
        )
        .withColumn(
            "doc_text",
            F.array_join(F.transform("_segs", lambda s: s["_seg_text"]), "\n"),
        )
        .drop("_segs")
    )
