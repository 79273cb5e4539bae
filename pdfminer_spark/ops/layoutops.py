"""Layout-frame query: the chars→lines→boxes analysis exposed as an
oracle-checkable DataFrame (VERDICT r1 missing #1).

``layout_boxes`` runs the full extraction pipeline over the vendored PDF
corpus with ``with_boxes=True`` and emits one row per reading-ordered
text box — the span unit of the reference's XML output (reference
converter.py:425-497). The oracle is fixtures/layout_spans.parquet,
parsed from the reference's own ``*.xml.ref`` goldens by
tools/build_layout_spans.py, so the §2.4/§2.5 layout operators (line
sessionization, box clustering, reading order) are checked against
reference ground truth by the driver, not only by pytest.

bbox is compared as the reference's own ``%.3f`` string (built by the
same ``bbox2str`` the byte-exact XML sink uses) — no float formatting
round-trip in the comparison.
"""
from __future__ import annotations

import datetime
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..spark.batches import map_rows

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPANS_PARQUET = os.path.join(REPO, "fixtures", "layout_spans.parquet")

BOXES_DDL = ("conv_id string, turn_idx int, box_id int, page int, "
             "bbox string, wmode string, text string")


def _corpus_transcripts(spark: SparkSession) -> DataFrame:
    """One PDF turn per vendored sample; conv_id = sample name. The
    fixture enters as one pandas frame over the session's Arrow path —
    the ~4 MB of base64 payload rows cost ~0.4 s per evaluation through
    the pickled-tuples createDataFrame (r8, the _pdf_docs fix)."""
    from pdfminer_spark.spark.fixtures import (TRANSCRIPTS_SCHEMA,
                                               _load_payloads)

    ts = datetime.datetime(2026, 1, 1)
    payloads = _load_payloads()
    pdf = pd.DataFrame({
        "conv_id": [name for (name, _b64) in payloads],
        "turn_idx": pd.Series([0] * len(payloads), dtype="int32"),
        "role": "tool",
        "text": [b64 for (_name, b64) in payloads],
        "tool": "pdf",
        "ts": pd.Series([ts] * len(payloads), dtype="datetime64[us]"),
    })
    return spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA)


def _box_rows(conv_id, turn_idx, boxes):
    from pdfminer_spark.pdf.xmlout import bbox2str

    return ([conv_id] * len(boxes), [turn_idx] * len(boxes),
            [b["box_id"] for b in boxes], [b["page"] for b in boxes],
            [bbox2str((b["x0"], b["y0"], b["x1"], b["y1"])) for b in boxes],
            ["vertical" if b["wmode"] == "tb-rl" else "horizontal"
             for b in boxes],
            [b["text"] for b in boxes])


def layout_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reading-ordered text boxes of page 1 of every corpus sample
    (`-p1 -V` — the reference golden configuration). ``sf_dir`` is
    unused: the input is the vendored reference corpus itself."""
    from pdfminer_spark.spark.pipeline import extract_transcripts

    tr = _corpus_transcripts(spark)
    ext = extract_transcripts(tr, page_numbers=[0], detect_vertical=True,
                              with_boxes=True, salt=2)
    return map_rows(ext.select("conv_id", "turn_idx", "boxes"), _box_rows,
                    BOXES_DDL)


ORACLES: dict[str, str] = {
    "layout_boxes": f"""
        SELECT sample AS conv_id, turn_idx, box_id, page, bbox, wmode, text
        FROM read_parquet('{SPANS_PARQUET}')
    """,
}

QUERIES = {
    "layout_boxes": layout_boxes,
}
