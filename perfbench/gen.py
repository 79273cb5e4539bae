"""Seeded input generators. The seed picks the arrangement of the inputs
(which turn is which kind, conversation sizes, payload order, HTML words,
the names of the document words); the amount of work per kind is fixed,
so two seeds give inputs of the same cost and a run-to-run spread
measures the system, not the draw."""
from __future__ import annotations

import base64
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# the bench mix of bench.py's build_transcripts_scaled: 45% PDF, 25% HTML,
# 30% chat, with 20% of all turns in one giant conversation
PDF_FRAC = 0.45
HTML_FRAC = 0.25
GIANT_FRAC = 0.2

TRANSCRIPTS_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def transcripts(seed: int | str, n_turns: int):
    """(rows, expected): rows in TRANSCRIPTS_SCHEMA column order and
    expected[(conv_id, turn_idx)] = the turn's expected extracted text.

    PDF turns cycle through the ten reference samples equally, so every
    seed carries the same PDF cost; HTML turns come from the program's
    own fixture generator, whose expected text is the extractor's output."""
    from pdfminer_spark.spark.fixtures import (_CHAT_LINES, GOLDEN_DIR,
                                               PAYLOAD_DIR, SAMPLE_NAMES,
                                               _html_payload)

    rng = random.Random(seed)
    n_pdf = round(n_turns * PDF_FRAC)
    n_html = round(n_turns * HTML_FRAC)
    kinds = (["pdf"] * n_pdf + ["html"] * n_html
             + ["chat"] * (n_turns - n_pdf - n_html))
    rng.shuffle(kinds)
    names = [SAMPLE_NAMES[i % len(SAMPLE_NAMES)] for i in range(n_pdf)]
    rng.shuffle(names)
    b64, golden = {}, {}
    for name in set(names):
        with open(os.path.join(PAYLOAD_DIR, name + ".pdf"), "rb") as fp:
            b64[name] = base64.b64encode(fp.read()).decode("ascii")
        with open(os.path.join(GOLDEN_DIR, name + ".txt.ref"), "rb") as fp:
            golden[name] = fp.read().decode("utf-8")

    # conversation sizes: one giant conversation, the rest 3-9 turns
    sizes = [int(n_turns * GIANT_FRAC)]
    left = n_turns - sizes[0]
    while left > 0:
        sizes.append(min(rng.randint(3, 9), left))
        left -= sizes[-1]
    t0 = datetime.datetime(2026, 1, 1)
    rows, expected = [], {}
    it_kind, it_name = iter(kinds), iter(names)
    for (c, size) in enumerate(sizes):
        conv_id = "conv-%05d" % c
        for t in range(size):
            kind = next(it_kind)
            if kind == "pdf":
                name = next(it_name)
                (text, tool, exp) = (b64[name], "pdf", golden[name])
            elif kind == "html":
                (text, exp) = _html_payload(rng, c * 1000 + t)
                tool = "html"
            else:
                text = exp = _CHAT_LINES[rng.randrange(len(_CHAT_LINES))]
                tool = ""
            rows.append((conv_id, t, ("user", "assistant", "tool")[t % 3],
                         text, tool, t0 + datetime.timedelta(minutes=t)))
            expected[(conv_id, t)] = exp
    return (rows, expected)


# the text marginals of the program's sf0.1 `documents` test table: its
# 30-word vocabulary, word counts spread evenly over 10-100, 40% English
# and 15% each of four other languages, 20 equally used sources, 5% of
# rows a near-copy of another row with " dup" appended, and a few exact
# copies
_WORDS = ("the a data table row column key value query join filter group "
          "sort merge hash scan batch stream window spark order line part "
          "customer fast slow big small agg vector").split()
_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3


def documents(seed: int | str, n_docs: int):
    """Rows of a ``documents`` table with the testdata schema and the
    sf0.1 text marginals. Every 20th document is a near-copy of an
    earlier one and every 500th an exact copy, so the pair operators find
    candidates. Word counts, word positions and which rows copy which are
    fixed; the seed only renames the words (a permutation of the
    vocabulary), so every seed has the same overlaps between documents and
    the pair operators the same amount of work, and the seed changes the
    hashes."""
    layout = random.Random("documents")
    words = list(_WORDS)
    random.Random(seed).shuffle(words)
    rows = []
    for i in range(n_docs):
        if i and i % 500 == 0:
            text = rows[i // 2][1]
        elif i and i % 20 == 0:
            text = rows[i // 3][1] + " dup"
        else:
            text = " ".join(words[layout.randrange(len(words))]
                            for _ in range(10 + i * 37 % 91))
        rows.append((i, text, _LANGS[i % len(_LANGS)], "src%d" % (i % 20),
                     len(text)))
    return rows


def write_parquet(rows, schema: pa.Schema, path: str) -> None:
    cols = list(zip(*rows))
    table = pa.table({f.name: pa.array(col, f.type)
                      for (f, col) in zip(schema, cols)}, schema=schema)
    pq.write_table(table, path)
