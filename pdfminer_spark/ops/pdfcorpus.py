"""End-to-end PDF-corpus curation: the §2 extraction engine feeding the
LLM-pipeline operators as ONE registered query (r4 verdict #6).

``curate_pdf_corpus`` runs the REAL extraction path (vendored reference
sample PDFs -> base64 transcripts -> ``extract_transcripts`` mapInPandas,
page 0, detect_vertical — the exact config the byte-parity goldens pin)
and then the curation chain over the extracted text:

  gopher quality metrics  ->  corpus-wide paragraph (10-word window)
  dedup accounting        ->  banded MinHash near-dup kill set
  ->  one verdict row per document.

The DuckDB oracle computes the identical chain over the VENDORED GOLDEN
TEXTS (fixtures/goldens/*.txt.ref, inlined as SQL literals so the oracle
needs no file access): because extraction is byte-equal to the goldens
(tests/test_goldens.py), Spark-over-extracted must equal DuckDB-over-
golden — the oracle therefore hard-checks extraction AND curation in one
row set.

Scale: extraction is the salted-repartition mapInPandas stage from the
main pipeline; every downstream step is the expression-level / banded
formulation of the corresponding standalone operator (no new shuffles
beyond theirs). Reference parity: the corpus is the reference's own
samples/ regression set (pdf2txt.py -p1 -V outputs).
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .curationops import _SQL_WORDS, _STOPWORDS, _WIN
from .textops import (_BANDS_CTE, _N_PERMS, minhash_pairs_frame,
                      minhash_sigs_frame)

_EST_DUP = 0.5  # est_jaccard threshold for the kill set


def _corpus_order():
    """Sample names ordered by golden path — the shared doc_id axis
    (Python sorted == DuckDB ORDER BY on identical ASCII strings)."""
    from ..spark.fixtures import GOLDEN_DIR, SAMPLE_NAMES

    return sorted(SAMPLE_NAMES,
                  key=lambda n: os.path.join(GOLDEN_DIR, n + ".txt.ref"))


def _pdf_docs(spark: SparkSession) -> DataFrame:
    """(doc_id, name, text): REAL extraction over the vendored PDFs."""
    from ..spark.fixtures import corpus_transcripts
    from ..spark.pipeline import extract_transcripts

    order = _corpus_order()
    tr = corpus_transcripts(spark)
    # 10 one-page docs: cap the fan-out (32 default shuffle partitions
    # would run a python task per mostly-empty partition, and each task
    # pays a fixed set-up cost in its reused worker) and
    # materialize via eager localCheckpoint — the frame feeds BOTH the
    # gopher/paragraph chain and the MinHash chain, and without the
    # checkpoint the PDF extraction would execute once per consumer
    ext = extract_transcripts(tr, page_numbers=[0], salt=2,
                              num_partitions=len(order))
    # name -> doc_id as a literal map lookup: same values the old 10-row
    # broadcast-joined mapping produced, without the BroadcastExchange
    # build job (r8)
    mapping = F.create_map(*[
        lit for (i, name) in enumerate(order)
        for lit in (F.lit(name), F.lit(i))])
    return (ext.select(
        F.element_at(mapping, F.col("conv_id")).cast("long").alias("doc_id"),
        F.col("conv_id").alias("name"), "text")
        .localCheckpoint(eager=True))


def curate_pdf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One verdict row per vendored sample PDF: gopher metrics over the
    extracted text, corpus-wide paragraph-dedup accounting, MinHash
    near-dup flag (pairwise keep-smallest — ``curate_near_dups`` owns
    the transitive-closure variant), and the final keep verdict.

    All denominators are GREATEST-guarded (simple2's page 0 extracts to
    a lone form feed -> 0 words) so no engine ever divides by zero or
    emits a NULL ratio. ``sf_dir`` is unused — the input is the vendored
    reference corpus itself."""
    d = _pdf_docs(spark)

    # gopher metrics (curationops.gopher_quality exprs, guarded denoms)
    w = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9']+"),
                 lambda x: x != "")
    n_words = F.size(w)
    denom = F.greatest(n_words, F.lit(1))
    mean_wl = F.round(F.length(F.concat_ws("", w)) / denom, 6)
    alpha = F.round(
        F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / denom, 6)
    stops = F.size(F.array_intersect(
        F.array_distinct(w), F.array(*[F.lit(s) for s in _STOPWORDS])))
    passes = ((n_words >= 20) & (mean_wl >= 3) & (mean_wl <= 10)
              & (alpha >= 0.8) & (stops >= 2))
    gopher = d.select(
        "doc_id", "name", w.alias("w"), n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"), alpha.alias("alpha_word_ratio"),
        stops.alias("n_stopwords"),
        passes.cast("boolean").alias("passes_gopher"))

    # paragraph (10-word window) dedup accounting, corpus-wide keep-first
    n = F.size(F.col("w"))
    idx = F.when(
        n >= 1, F.sequence(F.lit(0), F.floor((n - 1) / _WIN).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    paras = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("w"), i * _WIN + 1, _WIN),
                                    " "))
    e = gopher.select("doc_id", F.posexplode(paras).alias("pos", "para"))
    rn = F.row_number().over(
        Window.partitionBy(F.md5("para")).orderBy("doc_id", "pos"))
    pstats = (e.withColumn("rn", rn)
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_paras"),
                   F.sum((F.col("rn") > 1).cast("int")).alias("n_dup_paras")))

    # MinHash near-dup kill set (textops signature/banding, est >= 0.5)
    sigs = minhash_sigs_frame(
        d.select("doc_id", "text")).localCheckpoint(eager=True)
    pairs = minhash_pairs_frame(sigs)
    kill = (pairs.where(F.col("est_jaccard") >= _EST_DUP)
            .select(F.col("id_b").alias("doc_id")).distinct()
            .withColumn("minhash_dup", F.lit(True)))

    out = (gopher.drop("w")
           .join(pstats, "doc_id", "left")
           .join(kill, "doc_id", "left")
           .select(
               "doc_id", "name", "n_words", "mean_word_len",
               "alpha_word_ratio", "n_stopwords", "passes_gopher",
               F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
               F.coalesce("n_dup_paras", F.lit(0)).alias("n_dup_paras"),
               F.coalesce("minhash_dup", F.lit(False)).alias("minhash_dup"),
               (F.col("passes_gopher")
                & ~F.coalesce("minhash_dup", F.lit(False)))
               .cast("boolean").alias("keep")))
    return out


def _golden_documents_cte() -> str:
    """``documents(doc_id, name, text)`` VALUES CTE from the vendored
    golden texts — inlined literals, so the oracle runs with no file
    access in whatever sandbox the driver's DuckDB has."""
    from ..spark.fixtures import GOLDEN_DIR

    parts = []
    for i, name in enumerate(_corpus_order()):
        with open(os.path.join(GOLDEN_DIR, name + ".txt.ref"), "rb") as fp:
            text = fp.read().decode("utf-8")
        parts.append("(%d, '%s', '%s')"
                     % (i, name, text.replace("'", "''")))
    return ("documents(doc_id, name, text) AS (VALUES %s)"
            % ",\n        ".join(parts))


_AGREE = " + ".join("CASE WHEN sa.sig%d = sb.sig%d THEN 1 ELSE 0 END" % (j, j)
                    for j in range(_N_PERMS))

_STOP_LIST = "[" + ",".join("'%s'" % s for s in _STOPWORDS) + "]"


def _oracle() -> str:
    # _BANDS_CTE defines words/shingled/hx/hv/sigs/bands over a
    # `documents` relation — here our golden-text CTE shadows the
    # registered view, so the EXACT pinned minhash SQL applies unchanged
    bands = _BANDS_CTE.strip()
    assert bands.startswith("WITH ")
    return """
        WITH %(docs)s,
        %(bands)s,
        cw AS (
          SELECT doc_id, %(words)s AS w FROM documents
        ),
        gopher AS (
          SELECT doc_id,
                 LEN(w) AS n_words,
                 ROUND(COALESCE(LENGTH(ARRAY_TO_STRING(w, '')), 0)::DOUBLE
                       / GREATEST(LEN(w), 1), 6) AS mean_word_len,
                 ROUND(LEN(LIST_FILTER(w, x -> REGEXP_MATCHES(x, '[a-z]')))
                       ::DOUBLE / GREATEST(LEN(w), 1), 6)
                   AS alpha_word_ratio,
                 LEN(LIST_INTERSECT(LIST_DISTINCT(w), %(stops)s))
                   AS n_stopwords
          FROM cw
        ),
        paras AS (
          SELECT doc_id, i AS pos,
                 ARRAY_TO_STRING(w[i * %(win)d + 1 : i * %(win)d + %(win)d],
                                 ' ') AS para
          FROM cw, UNNEST(RANGE(0, ((LEN(w) - 1) // %(win)d) + 1)) AS t(i)
          WHERE LEN(w) >= 1
        ),
        ranked AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (PARTITION BY MD5(para)
                                    ORDER BY doc_id, pos) AS rn
          FROM paras
        ),
        pstats AS (
          SELECT doc_id, COUNT(*) AS n_paras,
                 SUM((rn > 1)::INT)::BIGINT AS n_dup_paras
          FROM ranked GROUP BY doc_id
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.doc_id < b.doc_id
        ),
        kill AS (
          SELECT DISTINCT id_b AS doc_id
          FROM cand JOIN sigs sa ON sa.doc_id = id_a
                    JOIN sigs sb ON sb.doc_id = id_b
          WHERE ROUND((%(agree)s)::DOUBLE / %(nperms)d, 4) >= %(thr)s
        )
        SELECT d.doc_id, d.name, g.n_words, g.mean_word_len,
               g.alpha_word_ratio, g.n_stopwords,
               (g.n_words >= 20 AND g.mean_word_len BETWEEN 3 AND 10
                AND g.alpha_word_ratio >= 0.8 AND g.n_stopwords >= 2)
                 AS passes_gopher,
               COALESCE(p.n_paras, 0) AS n_paras,
               COALESCE(p.n_dup_paras, 0) AS n_dup_paras,
               (k.doc_id IS NOT NULL) AS minhash_dup,
               ((g.n_words >= 20 AND g.mean_word_len BETWEEN 3 AND 10
                 AND g.alpha_word_ratio >= 0.8 AND g.n_stopwords >= 2)
                AND k.doc_id IS NULL) AS keep
        FROM documents d
        JOIN gopher g USING (doc_id)
        LEFT JOIN pstats p USING (doc_id)
        LEFT JOIN kill k USING (doc_id)
    """ % {
        "docs": _golden_documents_cte(),
        "bands": bands[len("WITH "):],
        "words": _SQL_WORDS,
        "stops": _STOP_LIST,
        "win": _WIN,
        "agree": _AGREE,
        "nperms": _N_PERMS,
        "thr": _EST_DUP,
    }


QUERIES = {"curate_pdf_corpus": curate_pdf_corpus}
ORACLES = {"curate_pdf_corpus": _oracle()}
