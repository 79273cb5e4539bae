"""Dataset-preparation operators over the ``documents`` table: the
training-data pipeline steps that sit between extraction/dedup and
tokenization — PII scrubbing, deterministic stratified sampling, and
context-window chunk packing. All JVM-side expressions (regex / array
slicing / hash arithmetic), each with a DuckDB oracle.

Regex dialect note: patterns stick to the syntax subset Java regex and
RE2 (DuckDB) interpret identically — character classes, bounded repeats,
alternation; no backreferences or lookarounds.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..spark.batches import map_rows
from .textops import _docs, _hex2int_sql, _hex2long

# -- PII scrubbing -----------------------------------------------------------------

_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PHONE = "[+]?[0-9][0-9() -]{7,14}[0-9]"
_IPV4 = ("[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}")


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / phone numbers / IPv4s with typed placeholders and
    report per-kind match counts (the audit trail a compliance pass
    needs). Order matters: emails first (their local parts can contain
    digits a phone pattern could eat), then IPs, then phones."""
    d = _docs(spark, sf_dir)
    n_emails = F.size(F.regexp_extract_all("text", F.lit(_EMAIL), F.lit(0)))
    step1 = F.regexp_replace("text", _EMAIL, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(step1, F.lit(_IPV4), F.lit(0)))
    step2 = F.regexp_replace(step1, _IPV4, "<IP>")
    n_phones = F.size(F.regexp_extract_all(step2, F.lit(_PHONE), F.lit(0)))
    step3 = F.regexp_replace(step2, _PHONE, "<PHONE>")
    return d.select(
        "doc_id",
        step3.alias("clean_text"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
    )


# -- stratified sampling --------------------------------------------------------------

# per-stratum keep-rate in percent; stratum = doc_id % 3 models a
# source-shard quality tier (common when mixing crawl snapshots)
_STRATA_RATES = (100, 50, 10)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling with per-stratum rates: keep a doc iff
    the first 32 bits of md5(doc_id) mod 100 fall under its stratum's
    rate. Content-derived, so re-runs and resumes select the identical
    sample on any cluster size — the property random() sampling lacks."""
    d = _docs(spark, sf_dir)
    stratum = (F.col("doc_id") % 3).cast("int")
    ticket = _hex2long(F.md5(F.col("doc_id").cast("string")), 1) % 100
    rate = (F.when(stratum == 0, _STRATA_RATES[0])
            .when(stratum == 1, _STRATA_RATES[1])
            .otherwise(_STRATA_RATES[2]))
    return (d.select("doc_id", stratum.alias("stratum"),
                     ticket.alias("ticket").cast("int"))
            .where(F.col("ticket") < rate))


# -- context-window chunk packing --------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 56  # 8-token overlap between consecutive chunks


def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping token windows (64 tokens,
    stride 56) — the packing step before tokenization. One explode over
    a per-doc chunk-index sequence; the window is an array slice, so no
    self-join and no Python.

    Scale: output rows ~= tokens/stride; the explode is map-side only
    (no shuffle at all — chunking composes with the scan)."""
    d = _docs(spark, sf_dir)
    words = F.filter(F.split(F.trim(F.col("text")), "\\s+"),
                     lambda w: w != "")
    n = F.size(words)
    n_chunks = F.floor((n - 1) / _CHUNK_STRIDE) + 1
    idx = F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    base = d.select("doc_id", words.alias("w"), idx.alias("chunk_idx")) \
            .where(F.size("w") > 0)
    chunk = F.slice("w", F.col("chunk_idx") * _CHUNK_STRIDE + 1,
                    _CHUNK_TOKENS)
    return base.select(
        "doc_id", "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


# -- temperature-based source mixing ---------------------------------------------------

def temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-T source mixing at T=2: per-source keep-rate
    proportional to sqrt(source size), normalized so the largest source
    keeps everything — the standard rare-source upsampling curve
    (multilingual/mixture training), expressed as deterministic hash
    sampling so any re-run or resume selects the identical subset.

    Cross-engine note: T is fixed at 2 because sqrt is CORRECTLY
    ROUNDED under IEEE-754 — both engines compute bit-identical rates —
    while a general pow(x, 1/T) may differ in the last ulp between
    libm implementations and flip a cutoff. The integer cutoff is
    round-half-up(100 * rate).

    Scale: one tiny per-group count aggregate (broadcast back), then a
    stateless map-side filter over the scan — no shuffle of documents.
    The driver corpus's source column is perfectly uniform (temperature
    sampling of equal sources is the identity), so the mixture group is
    derived with a skewed 60/30/10 split to make the curve observable;
    swap mix_group for the real source/language column in production."""
    d = _docs(spark, sf_dir)
    mix_group = (F.when(F.col("doc_id") % 10 < 6, "head")
                 .when(F.col("doc_id") % 10 < 9, "mid")
                 .otherwise("tail"))
    d = d.withColumn("mix_group", mix_group)
    counts = d.groupBy("mix_group").agg(F.count("*").alias("n_src"))
    max_n = counts.agg(F.max("n_src").alias("n_max"))
    rates = (counts.crossJoin(F.broadcast(max_n))
             .select("mix_group",
                     F.floor(F.lit(100.0) * F.sqrt(F.col("n_src"))
                             / F.sqrt(F.col("n_max")) + F.lit(0.5))
                     .cast("int").alias("cutoff")))
    ticket = (_hex2long(F.md5(F.col("doc_id").cast("string")), 1) % 100) \
        .cast("int")
    return (d.select("doc_id", "mix_group", ticket.alias("ticket"))
            .join(F.broadcast(rates), "mix_group")
            .where(F.col("ticket") < F.col("cutoff"))
            .select("doc_id", "mix_group", "ticket", "cutoff"))


# -- sequence packing (bin assignment) ------------------------------------------------

_SEQ_WINDOW = 512  # tokens per packed training sequence


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: concatenate documents in doc_id order
    and cut every _SEQ_WINDOW tokens; a document belongs to the bin its
    first token falls in (bin = exclusive-running-token-count //
    window). Emits per-bin stats (doc count, token total, fill ratio) —
    the packing-efficiency report a tokenization pipeline watches.

    Scale: packing is inherently sequential over a concatenation order,
    so it is SHARDED — the running sum is a window PARTITIONED BY the
    source shard (exactly how production packers parallelize); one
    shuffle on source, per-shard ordered scan, then a small groupBy."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda w: w != ""))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    binned = (d.select("source", "doc_id", n_tokens.alias("n_tokens"))
              .withColumn("bin_id",
                          F.floor(start / _SEQ_WINDOW).cast("int")))
    return (binned.groupBy("source", "bin_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("bin_tokens"),
                 F.round(F.sum("n_tokens") / F.lit(_SEQ_WINDOW), 4)
                 .alias("fill_ratio")))


# -- unicode -> ascii text normalization -------------------------------------------

# Mapping reproduced verbatim from the reference's normalization utility
# (tools/latin2ascii.py:14-106), including its 0x00f9 -> 'o`' quirk —
# parity over prettiness. Latin-1 accents/ligatures/typographic symbols
# to ASCII strings; unmapped codepoints pass through unchanged.
_LATIN2ASCII: dict[int, str] = {
    0x00C0: "A`", 0x00C1: "A'", 0x00C2: "A^", 0x00C3: "A~", 0x00C4: "A:",
    0x00C5: "A%", 0x00C6: "AE", 0x00C7: "C,", 0x00C8: "E`", 0x00C9: "E'",
    0x00CA: "E^", 0x00CB: "E:", 0x00CC: "I`", 0x00CD: "I'", 0x00CE: "I^",
    0x00CF: "I:", 0x00D0: "D'", 0x00D1: "N~", 0x00D2: "O`", 0x00D3: "O'",
    0x00D4: "O^", 0x00D5: "O~", 0x00D6: "O:", 0x00D8: "O/", 0x00D9: "U`",
    0x00DA: "U'", 0x00DB: "U~", 0x00DC: "U:", 0x00DD: "Y'", 0x00DF: "ss",
    0x00E0: "a`", 0x00E1: "a'", 0x00E2: "a^", 0x00E3: "a~", 0x00E4: "a:",
    0x00E5: "a%", 0x00E6: "ae", 0x00E7: "c,", 0x00E8: "e`", 0x00E9: "e'",
    0x00EA: "e^", 0x00EB: "e:", 0x00EC: "i`", 0x00ED: "i'", 0x00EE: "i^",
    0x00EF: "i:", 0x00F0: "d'", 0x00F1: "n~", 0x00F2: "o`", 0x00F3: "o'",
    0x00F4: "o^", 0x00F5: "o~", 0x00F6: "o:", 0x00F8: "o/", 0x00F9: "o`",
    0x00FA: "u'", 0x00FB: "u~", 0x00FC: "u:", 0x00FD: "y'", 0x00FF: "y:",
    0x0152: "OE", 0x0153: "oe", 0x0132: "IJ", 0x0133: "ij", 0x1D6B: "ue",
    0xFB00: "ff", 0xFB01: "fi", 0xFB02: "fl", 0xFB03: "ffi", 0xFB04: "ffl",
    0xFB05: "ft", 0xFB06: "st",
    0x2014: "--", 0x2015: "||", 0x2018: "`", 0x2019: "'",
    0x201C: "``", 0x201D: "''",
}

# the sf documents are pure ASCII, so the registered query first
# decorates deterministically: every 'and' becomes 'åñß×' — two
# accent-mapped chars, one ss-ligature, and one UNMAPPED char (×,
# 0x00d7) proving passthrough — then normalizes it back to ASCII.
_NORM_DECOR_FROM = "and"
_NORM_DECOR_TO = "åñß×"


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode -> ASCII normalization (reference tools/latin2ascii.py):
    map each Latin-1 accent / ligature / typographic symbol to its ASCII
    expansion, pass everything else through; report how many codepoints
    were mapped.

    Implementation is ONE pass, fully JVM-side: split to codepoints,
    look each up in a map literal (try_element_at — null-safe under
    ANSI), rejoin. No Python, no per-replacement regex scans (a chained
    regexp_replace per mapping entry would re-scan the string ~80x)."""
    d = _docs(spark, sf_dir)
    decorated = F.replace(F.col("text"), F.lit(_NORM_DECOR_FROM),
                          F.lit(_NORM_DECOR_TO))
    m = F.create_map(*[F.lit(x)
                       for cp, repl in sorted(_LATIN2ASCII.items())
                       for x in (chr(cp), repl)])
    chars = F.split(decorated, "")
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(chars, lambda c: F.coalesce(F.try_element_at(m, c), c)),
            "").alias("ascii_text"),
        F.size(F.filter(chars,
                        lambda c: F.try_element_at(m, c).isNotNull()))
        .alias("n_mapped"),
    )


# -- benchmark decontamination ---------------------------------------------------

_CONTAM_N = 8  # word n-gram size used for eval-set overlap


def _gram_hashes():
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda w: w != "")
    grams = F.when(
        F.size(words) >= _CONTAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (_CONTAM_N - 1)),
            lambda i: F.md5(F.array_join(F.slice(words, i, _CONTAM_N), " "))),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-8-gram with the held-out eval set (docs with doc_id % 100 == 7
    stand in for the benchmark suite). Output: contaminated docs with the
    overlapping-gram count and ratio.

    Scale shape: grams travel as md5 digests only; the eval-set gram
    table is small by construction (benchmarks are), so the membership
    test is a broadcast semi-ish join against the exploded training
    grams — never a text comparison, never a cross product."""
    d = _docs(spark, sf_dir)
    grams = d.select("doc_id", _gram_hashes().alias("grams"))
    bench = (grams.where(F.col("doc_id") % 100 == 7)
             .select(F.explode("grams").alias("gram")).distinct())
    train = (grams.where(F.col("doc_id") % 100 != 7)
             .select("doc_id", F.size("grams").alias("n_grams"),
                     F.explode("grams").alias("gram")))
    hits = (train.join(F.broadcast(bench), "gram")
            .groupBy("doc_id", "n_grams")
            .agg(F.count("*").alias("n_contaminated")))
    return hits.select(
        "doc_id", "n_grams", "n_contaminated",
        F.round(F.col("n_contaminated") /
                F.greatest(F.col("n_grams"), F.lit(1)), 4).alias("ratio"),
    )



_BLOOM_BITS = 8192   # m: 128 64-bit words (1 KiB) — benchmarks are small
_BLOOM_K = 3         # hash functions; fp ~ (1 - e^(-k*n/m))^k


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``contamination_check`` with a Bloom-filter PREFILTER — the shape
    that survives 100 TB: the eval-set gram Bloom (built relationally:
    k xxhash64 positions per gram -> explode -> groupBy(word) with a
    ``bit_or`` aggregate over 64-bit words, m/64 rows total) broadcasts
    at ~1 KiB regardless of eval-set size, and the full training-gram
    explode is reduced to Bloom survivors BEFORE any join against the
    eval table. An exact join then confirms survivors, so the output is
    PROVABLY identical to the exact operator (same oracle) — the Bloom
    only cuts the candidate volume, it never decides membership. False
    positives cost one extra row through the confirm join; at k=3,
    m=8192 and a few hundred eval grams the fp rate is ~0.3%.

    This is Spark's runtime bloom-join pushdown made explicit as a
    first-class, parameterized operator (the builtin is a planner
    heuristic that cannot be forced from the API)."""
    d = _docs(spark, sf_dir)
    grams = d.select("doc_id", _gram_hashes().alias("grams"))
    bench_grams = (grams.where(F.col("doc_id") % 100 == 7)
                   .select(F.explode("grams").alias("gram")).distinct())

    def positions(col):
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(_BLOOM_BITS))
                for i in range(_BLOOM_K)]

    # Bloom build: (word_idx, bit_or of 1<<bit) — m/64 rows
    pos = bench_grams.select(
        F.explode(F.array(*positions(F.col("gram")))).alias("p"))
    bit_expr = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
    bloom = (pos.select((F.col("p") / 64).cast("int").alias("widx"),
                        bit_expr.alias("bit"))
             .groupBy("widx").agg(F.bit_or("bit").alias("word")))

    # one-row broadcast MAP(word_idx -> word): every probe is a map
    # lookup, so the whole prefilter is MAP-SIDE — zero shuffle of
    # training grams (an explode -> groupBy membership test would
    # re-shuffle k x the gram volume for nothing)
    bloom_map = bloom.agg(F.map_from_entries(
        F.collect_list(F.struct("widx", "word"))).alias("bf"))
    train = (grams.where(F.col("doc_id") % 100 != 7)
             .select("doc_id", F.size("grams").alias("n_grams"),
                     F.explode("grams").alias("gram"))
             .crossJoin(F.broadcast(bloom_map)))
    hit = F.lit(True)
    for i in range(_BLOOM_K):
        p = f"pmod(xxhash64(gram, {i}), {_BLOOM_BITS})"
        word = f"coalesce(try_element_at(bf, CAST({p} / 64 AS INT)), 0)"
        bit = f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))"
        hit = hit & (F.expr(f"{word} & {bit}") != 0)
    survivors = (train.where(hit)
                 .select("doc_id", "n_grams", "gram"))
    # exact confirm: identical output contract to contamination_check
    hits = (survivors.join(F.broadcast(bench_grams), "gram")
            .groupBy("doc_id", "n_grams")
            .agg(F.count("*").alias("n_contaminated")))
    return hits.select(
        "doc_id", "n_grams", "n_contaminated",
        F.round(F.col("n_contaminated") /
                F.greatest(F.col("n_grams"), F.lit(1)), 4).alias("ratio"),
    )



_DSIR_BUCKETS = 1024  # hashed-bigram feature space (Xie et al. use 10^4)


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-bigram distribution is —
    log w(doc) = sum over its bigram occurrences of
    ln(p_target(bucket) / p_raw(bucket)), with add-1 smoothed bucket
    unigram models trained on the target slice (doc_id % 100 == 7, the
    same held-out stand-in the decontamination ops use) and the raw
    rest. High-weight docs are the ones importance resampling keeps.

    Determinism: buckets come from md5 hex arithmetic (engine-portable,
    like every hashed feature in this repo — DuckDB lacks xxhash64);
    per-bucket log-ratios quantize to fixed-point micro-units (BIGINT)
    before the per-doc SUM, so the score is exact integer arithmetic
    with no float-summation-order hazard. The quantized model table is
    computed ONCE on the driver (bounded: 1024 rows) with CPython's
    libm — Spark's JVM StrictMath.log differs from the glibc log DuckDB
    uses by an ulp at floor boundaries.

    Scale: bigram explode is map-side; two bucket-count aggregates over
    a fixed 1024-bucket space (tiny, broadcast); one per-doc groupBy.
    Deciles are VALUE-CUTOFF based like lm_perplexity's thirds (the r6
    verdict's no-corpus-wide-window rule applied here too — this op's
    global NTILE(10) was the same shape): log_weight is 4-decimal
    quantized with |log ratio| bounded by the smoothed count range, so
    the DISTINCT weight histogram is bounded at any corpus size; a
    bounded driver round-trip assigns each distinct weight the decile
    of its FIRST row under exact NTILE sizes (ties all take the better
    decile — deterministic, mirrored in the oracle), and the
    (weight -> decile) map broadcast-joins back. No global sort."""
    d = _docs(spark, sf_dir)
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda w: w != "")
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(words) - 1),
                    lambda i: F.concat_ws(" ", F.element_at(words, i),
                                          F.element_at(words, i + 1))),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select("doc_id", F.explode(bigrams).alias("bg"))
    bucket = (_hex2long(F.md5(F.col("bg")), 1)
              % _DSIR_BUCKETS).cast("int").alias("b")
    occ = base.select("doc_id", bucket,
                      (F.col("doc_id") % 100 == 7).alias("is_target"))
    # model fitting with a BOUNDED driver round-trip (the IVF-centroid
    # precedent: only the fixed 2 x 1024 count table ever reaches the
    # driver, exactly what MLlib does between iterations). The log-ratio
    # quantization happens in PYTHON, not in a Spark expression: Spark's
    # Log compiles to JVM StrictMath.log (fdlibm), which differs from
    # the glibc libm DuckDB and CPython share by an ulp often enough to
    # flip a floor at an integer boundary (observed once in 1024 buckets
    # at sf0.001) — computing w6 once on the driver gives BOTH engines
    # the identical table by construction.
    import math

    counts = (occ.groupBy("b").agg(
        F.sum(F.col("is_target").cast("int")).alias("ct"),
        F.sum((~F.col("is_target")).cast("int")).alias("cr"))
        .collect())  # <= _DSIR_BUCKETS rows, bounded
    tc = {r["b"]: r["ct"] for r in counts}
    rc = {r["b"]: r["cr"] for r in counts}
    nt = sum(tc.values())
    nr = sum(rc.values())
    w6_rows = [
        (b, math.floor(math.log(
            ((tc.get(b, 0) + 1) / (nt + _DSIR_BUCKETS))
            / ((rc.get(b, 0) + 1) / (nr + _DSIR_BUCKETS))) * 1e6))
        for b in range(_DSIR_BUCKETS)
    ]
    ratios = spark.createDataFrame(w6_rows, "b int, w6 long")
    scored = (occ.where(~F.col("is_target"))
              .join(F.broadcast(ratios), "b")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum("w6").alias("s6")))
    # final 4-decimal rounding in INTEGER micro-units (half away from
    # zero), then one exact division: Spark's round() goes through
    # BigDecimal.valueOf (shortest-decimal string) while DuckDB rounds
    # the raw double — they disagree exactly at displayed .5 boundaries,
    # observed on real s6 values. Integer arithmetic agrees everywhere.
    lw_e4 = F.expr(
        "CAST(sign(s6) AS BIGINT) * ((abs(s6) + 50) div 100)")
    log_w = lw_e4.cast("double") / F.lit(10000.0)
    scored = scored.select("doc_id", "n_bigrams",
                           log_w.alias("log_weight"))
    dmap = spark.createDataFrame(
        _weight_deciles(scored) or [(0.0, 1)],
        "log_weight double, weight_decile int")
    return (scored.join(F.broadcast(dmap), "log_weight")
            .select("doc_id", "n_bigrams", "log_weight", "weight_decile"))


def _weight_deciles(scored: DataFrame) -> list[tuple[float, int]]:
    """(distinct log_weight -> decile) map from the bounded histogram.

    Exact NTILE(10) bucket boundaries B_j = j*q + min(j, rem) with
    (q, rem) = divmod(n, 10); a distinct weight takes the decile of its
    FIRST row, i.e. the smallest j with cum_prev < B_j, which closed-
    form inverts to cum_prev // (q+1) + 1 inside the first rem buckets
    and rem + (cum_prev - rem*(q+1)) // q + 1 after them. Pure integer
    arithmetic — the oracle computes the identical formula in SQL."""
    hist = (scored.groupBy("log_weight").count()
            .orderBy(F.col("log_weight").desc())
            .collect())  # bounded: 4-decimal-quantized, range-bounded
    n = sum(r["count"] for r in hist)
    (q, rem) = divmod(n, 10)
    (rows, cum_prev) = ([], 0)
    for r in hist:
        if cum_prev < rem * (q + 1):
            dec = cum_prev // (q + 1) + 1
        else:
            dec = rem + (cum_prev - rem * (q + 1)) // q + 1
        rows.append((r["log_weight"], dec))
        cum_prev += r["count"]
    return rows



def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval decontamination with SPAN REMOVAL: where contamination_check
    only flags documents, this strips the offending text — every token
    covered by a word-8-gram that also appears in the held-out eval set
    (doc_id %% 100 == 7) is removed, and the document is reassembled from
    the surviving tokens in order. The published decontamination recipe
    for training corpora (flag -> excise, not flag -> drop the doc).

    Scale shape: grams travel as md5 digests; the eval gram set is
    broadcast-sized by construction; removal positions come from one
    join + one sequence explode (8 rows per hit), and reassembly is one
    ordered groupBy per doc. Never a text comparison, never O(n^2)."""
    d = _docs(spark, sf_dir)
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda w: w != "")
    base = d.select("doc_id", words.alias("w"))
    is_bench = F.col("doc_id") % 100 == 7
    gram_list = F.when(
        F.size("w") >= _CONTAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (_CONTAM_N - 1)),
            lambda i: F.md5(F.array_join(F.slice("w", i, _CONTAM_N), " "))),
    ).otherwise(F.array().cast("array<string>"))
    bench = (base.where(is_bench)
             .select(F.explode(gram_list).alias("gram")).distinct())
    tgrams = (base.where(~is_bench)
              .select("doc_id", F.posexplode(gram_list)
                      .alias("gi0", "gram")))
    hits = tgrams.join(F.broadcast(bench), "gram").select("doc_id", "gi0")
    pos = (hits.select(
        "doc_id",
        F.explode(F.sequence(F.col("gi0"),
                             F.col("gi0") + (_CONTAM_N - 1))).alias("p"))
        .distinct())
    toks = (base.where(~is_bench)
            .select("doc_id", F.posexplode("w").alias("p", "tok")))
    kept = (toks.join(pos, ["doc_id", "p"], "left_anti")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("p", "tok"))),
                         lambda s: s["tok"]), " ").alias("clean_text")))
    return (base.where(~is_bench)
            .select("doc_id", F.size("w").alias("n_tokens"))
            .join(kept, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
                    .cast("long").alias("n_removed"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))



_CONV_WINDOW = 256  # context-window token budget for conversation packing


def conversation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-aware context-window packing over the transcripts shape
    (the north-rule payload): turns of a conversation are packed in
    turn order into _CONV_WINDOW-token windows that NEVER mix
    conversations — a turn belongs to the pack its first token falls in
    (bin = exclusive-running-token-count // window), so a boundary turn
    spills into its open pack instead of being split mid-turn. Emits
    per-pack stats (turn span, token total, fill ratio) — what a
    chat-SFT tokenization pipeline materializes before batching.

    Transcripts view: the same deterministic documents->turns mapping
    the driver's extract_* queries use (conv = doc_id %% 50, 10 turns
    per conversation). Scale: one shuffle on conv_id, per-conversation
    ordered scan (windows never cross conv_id, so the running sum state
    is bounded by a conversation), small groupBy."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda w: w != ""))
    turns = d.select(
        F.concat(F.lit("conv-"), F.lpad((F.col("doc_id") % 50)
                                        .cast("string"), 4, "0"))
        .alias("conv_id"),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        n_tokens.alias("n_tokens"),
    )
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = turns.withColumn(
        "pack_id", F.floor(start / _CONV_WINDOW).cast("int"))
    return (packed.groupBy("conv_id", "pack_id")
            .agg(F.count("*").alias("n_turns"),
                 F.min("turn_idx").alias("turn_lo"),
                 F.max("turn_idx").alias("turn_hi"),
                 F.sum("n_tokens").alias("pack_tokens"),
                 F.round(F.sum("n_tokens") / F.lit(_CONV_WINDOW), 4)
                 .alias("fill_ratio")))



_SPLIT_PCT = (95, 4, 1)  # train / val / test


def holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (95/4/1) by md5 ticket:
    split membership is a pure function of doc_id, so it is identical on
    every cluster size, every re-run, and every snapshot append — the
    property that makes eval sets trustworthy (a random() split silently
    reshuffles membership between runs). Emits per-doc assignment plus
    the ticket for auditability.

    Scale: one scan, zero shuffles (the split is a projection)."""
    d = _docs(spark, sf_dir)
    ticket = _hex2long(F.md5(F.concat(F.lit("split#"),
                                      F.col("doc_id").cast("string"))),
                       1) % 100
    split = (F.when(ticket < _SPLIT_PCT[0], "train")
             .when(ticket < _SPLIT_PCT[0] + _SPLIT_PCT[1], "val")
             .otherwise("test"))
    return d.select("doc_id", ticket.cast("int").alias("ticket"),
                    split.alias("split"))


def turn_role_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation role accounting over the transcripts shape:
    turn counts by role (user/assistant/tool via turn_idx %% 3, the
    deterministic role rule of the documents->turns view), total tokens,
    and the tool-turn ratio — the conversation-mix dashboard an SFT
    pipeline watches before sampling.

    Scale: one groupBy(conv_id) with map-side partial aggregation."""
    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda w: w != ""))
    turns = d.select(
        F.concat(F.lit("conv-"), F.lpad((F.col("doc_id") % 50)
                                        .cast("string"), 4, "0"))
        .alias("conv_id"),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        n_tokens.alias("n_tokens"),
    ).withColumn(
        "role",
        F.element_at(F.array(F.lit("user"), F.lit("assistant"),
                             F.lit("tool")),
                     (F.col("turn_idx") % 3 + 1).cast("int")))
    return (turns.groupBy("conv_id")
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
                 .alias("n_user"),
                 F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
                 .alias("n_assistant"),
                 F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))
                 .alias("n_tool"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.round(F.sum(F.when(F.col("role") == "tool", 1)
                               .otherwise(0)) / F.count("*"), 4)
                 .alias("tool_ratio")))


def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation URL canonicalization (RFC 3986 case/port rules +
    the tracking-parameter strip every crawl pipeline applies): per
    document, a deterministically messy URL is synthesized from doc_id
    (mixed-case scheme/host, sometimes-default explicit port, utm_*
    tracking params in varying positions, optional fragment), then
    canonicalized by PARSING the raw string — lowercase scheme and
    host, drop the port iff it is the scheme's default, drop the
    fragment, drop utm_* params, sort the surviving query params.

    Scale: the entire op is JVM-side expressions (parse_url +
    higher-order array functions) on the scan partitions — zero
    shuffles, zero Python. The DuckDB oracle re-parses the same raw
    string with regexps and list functions, so cross-engine equality
    checks the normalization logic, not shared code."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.col("doc_id")
    scheme = F.element_at(
        F.array(F.lit("http"), F.lit("HTTP"), F.lit("https"),
                F.lit("HTTPS")), (k % 4 + 1).cast("int"))
    host = F.concat(F.lit("WWW.Example"), (k % 7).cast("string"),
                    F.lit(".COM"))
    port = F.element_at(
        F.array(F.lit(":80"), F.lit(":443"), F.lit(":8080"), F.lit("")),
        (k % 3 + 1).cast("int"))  # never "" -> every URL has a port
    path = F.concat(F.lit("/Docs/page"), (k % 50).cast("string"))
    query = F.element_at(F.array(
        F.lit("utm_source=feed&id=") ,
        F.lit("id="),
        F.lit("b=2&utm_campaign=x&a=1&id="),
    ), (k % 3 + 1).cast("int"))
    frag = F.when(k % 5 == 0, F.concat(F.lit("#sec"),
                                       (k % 9).cast("string"))
                  ).otherwise(F.lit(""))
    raw = F.concat(scheme, F.lit("://"), host, port, path, F.lit("?"),
                   query, (k % 97).cast("string"), frag)
    d = d.select("doc_id", raw.alias("url"))
    return d.select("doc_id", "url",
                    _url_canonical().alias("url_canonical"))


def _url_canonical(col: str = "url"):
    """RFC 3986 canonical form of a ``url`` string column: lowercase
    scheme/host, drop default ports and fragments, strip utm_* params,
    sort the survivors. Shared by url_canonicalize and dedup_url."""
    p = F.lower(F.parse_url(F.col(col), F.lit("PROTOCOL")))
    h = F.lower(F.parse_url(F.col(col), F.lit("HOST")))
    prt = F.regexp_extract(
        F.parse_url(F.col(col), F.lit("AUTHORITY")), ":(\\d+)$", 1)
    default = ((p == "http") & (prt == "80")) | \
        ((p == "https") & (prt == "443"))
    port_out = F.when(default | (prt == ""), F.lit("")).otherwise(
        F.concat(F.lit(":"), prt))
    pth = F.parse_url(F.col(col), F.lit("PATH"))
    q = F.coalesce(F.parse_url(F.col(col), F.lit("QUERY")), F.lit(""))
    params = F.array_sort(F.filter(
        F.split(q, "&"),
        lambda x: ~x.startswith("utm_") & (x != "")))
    qn = F.array_join(params, "&")
    return F.concat(
        p, F.lit("://"), h, port_out, pth,
        F.when(qn == "", F.lit("")).otherwise(F.concat(F.lit("?"), qn)))


def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the FIRST dedup stage of every crawl pipeline
    (CCNet / RefinedWeb both dedup on canonical URL before any content
    hashing, because re-crawls and tracking-param variants of one page
    are the cheapest duplicates to kill). Documents whose synthesized
    URLs canonicalize to the same RFC 3986 form (via ``_url_canonical``,
    the same parse url_canonicalize pins) are grouped; the lowest
    doc_id in each group is kept.

    The synthesis here is deliberately COARSER than url_canonicalize's
    (hosts mod 5, paths mod 7, ids mod 13 - a 455-key space, smaller than even the sf0.001 corpus, plus case / default-port /
    utm / fragment noise) so canonical collisions actually occur at
    test scale — the keep-one window and group counts are exercised on
    real multi-member groups, not a corpus of singletons.

    Scale shape: one window partitioned by canonical URL (the shuffle
    key IS the dedup key, so a giant duplicate group caps at its own
    partition and AQE skew-split handles a pathological one); no global
    sort, no driver round-trip."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.col("doc_id")
    scheme = F.element_at(
        F.array(F.lit("http"), F.lit("HTTP"), F.lit("Http"),
                F.lit("hTTp")), (k % 4 + 1).cast("int"))
    hostcase = F.element_at(
        F.array(F.lit("WWW.Example"), F.lit("www.example"),
                F.lit("Www.EXAMPLE")), (k % 3 + 1).cast("int"))
    host = F.concat(hostcase, (k % 5).cast("string"), F.lit(".com"))
    port = F.element_at(F.array(F.lit(":80"), F.lit("")),
                        (k % 2 + 1).cast("int"))
    path = F.concat(F.lit("/p"), (k % 7).cast("string"))
    query = F.element_at(F.array(
        F.lit("id="), F.lit("utm_source=feed&id="),
        F.lit("utm_campaign=x&utm_medium=y&id=")), (k % 3 + 1).cast("int"))
    frag = F.when(k % 5 == 0, F.lit("#frag")).otherwise(F.lit(""))
    raw = F.concat(scheme, F.lit("://"), host, port, path, F.lit("?"),
                   query, (k % 13).cast("string"), frag)
    d = (d.select("doc_id", raw.alias("url"))
         .select("doc_id", _url_canonical().alias("url_canonical")))
    w = Window.partitionBy("url_canonical")
    return d.select(
        "doc_id", "url_canonical",
        F.count("*").over(w).alias("n_dups"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_kept"))


_SHARD_BYTES = 4096


def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced byte-budgeted output sharding: assign every document a
    byte offset in the global (source, doc_id) order and a shard id
    ``offset div 4096`` — the packing step that turns a curated corpus
    into fixed-size training shards where a naive ``repartition(N)``
    balances row COUNTS, not bytes.

    Scale shape — the distributed prefix-sum pattern (the same shape
    that replaced lm_perplexity's global NTILE): the ONLY window is
    partitioned by source (one exchange); the cross-source offsets come
    from the per-source byte totals — a #sources-row aggregate collected
    and broadcast back (bounded driver round-trip, dsir precedent;
    at web scale with unbounded domains the same trick recurses:
    prefix-sum the totals table with one more partitioned level). No
    global sort or corpus-wide window anywhere."""
    d = _docs(spark, sf_dir)
    b = d.select("doc_id", "source",
                 F.octet_length("text").cast("long").alias("n_bytes"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    within = F.coalesce(F.sum("n_bytes").over(w), F.lit(0).cast("long"))
    totals = sorted(
        (r["source"], int(r["t"])) for r in
        b.groupBy("source").agg(F.sum("n_bytes").alias("t")).collect())
    offs, acc = [], 0
    for (src, t) in totals:
        offs.append((src, acc))
        acc += t
    off = F.broadcast(spark.createDataFrame(
        offs, "source string, src_off long"))
    return (b.join(off, "source")
            .select("doc_id", "source", "n_bytes",
                    (F.col("src_off") + within).alias("global_start"))
            .withColumn("shard_id",
                        F.expr("global_start div %d" % _SHARD_BYTES)))


_DECOMP_CAP = 1 << 24  # 16 MiB recovered bytes per payload


class PayloadError(ValueError):
    """Malformed, unknown-magic, truncated, or bomb compressed payload."""


def decompress_payload(b: bytes, cap: int = _DECOMP_CAP) -> tuple[str, bytes]:
    """Sniff + bounded-decompress one compressed payload cell: gzip
    (RFC 1952), raw zlib (RFC 1950, header-checksum sniff), bzip2, and
    xz — the containers web-crawl corpora actually arrive in, all on
    stdlib codecs. Returns ``(format, recovered_bytes)``.

    Hostile-input bounds: decompression goes through the streaming
    decompressor objects with ``max_length`` so a decompression bomb
    (a few KB expanding to GBs) raises at the cap without ever
    allocating past it; truncated streams (no EOF marker) raise rather
    than return partial data."""
    import bz2
    import lzma
    import zlib

    if b[:2] == b"\x1f\x8b":
        (fmt, d) = ("gzip", zlib.decompressobj(wbits=16 + zlib.MAX_WBITS))
    elif b[:3] == b"BZh" and b[3:4].isdigit():
        (fmt, d) = ("bz2", bz2.BZ2Decompressor())
    elif b[:6] == b"\xfd7zXZ\x00":
        (fmt, d) = ("xz", lzma.LZMADecompressor(format=lzma.FORMAT_XZ))
    elif (len(b) >= 2 and b[0] == 0x78
          and ((b[0] << 8) | b[1]) % 31 == 0):
        (fmt, d) = ("zlib", zlib.decompressobj())
    else:
        raise PayloadError("unknown compression magic")
    try:
        out = d.decompress(b, cap + 1)
        # concatenated members (warc.gz writes ONE gzip member per
        # record; bzip2/xz multi-stream files exist too): keep inflating
        # trailing members under the same total cap
        while (fmt != "zlib" and d.eof and d.unused_data
               and len(out) <= cap):
            rest = d.unused_data
            if fmt == "gzip":
                d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
            elif fmt == "bz2":
                d = bz2.BZ2Decompressor()
            else:
                d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            out += d.decompress(rest, cap + 1 - len(out))
    except (zlib.error, OSError, lzma.LZMAError, EOFError, ValueError) as e:
        raise PayloadError("corrupt %s stream: %s" % (fmt, e))
    if len(out) > cap:
        raise PayloadError("%s payload exceeds %d-byte cap" % (fmt, cap))
    if not d.eof:
        raise PayloadError("truncated %s stream" % fmt)
    return (fmt, out)


def payload_decompress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded payload decompression under the driver's oracle gate:
    per document, compress the text executor-side with a
    doc_id-selected codec (gzip / raw zlib / bzip2 / xz), then sniff +
    decompress it back through ``decompress_payload`` and emit the
    detected format, recovered length, and an md5 of the recovered
    bytes. The oracle recomputes format/length/md5 from the original
    text alone — a wrong sniff, a partial decompress, or any cap slip
    is a visible hash mismatch.

    Scale: one map-side stage after the round-robin spread to the
    session parallelism (``_docs`` — the per-row bz2/lzma work is
    CPU-heavy);
    per-payload memory is bounded by the 16 MiB cap regardless of what
    the compressed bytes claim."""
    import bz2
    import hashlib
    import lzma
    import zlib

    def per_row(doc_id, text):
        raw = text.encode("utf-8")
        k = doc_id % 4
        # r8: fastest effort levels — the payload synthesis is fixture
        # work, and the query's OUTPUT (fmt, length, md5 of the
        # decompressed bytes) is independent of the compressor's
        # effort; the decompressor still sees a genuine gzip/zlib/bz2/xz
        # stream either way
        if k == 0:
            c = zlib.compressobj(1, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            payload = c.compress(raw) + c.flush()
        elif k == 1:
            payload = zlib.compress(raw, 1)
        elif k == 2:
            payload = bz2.compress(raw, 1)
        else:
            payload = lzma.compress(raw, format=lzma.FORMAT_XZ, preset=0)
        (fmt, out) = decompress_payload(payload)
        return ([doc_id], [fmt], [len(out)], [hashlib.md5(out).hexdigest()])

    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), per_row,
                    "doc_id long, fmt string, orig_len int, text_md5 string")


def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain mixture weights (Xie et al. 2023, simplified
    to the uniform-target case): per source domain, token mass and the
    resampling weight that equalizes the token distribution —
    weight = target_share / actual_share, reported in exact integer
    micro-units ((total_tokens * 1e6) div (n_sources * source_tokens))
    so no cross-engine float enters the mix table. The weight table is
    what temperature_sample / source_quota_sample consume upstream.

    Scale: ONE map-side-combined exchange keyed by source (domain
    cardinality, not corpus size), then a one-row total broadcast back
    over the tiny per-source frame. int64 bound: total_tokens * 1e6
    holds to ~9e12 tokens; production swaps the constant for the
    equivalent cross-multiplication at larger scales."""
    d = _docs(spark, sf_dir)
    per = (d.select("source",
                    F.size(F.split("text", " ")).cast("long")
                     .alias("n_tok"))
           .groupBy("source")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("n_tok").alias("source_tokens")))
    tot = per.agg(F.sum("source_tokens").alias("total_tokens"),
                  F.count("*").cast("long").alias("n_sources"))
    return (per.crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "source_tokens",
                    F.expr("(total_tokens * 1000000)"
                           " div (n_sources * source_tokens)")
                     .alias("weight_e6")))


def nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multinomial Naive Bayes over the documents table —
    the quality/domain-classifier shape (CCNet's LM bucketing and
    fastText-style source classifiers are this plan with bigger
    feature maps): train token-given-class and class-prior statistics
    with ONE aggregation each, fit the add-1-smoothed integer log
    table DRIVER-side with CPython math.log (the lm_perplexity/dsir
    precedent — Spark's fdlibm F.log differs from glibc by an ulp at
    FLOOR boundaries), broadcast the (token, class, lp6) table back,
    and argmax-score every document with a sum aggregation. All
    arithmetic after the table fit is exact BIGINT.

    Tie rule: max (score6, class) lexicographic — identical struct-max
    semantics in Spark and (ORDER BY score6 DESC, class DESC LIMIT 1)
    in the oracle.

    Scale: the trained table is |vocabulary| x |classes| rows —
    bounded by the feature space, never the corpus (broadcast build
    side); scoring is one explode + broadcast join + ONE
    map-side-combined aggregation keyed by (doc, class), then a
    groupBy(doc) struct-max. The driver round-trip is the bounded
    table, not data."""
    import math

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", "source",
                    F.explode(F.split("text", " ")).alias("tok"))
    # training statistics: one aggregation each, all tiny outputs
    tc = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("n_tc")).collect()
    cls = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs")).collect()
    vocab = sorted({r["tok"] for r in tc})
    v = len(vocab)
    n_total = sum(r["n_docs"] for r in cls)
    tok_counts = {(r["source"], r["tok"]): r["n_tc"] for r in tc}
    cls_tokens = {}
    for r in tc:
        cls_tokens[r["source"]] = cls_tokens.get(r["source"], 0) + r["n_tc"]

    def lp6(num: int, den: int) -> int:
        return (math.floor(math.log(num) * 1e6)
                - math.floor(math.log(den) * 1e6))

    rows = []
    for c in sorted(cls_tokens):
        den = cls_tokens[c] + v
        for t in vocab:
            rows.append((c, t,
                         lp6(tok_counts.get((c, t), 0) + 1, den)))
    table = spark.createDataFrame(
        rows, "cls string, tok string, lp6 long")
    priors = spark.createDataFrame(
        [(r["source"], lp6(int(r["n_docs"]), n_total)) for r in cls],
        "cls string, prior6 long")

    scored = (toks.join(F.broadcast(table), "tok")
              .groupBy("doc_id", "cls")
              .agg(F.sum("lp6").alias("s6"))
              .join(F.broadcast(priors), "cls")
              .select("doc_id", "cls",
                      (F.col("s6") + F.col("prior6")).alias("score6")))
    best = (scored.groupBy("doc_id")
            .agg(F.max(F.struct("score6", "cls")).alias("b")))
    return (best.join(d.select("doc_id", "source"), "doc_id")
            .select("doc_id",
                    F.col("b")["cls"].alias("predicted"),
                    F.col("b")["score6"].alias("score6"),
                    (F.col("b")["cls"] == F.col("source")).cast("int")
                     .alias("correct")))


ORACLES: dict[str, str] = {
    "shard_assign": """
        WITH b AS (
          SELECT doc_id, source, STRLEN(text)::BIGINT AS n_bytes
          FROM documents
        ), g AS (
          SELECT doc_id, source, n_bytes,
                 COALESCE(SUM(n_bytes) OVER (
                   ORDER BY source, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS global_start
          FROM b
        )
        SELECT doc_id, source, n_bytes, global_start,
               (global_start // %d)::BIGINT AS shard_id
        FROM g
    """ % _SHARD_BYTES,
    "contamination_check": """
        WITH grams AS (
          SELECT doc_id,
                 LIST_DISTINCT(CASE WHEN LEN(w) >= {n}
                   THEN [MD5(ARRAY_TO_STRING(w[i : i + {n} - 1], ' '))
                         FOR i IN RANGE(1, LEN(w) - {n} + 2)]
                   ELSE [] END) AS grams
          FROM (SELECT doc_id,
                       LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text),
                                   '[^a-z0-9]+'), x -> x <> '') AS w
                FROM documents)
        ), bench AS (
          SELECT DISTINCT UNNEST(grams) AS gram
          FROM grams WHERE doc_id % 100 = 7
        ), train AS (
          SELECT doc_id, LEN(grams) AS n_grams, UNNEST(grams) AS gram
          FROM grams WHERE doc_id % 100 <> 7
        )
        SELECT doc_id, n_grams, COUNT(*) AS n_contaminated,
               ROUND(COUNT(*)::DOUBLE / GREATEST(n_grams, 1), 4) AS ratio
        FROM train JOIN bench USING (gram)
        GROUP BY doc_id, n_grams
    """.format(n=_CONTAM_N),
    "pii_scrub": """
        WITH s1 AS (
          SELECT doc_id, text,
                 LEN(REGEXP_EXTRACT_ALL(text, '{email}')) AS n_emails,
                 REGEXP_REPLACE(text, '{email}', '<EMAIL>', 'g') AS t1
          FROM documents
        ), s2 AS (
          SELECT doc_id, n_emails,
                 LEN(REGEXP_EXTRACT_ALL(t1, '{ip}')) AS n_ips,
                 REGEXP_REPLACE(t1, '{ip}', '<IP>', 'g') AS t2
          FROM s1
        )
        SELECT doc_id,
               REGEXP_REPLACE(t2, '{phone}', '<PHONE>', 'g') AS clean_text,
               n_emails, n_ips,
               LEN(REGEXP_EXTRACT_ALL(t2, '{phone}')) AS n_phones
        FROM s2
    """.format(email=_EMAIL, ip=_IPV4, phone=_PHONE),
    "stratified_sample": """
        WITH t AS (
          SELECT doc_id, (doc_id %% 3)::INT AS stratum,
                 (%s %% 100)::INT AS ticket
          FROM documents
        )
        SELECT doc_id, stratum, ticket
        FROM t
        WHERE ticket < CASE stratum WHEN 0 THEN %d WHEN 1 THEN %d
                                    ELSE %d END
    """ % ((_hex2int_sql("MD5(doc_id::VARCHAR)", 1),) + _STRATA_RATES),
    "pack_chunks": """
        WITH w AS (
          SELECT doc_id,
                 LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\\s+'),
                             x -> x <> '') AS w
          FROM documents
        ), idx AS (
          SELECT doc_id, w,
                 UNNEST(RANGE(0, FLOOR((LEN(w) - 1) / {stride})::BIGINT + 1))
                   AS chunk_idx
          FROM w WHERE LEN(w) > 0
        )
        SELECT doc_id, chunk_idx::INT AS chunk_idx,
               ARRAY_TO_STRING(w[chunk_idx * {stride} + 1 :
                                 chunk_idx * {stride} + {size}], ' ')
                 AS chunk_text,
               LEN(w[chunk_idx * {stride} + 1 :
                     chunk_idx * {stride} + {size}]) AS n_tokens
        FROM idx
    """.format(stride=_CHUNK_STRIDE, size=_CHUNK_TOKENS),
}

ORACLES["domain_mix"] = """
    WITH per AS (
      SELECT source, COUNT(*)::BIGINT AS n_docs,
             SUM(LEN(STRING_SPLIT(text, ' ')))::BIGINT AS source_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(source_tokens)::BIGINT AS total_tokens,
             COUNT(*)::BIGINT AS n_sources
      FROM per
    )
    SELECT source, n_docs, source_tokens,
           (total_tokens * 1000000) // (n_sources * source_tokens)
             AS weight_e6
    FROM per, tot
"""

ORACLES["nb_classifier"] = """
    WITH toks AS (
      SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      FROM documents
    ), tc AS (
      SELECT source AS cls, tok, COUNT(*)::BIGINT AS n_tc
      FROM toks GROUP BY source, tok
    ), vocab AS (SELECT DISTINCT tok FROM toks),
    classes AS (
      SELECT source AS cls, COUNT(*)::BIGINT AS n_docs
      FROM documents GROUP BY source
    ), cls_tok AS (
      SELECT cls, SUM(n_tc)::BIGINT AS n_c FROM tc GROUP BY cls
    ), tbl AS (
      SELECT ct.cls, vv.tok,
             (FLOOR(LN(COALESCE(t.n_tc, 0) + 1) * 1000000)
              - FLOOR(LN(ct.n_c + (SELECT COUNT(*) FROM vocab))
                      * 1000000))::BIGINT AS lp6
      FROM cls_tok ct CROSS JOIN vocab vv
      LEFT JOIN tc t ON t.cls = ct.cls AND t.tok = vv.tok
    ), priors AS (
      SELECT cls,
             (FLOOR(LN(n_docs) * 1000000)
              - FLOOR(LN((SELECT SUM(n_docs) FROM classes))
                      * 1000000))::BIGINT AS prior6
      FROM classes
    ), scored AS (
      SELECT k.doc_id, tbl.cls,
             SUM(tbl.lp6)::BIGINT + ANY_VALUE(p.prior6) AS score6
      FROM toks k
      JOIN tbl ON tbl.tok = k.tok
      JOIN priors p ON p.cls = tbl.cls
      GROUP BY k.doc_id, tbl.cls
    ), best AS (
      SELECT doc_id, cls AS predicted, score6,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score6 DESC, cls DESC) AS rn
      FROM scored
    )
    SELECT b.doc_id, b.predicted, b.score6,
           (CASE WHEN b.predicted = d.source THEN 1 ELSE 0 END)::INT
             AS correct
    FROM best b JOIN documents d ON b.doc_id = d.doc_id
    WHERE rn = 1
"""

ORACLES["decontaminate_spans"] = """
    WITH base AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents
    ), bench AS (
      SELECT DISTINCT UNNEST(
        CASE WHEN LEN(w) >= 8
          THEN [MD5(ARRAY_TO_STRING(w[i : i + 7], ' '))
                FOR i IN RANGE(1, LEN(w) - 6)]
          ELSE [] END) AS gram
      FROM base WHERE doc_id % 100 = 7
    ), tg AS (
      SELECT doc_id, UNNEST(
        CASE WHEN LEN(w) >= 8
          THEN [{'gi': i - 1,
                 'g': MD5(ARRAY_TO_STRING(w[i : i + 7], ' '))}
                FOR i IN RANGE(1, LEN(w) - 6)]
          ELSE [] END) AS u
      FROM base WHERE doc_id % 100 <> 7
    ), hits AS (
      SELECT DISTINCT t.doc_id, t.u.gi AS gi0
      FROM tg t JOIN bench b ON t.u.g = b.gram
    ), pos AS (
      SELECT DISTINCT doc_id, UNNEST(RANGE(gi0, gi0 + 8)) AS p
      FROM hits
    ), toks AS (
      SELECT doc_id, UNNEST([{'p': i - 1, 'tok': w[i]}
                             FOR i IN RANGE(1, LEN(w) + 1)]) AS u
      FROM base WHERE doc_id % 100 <> 7
    ), kept AS (
      SELECT t.doc_id, t.u.p AS p, t.u.tok AS tok
      FROM toks t LEFT JOIN pos ON t.doc_id = pos.doc_id AND t.u.p = pos.p
      WHERE pos.p IS NULL
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             STRING_AGG(tok, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, LEN(b.w) AS n_tokens,
           LEN(b.w) - COALESCE(a.n_kept, 0) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM base b LEFT JOIN agg a USING (doc_id)
    WHERE b.doc_id % 100 <> 7
"""

# Bloom prefilter + exact confirm == the exact operator, row for row —
# the oracle is therefore contamination_check's, verbatim
ORACLES["contamination_bloom"] = ORACLES["contamination_check"]

ORACLES["dsir_weights"] = """
    WITH w AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents
    ), bg AS (
      SELECT doc_id, doc_id %% 100 = 7 AS is_target,
             UNNEST(CASE WHEN LEN(w) >= 2
               THEN [w[i] || ' ' || w[i+1] FOR i IN RANGE(1, LEN(w))]
               ELSE [] END) AS g
      FROM w
    ), occ AS (
      SELECT doc_id, is_target, (%(h)s) %% %(B)d AS b
      FROM (SELECT doc_id, is_target, MD5(g) AS hx FROM bg)
    ), tcnt AS (
      SELECT b, COUNT(*) AS ct FROM occ WHERE is_target GROUP BY b
    ), rcnt AS (
      SELECT b, COUNT(*) AS cr FROM occ WHERE NOT is_target GROUP BY b
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM occ WHERE is_target) AS nt,
             (SELECT COUNT(*) FROM occ WHERE NOT is_target) AS nr
    ), ratios AS (
      SELECT s.b,
             CAST(FLOOR(LN(
               ((COALESCE(ct, 0) + 1)::DOUBLE / (nt + %(B)d))
               / ((COALESCE(cr, 0) + 1)::DOUBLE / (nr + %(B)d))) * 1000000)
               AS BIGINT) AS w6
      FROM (SELECT UNNEST(RANGE(0, %(B)d)) AS b) s
      LEFT JOIN tcnt USING (b) LEFT JOIN rcnt USING (b), tot
    ), scored AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, SUM(w6)::BIGINT AS s6
      FROM occ JOIN ratios USING (b)
      WHERE NOT is_target GROUP BY doc_id
    ), lw AS (
      SELECT doc_id, n_bigrams,
             (SIGN(s6)::BIGINT * ((ABS(s6) + 50) // 100))::DOUBLE / 10000
               AS log_weight
      FROM scored
    ), hist AS (
      SELECT log_weight AS lwv, COUNT(*) AS m FROM lw GROUP BY lwv
    ), cum AS (
      SELECT lwv,
             COALESCE(SUM(m) OVER (ORDER BY lwv DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev
      FROM hist
    ), nn AS (
      SELECT COUNT(*) // 10 AS q, COUNT(*) %% 10 AS rem FROM lw
    ), bmap AS (
      -- same value-cutoff decile rule as the Spark op (_weight_deciles):
      -- a distinct weight takes the decile of its first row under exact
      -- NTILE(10) sizes; ties all take the better decile
      SELECT lwv,
             CASE WHEN cum_prev < rem * (q + 1)
                  THEN cum_prev // (q + 1) + 1
                  ELSE rem + (cum_prev - rem * (q + 1)) // GREATEST(q, 1) + 1
             END::INT AS weight_decile
      FROM cum, nn
    )
    SELECT doc_id, n_bigrams, log_weight, weight_decile
    FROM lw JOIN bmap ON lw.log_weight = bmap.lwv
""" % {"h": _hex2int_sql("hx", 1), "B": _DSIR_BUCKETS}

ORACLES["conversation_pack"] = """
    WITH turns AS (
      SELECT 'conv-' || LPAD((doc_id % 50)::VARCHAR, 4, '0') AS conv_id,
             (doc_id // 50)::INT AS turn_idx,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
      FROM documents
    ), binned AS (
      SELECT conv_id, turn_idx, n_tokens,
             CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 256) AS INT) AS pack_id
      FROM turns
    )
    SELECT conv_id, pack_id, COUNT(*) AS n_turns,
           MIN(turn_idx) AS turn_lo, MAX(turn_idx) AS turn_hi,
           SUM(n_tokens)::BIGINT AS pack_tokens,
           ROUND(SUM(n_tokens)::DOUBLE / 256, 4) AS fill_ratio
    FROM binned GROUP BY conv_id, pack_id
"""

ORACLES["holdout_split"] = """
    SELECT doc_id,
           CAST(t AS INT) AS ticket,
           CASE WHEN t < 95 THEN 'train'
                WHEN t < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 %s %% 100 AS t
          FROM documents)
""" % _hex2int_sql("MD5('split#' || doc_id::VARCHAR)", 1)

ORACLES["turn_role_stats"] = """
    WITH turns AS (
      SELECT 'conv-' || LPAD((doc_id % 50)::VARCHAR, 4, '0') AS conv_id,
             (doc_id // 50)::INT AS turn_idx,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
      FROM documents
    ), r AS (
      SELECT conv_id, turn_idx, n_tokens,
             ['user', 'assistant', 'tool'][(turn_idx % 3) + 1] AS role
      FROM turns
    )
    SELECT conv_id, COUNT(*) AS n_turns,
           SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT
             AS n_user,
           SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT
             AS n_assistant,
           SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)::BIGINT
             AS n_tool,
           SUM(n_tokens)::BIGINT AS total_tokens,
           ROUND(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS tool_ratio
    FROM r GROUP BY conv_id
"""

ORACLES["temperature_sample"] = """
    WITH grouped AS (
      SELECT doc_id,
             CASE WHEN doc_id %% 10 < 6 THEN 'head'
                  WHEN doc_id %% 10 < 9 THEN 'mid'
                  ELSE 'tail' END AS mix_group
      FROM documents
    ), counts AS (
      SELECT mix_group, COUNT(*) AS n_src FROM grouped GROUP BY mix_group
    ), rates AS (
      SELECT mix_group,
             FLOOR(100.0 * SQRT(n_src) /
                   SQRT((SELECT MAX(n_src) FROM counts)) + 0.5)::INT
               AS cutoff
      FROM counts
    ), tickets AS (
      SELECT doc_id, mix_group,
             (%s %% 100)::INT AS ticket
      FROM grouped
    )
    SELECT doc_id, t.mix_group, ticket, cutoff
    FROM tickets t JOIN rates r ON t.mix_group = r.mix_group
    WHERE ticket < cutoff
""" % _hex2int_sql("MD5(doc_id::VARCHAR)", 1)

ORACLES["pack_sequences"] = """
    WITH toks AS (
      SELECT source, doc_id,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), binned AS (
      SELECT source, doc_id, n_tokens,
             (COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // %(w)d)::INT AS bin_id
      FROM toks
    )
    SELECT source, bin_id, COUNT(*) AS n_docs,
           SUM(n_tokens)::BIGINT AS bin_tokens,
           ROUND(SUM(n_tokens)::DOUBLE / %(w)d, 4) AS fill_ratio
    FROM binned GROUP BY source, bin_id
""" % {"w": _SEQ_WINDOW}

ORACLES["normalize_text"] = """
    WITH mapping(src, dst) AS (VALUES %(values)s),
    dec AS (
      SELECT doc_id, REPLACE(text, '%(dfrom)s', '%(dto)s') AS t
      FROM documents
    ), chars AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(t, '')) AS c,
             GENERATE_SUBSCRIPTS(STRING_SPLIT(t, ''), 1) AS i
      FROM dec
    )
    SELECT doc_id,
           STRING_AGG(COALESCE(dst, c), '' ORDER BY i) AS ascii_text,
           SUM(CASE WHEN dst IS NULL THEN 0 ELSE 1 END)::INT AS n_mapped
    FROM chars LEFT JOIN mapping ON c = src
    GROUP BY doc_id
""" % {
    "values": ", ".join(
        "('%s', '%s')" % (chr(cp), repl.replace("'", "''"))
        for cp, repl in sorted(_LATIN2ASCII.items())),
    "dfrom": _NORM_DECOR_FROM,
    "dto": _NORM_DECOR_TO,
}

# shared RFC 3986 canonicalization SQL (expects a CTE `u(doc_id, url)`
# to be in scope) — the DuckDB twin of _url_canonical()
_SQL_URL_CANON = """parts AS (
      SELECT doc_id, url,
        LOWER(REGEXP_EXTRACT(url, '^([^:]+)://', 1)) AS scheme,
        LOWER(REGEXP_EXTRACT(url, '://([^/:?#]+)', 1)) AS host,
        REGEXP_EXTRACT(url, '://[^/:?#]+:([0-9]+)', 1) AS port,
        REGEXP_EXTRACT(url, '://[^/?#]+(/[^?#]*)', 1) AS path,
        ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(
          STR_SPLIT(REGEXP_EXTRACT(url, '\\?([^#]*)', 1), '&'),
          x -> NOT REGEXP_MATCHES(x, '^utm_') AND x <> '')), '&') AS qn
      FROM u
    ), canon AS (
      SELECT doc_id, url,
             scheme || '://' || host
             || CASE WHEN port = ''
                       OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')
                     THEN '' ELSE ':' || port END
             || path
             || CASE WHEN qn = '' THEN '' ELSE '?' || qn END
               AS url_canonical
      FROM parts
    )"""

ORACLES["url_canonicalize"] = f"""
    WITH u AS (
      SELECT doc_id,
        (['http','HTTP','https','HTTPS'])[(doc_id % 4 + 1)::INT]
          || '://WWW.Example' || (doc_id % 7) || '.COM'
          || ([':80',':443',':8080',''])[(doc_id % 3 + 1)::INT]
          || '/Docs/page' || (doc_id % 50)
          || '?'
          || (['utm_source=feed&id=','id=','b=2&utm_campaign=x&a=1&id='])
               [(doc_id % 3 + 1)::INT]
          || (doc_id % 97)
          || CASE WHEN doc_id % 5 = 0 THEN '#sec' || (doc_id % 9)
                  ELSE '' END AS url
      FROM documents
    ), {_SQL_URL_CANON}
    SELECT doc_id, url, url_canonical FROM canon
"""

ORACLES["dedup_url"] = f"""
    WITH u AS (
      SELECT doc_id,
        (['http','HTTP','Http','hTTp'])[(doc_id % 4 + 1)::INT]
          || '://'
          || (['WWW.Example','www.example','Www.EXAMPLE'])
               [(doc_id % 3 + 1)::INT]
          || (doc_id % 5) || '.com'
          || ([':80',''])[(doc_id % 2 + 1)::INT]
          || '/p' || (doc_id % 7)
          || '?'
          || (['id=','utm_source=feed&id=',
               'utm_campaign=x&utm_medium=y&id='])[(doc_id % 3 + 1)::INT]
          || (doc_id % 13)
          || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
      FROM documents
    ), {_SQL_URL_CANON}
    SELECT doc_id, url_canonical,
           COUNT(*) OVER (PARTITION BY url_canonical) AS n_dups,
           doc_id = MIN(doc_id) OVER (PARTITION BY url_canonical)
             AS is_kept
    FROM canon
"""

def repair_mojibake(s: str, max_rounds: int = 4) -> tuple[str, int]:
    """Undo UTF-8-read-as-latin-1 mojibake ('é' shown as 'Ã©'),
    iteratively for double-encoded text: while the string survives a
    latin-1 encode and decodes as STRICTLY valid UTF-8 to something
    different, peel one layer. Pure-ASCII and already-clean text pass
    through untouched in 0 rounds; the round cap bounds adversarial
    inputs. Returns ``(repaired, rounds_peeled)``."""
    rounds = 0
    while rounds < max_rounds:
        try:
            b = s.encode("latin-1")
            d = b.decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            break
        if d == s:
            break
        s = d
        rounds += 1
    return (s, rounds)


def encoding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair under the driver's oracle gate: per document,
    plant a non-ASCII char (every 'e' becomes U+00E9), corrupt it
    executor-side with one or two rounds of UTF-8-read-as-latin-1
    (doc_id parity), then repair with ``repair_mojibake`` and emit the
    recovered text plus the peel count. The oracle recomputes the
    planted form directly (REPLACE + CHR(233)) and the expected round
    count from doc_id — an under- or over-peel is a visible mismatch.

    Scale: one map-side stage after the round-robin spread to the
    session parallelism (``_docs``); per-row work is linear in the
    text."""
    def per_row(doc_id, text):
        corrupted = text.replace("e", "é")
        for _ in range(1 + doc_id % 2):
            corrupted = corrupted.encode("utf-8").decode("latin-1")
        (repaired, rounds) = repair_mojibake(corrupted)
        return ([doc_id], [rounds], [repaired])

    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), per_row,
                    "doc_id long, rounds int, text_repaired string")


def unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization under the driver's oracle gate — the
    canonicalization step that must precede any hash-based dedup (the
    same text arrives precomposed from one crawl and decomposed from
    another, and md5 sees different bytes): plant decomposed sequences
    executor-side (every 'a' becomes 'a' + U+0301 COMBINING ACUTE),
    normalize with CPython's unicodedata (the Unicode reference data),
    and emit codepoint counts before/after plus the composed text. The
    DuckDB oracle replants and runs its OWN NFC implementation
    (NFC_NORMALIZE) — agreement is two independent implementations of
    the Unicode composition tables matching codepoint-for-codepoint.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    import unicodedata

    def per_row(doc_id, text):
        planted = text.replace("a", "a\u0301")
        composed = unicodedata.normalize("NFC", planted)
        return ([doc_id], [len(planted)], [len(composed)], [composed])

    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), per_row,
                    "doc_id long, n_before int, n_after int, text_nfc string")


ORACLES["unicode_normalize"] = """
    WITH planted AS (
      SELECT doc_id, REPLACE(text, 'a', 'a' || CHR(769)) AS p
      FROM documents
    )
    SELECT doc_id,
           LENGTH(p)::INT AS n_before,
           LENGTH(NFC_NORMALIZE(p))::INT AS n_after,
           NFC_NORMALIZE(p) AS text_nfc
    FROM planted
"""

ORACLES["encoding_repair"] = """
    SELECT doc_id,
           (CASE WHEN text LIKE '%e%' THEN 1 + doc_id % 2
                 ELSE 0 END)::INT AS rounds,
           REPLACE(text, 'e', CHR(233)) AS text_repaired
    FROM documents
"""

ORACLES["payload_decompress"] = """
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'gzip' WHEN 1 THEN 'zlib'
                           WHEN 2 THEN 'bz2' ELSE 'xz' END AS fmt,
           STRLEN(text)::INT AS orig_len,
           MD5(text) AS text_md5
    FROM documents
"""

QUERIES = {
    "pii_scrub": pii_scrub,
    "payload_decompress": payload_decompress,
    "encoding_repair": encoding_repair,
    "unicode_normalize": unicode_normalize,
    "url_canonicalize": url_canonicalize,
    "domain_mix": domain_mix,
    "nb_classifier": nb_classifier,
    "dedup_url": dedup_url,
    "shard_assign": shard_assign,
    "contamination_check": contamination_check,
    "contamination_bloom": contamination_bloom,
    "dsir_weights": dsir_weights,
    "stratified_sample": stratified_sample,
    "pack_chunks": pack_chunks,
    "normalize_text": normalize_text,
    "pack_sequences": pack_sequences,
    "temperature_sample": temperature_sample,
    "decontaminate_spans": decontaminate_spans,
    "conversation_pack": conversation_pack,
    "holdout_split": holdout_split,
    "turn_role_stats": turn_role_stats,
}
