"""Round-3 verdict #7: a registered query can never again lack oracle
coverage. Every name in ``__spark_entry__.queries()`` must carry an
``oracle_sql()`` entry (the driver's hard-signal path) — non-SQL ops
would get only the weaker rows-only check, and round 3's 5 missing
CORRECTNESS rows came exactly from that daylight. An explicit allowlist
makes any intentional future exception reviewable instead of silent.

The file also holds the one Spark-vs-DuckDB comparison the tests share
(``_oracle_diff``, through ``tools/oracle_check.compare_frames``) and
runs it over the per-row ``spark/batches.map_rows`` operators.
"""
import os

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_DIR

# names intentionally exempt from the SQL oracle (must stay empty unless
# a genuinely non-SQL-expressible op lands; document why when it does)
ROWS_ONLY_ALLOWED: set[str] = set()


def test_every_registered_query_has_an_oracle():
    qs = set(entry.queries())
    oracles = set(entry.oracle_sql())
    missing = qs - oracles - ROWS_ONLY_ALLOWED
    assert not missing, (
        f"queries registered without oracle_sql coverage: {sorted(missing)}")


def test_no_orphan_oracles():
    """An oracle for an unregistered query is dead weight or a typo'd
    key — either way the driver would never run it."""
    qs = set(entry.queries())
    orphans = set(entry.oracle_sql()) - qs
    assert not orphans, f"oracles with no matching query: {sorted(orphans)}"


def test_oracle_check_tool_covers_all_queries():
    """tools/oracle_check.py (the driver replica) defaults to exactly
    the queries-with-oracles set; with full oracle coverage that must be
    every registered query."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    default_names = [n for n in qs if n in oracles]
    assert sorted(default_names) == sorted(qs)


def test_queries_lead_with_stale_driver_row_ops():
    """r5 verdict #1 + r6 verdict #4 (standing rule: no op's driver row
    older than 2 rounds): the driver checks at most 50 queries in
    registration order; ops whose SOURCE changed this round and ops with
    the oldest driver rows must come first so this round's sample
    re-proves least-proven code. Guard the ordering (and that no
    priority name is a typo that silently drops out of the dict
    comprehension)."""
    expected_head = [
        # FINAL r7 ordering — mirrors __spark_entry__.priority: 50-seat
        # window = 12 r4-stale (r6 verdict task #4) + 8 behavior-changed
        # + 30 never-sampled r7 additions; then displaced ops in r8
        # rotation priority (rationale in __spark_entry__.py)
        "ngram_jaccard_pairs", "doc_fingerprint", "token_count",
        "quality_score", "lang_id", "repetition_filter", "tfidf_keywords",
        "docfreq_boilerplate", "ann_cosine_topk", "embedding_quantize",
        "embedding_clusters", "dedup_exact", "extract_documents",
        "extract_conversations", "curate_documents", "layout_boxes",
        "curate_pdf_corpus", "lm_perplexity", "dsir_weights",
        "ann_lsh_pairs", "bigram_perplexity", "dedup_url",
        "url_canonicalize", "pagerank", "bm25_scores", "shard_assign",
        "media_decode_png", "media_decode_gif", "media_decode_tiff",
        "media_decode_avi", "media_mp3_meta", "payload_decompress",
        "warc_extract", "encoding_repair", "robots_filter",
        "html_metadata", "sitemap_urls", "image_dhash", "fim_transform",
        "chat_template", "loss_mask_spans", "docx_extract",
        "subtitle_cues", "cues_to_turns", "code_quality", "jsonl_extract",
        "conversation_quality", "domain_mix", "bpe_train_merges",
        "link_graph", "bpe_pair_counts", "bpe_encode", "seqlen_histogram",
        "latex_strip", "markdown_strip", "zip_members",
        "email_quote_strip", "audio_zcr_features", "feed_entries",
        "char_entropy", "unicode_normalize", "warc_records",
        "media_avi_frame_sample", "cooccurrence_lift", "context_truncate",
        "media_features", "media_metadata", "media_resize",
        "media_frame_sample", "dedup_minhash_buckets",
        "dedup_minhash_pairs", "pii_scrub", "contamination_check",
        "stratified_sample", "pack_chunks", "normalize_text",
        "pack_sequences", "temperature_sample", "decontaminate_spans",
        "conversation_pack", "holdout_split", "turn_role_stats",
    ]
    names = list(entry.queries())
    assert names[:len(expected_head)] == expected_head


def _oracle_check_mod():
    import importlib.util
    import os
    spec = importlib.util.spec_from_file_location(
        "oracle_check",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_strict_comparator_catches_hugeint_float_drift():
    """r4 verdict #2: the replica's old compare (check_dtype=False,
    atol=1e-6) shipped the SUM-dtype oracle bug as green three rounds
    running. The strict comparator must fail exactly that shape: DuckDB
    bare SUM -> HUGEINT -> pandas float64 vs Spark int64, values equal."""
    import duckdb
    import pandas as pd

    oc = _oracle_check_mod()
    spark_like = pd.DataFrame({"n": pd.array([3], dtype="int64")})
    con = duckdb.connect()
    bare = con.execute("SELECT SUM(1) AS n FROM RANGE(3)").fetchdf()
    assert bare["n"].dtype.kind == "f", "precondition: HUGEINT->float64"
    r = oc.compare_frames(spark_like, bare)
    assert r["values_match"] and not r["kinds_match"] and not r["hash_match"]

    cast = con.execute("SELECT SUM(1)::BIGINT AS n FROM RANGE(3)").fetchdf()
    r2 = oc.compare_frames(spark_like, cast)
    assert r2["values_match"] and r2["kinds_match"] and r2["hash_match"]


def _oracle_diff(spark, name: str, sf_dir: str):
    """(spark frame, compare_frames result) of the registered query
    ``name`` against its DuckDB oracle over ``sf_dir``'s tables (every
    ``TABLES`` view whose parquet file is there)."""
    import duckdb

    oc = _oracle_check_mod()
    got = entry.queries()[name](spark, sf_dir)
    with duckdb.connect() as con:
        for t in oc.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
        want = con.execute(entry.oracle_sql()[name]).fetchdf()
    return got, oc.compare_frames(got.toPandas(), want)


def _assert_match(name: str, r: dict) -> None:
    ok = all(r[k] for k in ("rows_match", "schema_match", "values_match",
                            "kinds_match", "hash_match"))
    assert ok, (name, {k: v for k, v in r.items() if k != "detail"},
                r["detail"])


# the registered operators whose Python work is a per-row function run
# by spark/batches.map_rows (the textops kernel operators are covered
# in tests/test_textops.py)
_MAP_ROWS_OPS = [
    # ops/webingest.py
    "warc_records", "warc_extract", "robots_filter", "html_metadata",
    "sitemap_urls", "markdown_strip", "latex_strip", "feed_entries",
    "link_graph", "dom_table_extract", "frontmatter_extract",
    # ops/multimodal.py
    "media_features", "media_resize", "media_frame_sample",
    "media_decode_png", "media_decode_gif", "media_decode_tiff",
    "media_decode_avi", "media_mp3_meta", "audio_zcr_features",
    "image_dhash", "media_avi_frame_sample",
    # ops/datasetops.py
    "payload_decompress", "encoding_repair", "unicode_normalize",
    # ops/archives.py
    "zip_members", "docx_extract",
    # ops/transcripts.py
    "subtitle_cues", "email_quote_strip",
    # ops/layoutops.py
    "layout_boxes",
]


@pytest.mark.parametrize("name", _MAP_ROWS_OPS)
def test_map_rows_ops_match_oracle(spark, name):
    """Each per-row operator equals its DuckDB oracle (rows, schema,
    values, dtype kinds, exact value hash) on the sf corpus."""
    (_, r) = _oracle_diff(spark, name, SF_DIR)
    _assert_match(name, r)
