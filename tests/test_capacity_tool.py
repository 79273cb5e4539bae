"""tools/capacity.py at tiny sizes: the candidate and row counts each
family prints are pinned, so a change to the shared corpus synthesizer,
to the random corpora's draw order, or to an operator they drive shows
here. The pinned values are what the per-family probes this tool
replaced printed at the same sizes and seeds."""
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import capacity  # noqa: E402

needs_sf01 = pytest.mark.skipif(
    not os.path.isdir(capacity.REAL_SF), reason="sf0.1 testdata not present")


def _counts(records, name_key, n_key, count_key):
    return {r[name_key]: (r[n_key], r[count_key]) for r in records}


@needs_sf01
def test_pairs_family_counts(spark, tmp_path):
    recs = list(capacity.pairs(spark, [500], str(tmp_path)))
    assert _counts(recs, "gen", "n", "candidates") == {
        "minhash_bands": (500, 11),
        "simhash_manku_distinct_fp": (500, 1192),
        "sign_lsh_16x16": (200, 9),
        "exact_substring_w20": (500, 9),
    }
    assert all(set(r) == {"gen", "n", "candidates", "rate", "wall_s"}
               for r in recs)


def test_random_family_counts(spark, tmp_path):
    recs = list(capacity.random(spark, [500], str(tmp_path)))
    assert _counts(recs, "gen", "n", "candidates") == {
        "sign_lsh_16x16": (500, 51),
        "simhash_manku_6c3": (500, 0),
        "exact_substring_w20": (500, 1),
    }


@needs_sf01
def test_ops_family_rows(spark, tmp_path):
    recs = list(capacity.ops(spark, [500], str(tmp_path),
                             ["pagerank", "bm25_scores"]))
    assert _counts(recs, "op", "n_docs", "rows") == {
        "pagerank": (500, 500),
        "bm25_scores": (500, 20),
    }
    assert all(set(r) == {"op", "n_docs", "rows", "wall_s", "us_per_doc"}
               for r in recs)


def test_extract_family_telemetry(spark):
    """The extract family wraps the production batch function: every turn
    comes out, and no Arrow batch exceeds the session's bound."""
    from pyspark import cloudpickle

    # the telemetry wrapper lives in this tool, which the Python workers
    # cannot import: ship it by value, as running the tool as a script does
    cloudpickle.register_pickle_by_value(capacity)
    try:
        (rec,) = capacity.extract(spark, [40])
    finally:
        cloudpickle.unregister_pickle_by_value(capacity)
    assert rec["rows_out"] == rec["n_turns"] == 40
    assert rec["partitions"] > 0
    assert rec["max_batch_rows"] <= rec["arrow_batch_bound"]


def test_a_warm_pass_runs_the_action_once_untimed():
    calls = []
    assert capacity._timed(lambda: calls.append(1) or len(calls),
                           warm=True)[0] == 2
    assert capacity._timed(lambda: calls.append(1) or len(calls),
                           warm=False)[0] == 3


def test_extract_summary_names_the_measured_sizes():
    first = {"n_turns": 200, "turns_per_s": 50.0, "worker_peak_rss_mb": 140}
    last = {"n_turns": 800, "turns_per_s": 150.0, "worker_peak_rss_mb": 157}
    assert capacity.extract_summary(first, last) == {
        "scale_x": 4.0, "tps_ratio_800_vs_200": 3.0, "rss_growth_mb": 17}
