"""Temporal operator edge semantics: as-of tie/no-match rules, session
gap boundary, range-join interval edges (ops/temporal.py; the DuckDB
ASOF JOIN oracle independently pins the bulk behavior)."""
import os

import pytest


def _events(spark, tmp_path, rows):
    import pandas as pd

    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    # microsecond precision: Spark cannot read TIMESTAMP(NANOS) parquet
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df["props"] = "{}"
    df.to_parquet(os.path.join(tmp_path, "events.parquet"))
    return str(tmp_path)


def test_asof_tie_and_no_match(spark, tmp_path):
    from pdfminer_spark.ops.temporal import asof_join

    d = _events(spark, tmp_path, [
        (0, "2024-01-01 09:00:00", 1, "purchase", 5.0),   # before any click
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:00:00", 1, "purchase", 6.0),   # tie: same ts click
        (3, "2024-01-01 11:00:00", 1, "click", 2.0),
        (4, "2024-01-01 12:00:00", 1, "purchase", 7.0),   # latest click wins
        (5, "2024-01-01 08:00:00", 2, "purchase", 8.0),   # user w/o clicks
    ])
    out = {r["event_id"]: r for r in asof_join(spark, d).collect()}
    assert out[0]["click_id"] is None
    assert out[0]["micros_since_click"] is None
    assert out[2]["click_id"] == 1          # <= includes the same-ts click
    assert out[2]["micros_since_click"] == 0
    assert out[4]["click_id"] == 3          # latest, not first
    assert out[4]["micros_since_click"] == 3600 * 10**6
    assert out[5]["click_id"] is None


def test_sessionize_gap_boundary(spark, tmp_path):
    """An event at EXACTLY last+gap still merges into the session (Spark
    session_window semantics — pinned here because the oracle must use a
    strict > on the gap); a strictly larger gap starts a new session,
    and session_end = last event + gap."""
    from pdfminer_spark.ops.temporal import sessionize

    d = _events(spark, tmp_path, [
        (0, "2024-01-01 00:00:00", 1, "view", 1.0),
        (1, "2024-01-01 01:59:59", 1, "view", 1.0),   # gap < 2h -> merges
        (2, "2024-01-01 03:59:59", 1, "view", 1.0),   # exactly 2h -> MERGES
        (3, "2024-01-01 06:00:00", 1, "view", 1.0),   # 2h 1s -> new session
    ])
    got = sorted((r["n_events"], str(r["session_start"]),
                  str(r["session_end"]))
                 for r in sessionize(spark, d).collect())
    assert got == [
        (1, "2024-01-01 06:00:00", "2024-01-01 08:00:00"),
        (3, "2024-01-01 00:00:00", "2024-01-01 05:59:59"),
    ]


def test_scd2_range_join_interval_edges(spark, tmp_path):
    """o_orderdate exactly on an epoch start belongs to that epoch
    (half-open [start, end)); every order lands in exactly one epoch."""
    import pandas as pd

    from pdfminer_spark.ops.temporal import scd2_range_join

    odf = pd.DataFrame({
        "o_orderkey": [1, 2, 3],
        "o_custkey": [1, 1, 2],
        "o_orderstatus": ["O", "F", "O"],
        "o_totalprice": [10.0, 20.0, 40.0],
        "o_orderdate": pd.to_datetime([
            "1996-01-01 00:00:00",   # exactly on epoch start -> 1996
            "1996-12-31 23:59:59",   # last instant -> 1996
            "1997-01-01 00:00:00",   # -> 1997
        ]).astype("datetime64[us]"),
        "o_orderpriority": ["1-URGENT"] * 3,
    })
    odf.to_parquet(os.path.join(tmp_path, "orders.parquet"))
    got = {r["epoch_year"]: (r["n_orders"], r["revenue"])
           for r in scd2_range_join(spark, str(tmp_path)).collect()}
    assert got == {1996: (2, 30.0), 1997: (1, 40.0)}


def test_interval_self_join_bucket_boundaries(spark, tmp_path):
    """r8: the banded interval join explodes only the time-EARLIER side
    to {bucket, bucket+1}. Pin the boundary semantics against brute
    force: gaps of exactly 300s (kept) and 300.001s (dropped),
    cross-bucket pairs, equal timestamps, a pair whose LARGER
    event_id is the earlier event (the re-orientation case), and an
    event_id repeated with different timestamps (never paired with
    itself)."""
    import itertools

    from pdfminer_spark.ops.relational import interval_self_join

    base = 1_700_000_000_000_000  # us
    rows = [
        # u1: straddles a 300s bucket boundary; 299_999 + 1 ms gaps
        (1, base + 299_999_000, 1, "a", 0.0),
        (2, base + 300_000_000, 1, "a", 0.0),
        (3, base + 600_000_000, 1, "a", 0.0),   # dt to e2 = 300s exactly
        (4, base + 600_001_000, 1, "a", 0.0),   # dt to e2 = 300.001s
        # u2: equal timestamps (tie broken by id) + reversed id/time
        (6, base + 100_000_000, 2, "a", 0.0),
        (5, base + 100_000_000, 2, "a", 0.0),
        (9, base + 150_000_000, 2, "a", 0.0),   # earlier than id 7
        (7, base + 400_000_000, 2, "a", 0.0),   # dt to e9 = 250s, id 7 > 9? no: 7 < 9 -> reorient
        # u3: id 10 twice, 100s apart, with id 11 between them
        (10, base + 700_000_000, 3, "a", 0.0),
        (10, base + 800_000_000, 3, "a", 0.0),
        (11, base + 750_000_000, 3, "a", 0.0),
    ]
    sf = _events(spark, tmp_path, [(i, pd_ts(t), u, e, v)
                                   for (i, t, u, e, v) in rows])
    got = {(r["user_id"], r["event_a"], r["event_b"], r["gap_ms"])
           for r in interval_self_join(spark, sf).collect()}
    # brute force over all same-user id-ordered pairs
    exp = set()
    for ((ia, ta, ua), (ib, tb, ub)) in itertools.combinations(
            sorted((i, t // 1000, u) for (i, t, u, _e, _v) in rows), 2):
        if ua == ub and ia < ib and abs(ta - tb) <= 300_000:
            exp.add((ua, ia, ib, tb - ta))
    assert got == exp and len(exp) >= 4


def pd_ts(us):
    import pandas as pd

    return pd.Timestamp(us, unit="us")
