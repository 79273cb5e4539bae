"""Relational operators mirroring the reference's computation shapes
(SURVEY.md §2), expressed Spark-first on the driver's TPC-H-ish tables.

Each op ships with a DuckDB oracle SQL string (ORACLES) — the driver runs
both and compares row counts + schemas + order-insensitive value hashes.
Every computed column is aliased identically on both sides; floats are
rounded on both sides so engine-level summation-order differences don't
flip the hash.

Scale notes are inline per op: what shuffles, what broadcasts, what gets
pushed down.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- SURVEY §2.4: bbox-union aggregation (min/max fold) -----------------------

def bbox_union_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout bbox-union fold (layout.py:313-322) as a groupBy min/max.

    Scale: map-side partial aggregation (min/max are algebraic), one
    shuffle on the group key; no skew risk at 3 flags x 2 statuses."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("x0"),
            F.round(F.min("l_discount"), 4).alias("y0"),
            F.round(F.max("l_extendedprice"), 2).alias("x1"),
            F.round(F.max("l_discount"), 4).alias("y1"),
            F.count("*").alias("n_items"),
        )
    )


# -- SURVEY §2.5: window ordering (turn ordering / reading order) -------------

def turn_ordering_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable per-entity ordering: row_number over (user_id, ts, event_id)
    — the (conv_id, turn_idx) window of the north rule.

    Scale: single hash shuffle on user_id; within-partition sort only."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id", "event_id",
            F.row_number().over(w).alias("turn_rank"),
        )
    )


def reading_order_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boxes_flow-weighted ordering key (layout.py:466-483): rank items by
    a computed linear combination, then dense_rank the key per group."""
    p = _t(spark, sf_dir, "part")
    key = F.round(0.5 * F.col("p_retailprice") - 1.5 * F.col("p_size"), 4)
    w = Window.partitionBy("p_brand").orderBy(key.asc(), F.col("p_partkey").asc())
    return p.select(
        "p_partkey", "p_brand",
        key.alias("flow_key"),
        F.row_number().over(w).alias("reading_order"),
    )


# -- SURVEY §2.3: interval/range self-join (spatial neighbor analog) ----------

def interval_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of events by the same user within 300s — the range-query
    neighbor join of the line-grouping stage (Plane.find analog).

    Scale (r8): banded interval join — the bare user_id equi-join
    produced every same-user pair (C(events_per_user, 2) rows per user,
    33M at sf1.0) only to filter 99.98% of them with the 300s range
    predicate. Each event carries its 300s time bucket and candidates
    are generated TIME-ORDERED: the earlier event of a qualifying pair
    (by the total order (ts, event_id)) has a bucket equal to or one
    below the later event's, so the earlier side explodes to just
    {bucket, bucket+1} (not the symmetric {b-1, b, b+1} — a 2x instead
    of 3x explode of the 8-byte key columns) and the join key is
    (user_id, bucket). The exact |dt| <= 300s predicate is re-applied
    post-join and the output pair is re-oriented by event id (event_a =
    the smaller id, gap_ms = ts[larger id] - ts[smaller id]), so the
    result set is identical to the id-oriented formulation. Each
    qualifying pair matches exactly once: the later side has a single
    bucket value, the earlier side's two explode values are distinct,
    and exactly one of them equals the later bucket. Join output stays
    proportional to true matches instead of to per-user-count squared.
    An event id repeated with different timestamps pairs with other ids
    only, as in the oracle's ``a.event_id < b.event_id``."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_millis(F.col("ts").cast("timestamp_ltz")).alias("ts_ms"))
    bkt = F.floor(F.col("ts_ms") / 300000)
    a = ev.select(
        "user_id", F.col("event_id").alias("id_e"),
        F.col("ts_ms").alias("ts_e"),
        F.explode(F.array(bkt, bkt + 1)).alias("bkt"))
    b = ev.select(
        "user_id", F.col("event_id").alias("id_l"),
        F.col("ts_ms").alias("ts_l"), bkt.alias("bkt"))
    earlier = ((F.col("ts_e") < F.col("ts_l"))
               | ((F.col("ts_e") == F.col("ts_l"))
                  & (F.col("id_e") < F.col("id_l"))))
    return (
        a.join(b, ["user_id", "bkt"])
        .where(earlier & (F.col("id_e") != F.col("id_l"))
               & (F.col("ts_l") - F.col("ts_e") <= 300000))
        .select(
            "user_id",
            F.least("id_e", "id_l").alias("event_a"),
            F.greatest("id_e", "id_l").alias("event_b"),
            F.when(F.col("id_e") < F.col("id_l"),
                   F.col("ts_l") - F.col("ts_e"))
            .otherwise(F.col("ts_e") - F.col("ts_l")).alias("gap_ms"),
        )
    )


# -- SURVEY §2.2: lenient type coercion (int_value/num_value analogs) ---------

def type_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast with defaults: the STRICT=0 coercion helpers
    (pdftypes.py:114-174) as coalesce(try_cast(...), default)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.col("event_type").try_cast("int"), F.lit(0)).alias("as_int"),
        F.coalesce(F.col("value").try_cast("string"), F.lit("")).alias("as_str"),
        F.coalesce(F.substring("event_type", 1, 1).try_cast("int"),
                   F.lit(-1)).alias("first_char_int"),
    )


# -- SURVEY §2.6: first-match-wins union (xref chain) --------------------------

def first_match_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest-xref-shadows-older: two prioritized sources unioned, first
    hit per key wins (pdfdocument.py:666-686). Window-pick-first."""
    o = _t(spark, sf_dir, "orders")
    src1 = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.lit(1).alias("priority"),
        F.col("o_totalprice").alias("price"))
    src2 = o.select("o_orderkey", F.lit(2).alias("priority"),
                    (F.col("o_totalprice") * 0).alias("price"))
    unioned = src1.unionByName(src2)
    w = Window.partitionBy("o_orderkey").orderBy("priority")
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "priority", F.round("price", 2).alias("price"))
    )


# -- SURVEY §2.6: deterministic top-k (maxpages / min-dist pop analog) ---------

def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k with a full deterministic tiebreak.

    Scale: Spark executes as TakeOrderedAndProject — per-partition top-k
    then a driver merge; no full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .limit(25)
    )


# -- SURVEY §2.4: ordered text-concat aggregation (get_text analog) ------------

def group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string concatenation per group (LTTextContainer.get_text).

    Spark: array_sort(collect_list(struct)) -> transform -> array_join
    keeps it one shuffle with deterministic order."""
    n = _t(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("n_nationkey", "n_name"))),
                    lambda s: s["n_name"],
                ),
                "|",
            ).alias("names"),
            F.count("*").alias("n_nations"),
        )
    )


# -- classic analytics: pricing summary (Q1 shape) -----------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregate with derived expressions.

    Scale: all aggregates algebraic -> map-side partials; Parquet scan
    prunes to the 7 referenced columns (check ReadSchema in explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                      * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shape multi-join: fact table joined to small dims.

    Scale: dims are broadcast (hinted explicitly) -> no shuffle on the
    fact side except the final groupBy on n_name."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer(segment filter) |x| orders(date filter)
    |x| lineitem(date filter) -> top-10 orders by discounted revenue.

    Scale: both dimension-side filters are pushed to the parquet scans
    (segment + date predicates in PushedFilters); customer is the small
    side of its join — broadcast hinted; orders |x| lineitem shuffles on
    the order key (the fact-fact join that must shuffle); the top-10 is
    TakeOrderedAndProject. The classic mixed broadcast/shuffle plan."""
    cutoff = "1998-01-01"
    c = (_t(spark, sf_dir, "customer")
         .where(F.col("c_mktsegment") == "BUILDING").select("c_custkey"))
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderdate") < cutoff)
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(rev, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


ORACLES: dict[str, str] = {
    "shipping_priority": """
        SELECT o_orderkey, o_orderdate,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "bbox_union_agg": """
        SELECT l_returnflag, l_linestatus,
               ROUND(MIN(l_extendedprice), 2) AS x0,
               ROUND(MIN(l_discount), 4) AS y0,
               ROUND(MAX(l_extendedprice), 2) AS x1,
               ROUND(MAX(l_discount), 4) AS y1,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "turn_ordering_window": """
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS turn_rank
        FROM events
    """,
    "reading_order_key": """
        SELECT p_partkey, p_brand,
               ROUND(0.5 * p_retailprice - 1.5 * p_size, 4) AS flow_key,
               ROW_NUMBER() OVER (
                 PARTITION BY p_brand
                 ORDER BY ROUND(0.5 * p_retailprice - 1.5 * p_size, 4) ASC,
                          p_partkey ASC) AS reading_order
        FROM part
    """,
    "interval_self_join": """
        SELECT a.user_id AS user_id,
               a.event_id AS event_a, b.event_id AS event_b,
               (EPOCH_MS(b.ts) - EPOCH_MS(a.ts)) AS gap_ms
        FROM events a JOIN events b ON a.user_id = b.user_id
        WHERE a.event_id < b.event_id
          AND ABS(EPOCH_MS(a.ts) - EPOCH_MS(b.ts)) <= 300000
    """,
    "type_coercion": """
        SELECT event_id,
               COALESCE(TRY_CAST(event_type AS INT), 0) AS as_int,
               COALESCE(TRY_CAST(value AS VARCHAR), '') AS as_str,
               COALESCE(TRY_CAST(SUBSTRING(event_type, 1, 1) AS INT), -1)
                 AS first_char_int
        FROM events
    """,
    "first_match_wins": """
        WITH unioned AS (
          SELECT o_orderkey, 1 AS priority, o_totalprice AS price
          FROM orders WHERE o_orderstatus = 'F'
          UNION ALL
          SELECT o_orderkey, 2 AS priority, o_totalprice * 0 AS price
          FROM orders
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                       ORDER BY priority) AS rn
          FROM unioned
        )
        SELECT o_orderkey, priority, ROUND(price, 2) AS price
        FROM ranked WHERE rn = 1
    """,
    "topk_orders": """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
    """,
    "group_concat": """
        SELECT n_regionkey,
               STRING_AGG(n_name, '|' ORDER BY n_nationkey, n_name) AS names,
               COUNT(*) AS n_nations
        FROM nation GROUP BY n_regionkey
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                 AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_nation": """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
}

QUERIES = {
    "shipping_priority": shipping_priority,
    "bbox_union_agg": bbox_union_agg,
    "turn_ordering_window": turn_ordering_window,
    "reading_order_key": reading_order_key,
    "interval_self_join": interval_self_join,
    "type_coercion": type_coercion,
    "first_match_wins": first_match_wins,
    "topk_orders": topk_orders,
    "group_concat": group_concat,
    "pricing_summary": pricing_summary,
    "revenue_by_nation": revenue_by_nation,
}
