"""Window functions, time-windowed aggregation (the streaming
definitions run on the static table), and the as-of join query surface.

Every query here shuffles exactly once, on the window partition key —
the partitioning a 1000-executor run would want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.asof import asof_join_backward
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table
from sparkml_som_spark.streaming.windows import (
    interval_join_stream,
    session_window_stream,
    sliding_window_stream,
    tumbling_window_stream,
)


@register(
    "window_topk_orders_per_customer",
    sql="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 4) AS price, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    desc="row_number top-k per group",
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 4).alias("price"),
            "rn",
        )
    )


@register(
    "window_running_total",
    sql="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 4) AS running_total,
           ROUND(COALESCE(o_totalprice - LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey), 0), 4) AS delta_prev
    FROM orders
    """,
    desc="running sum + lag delta per customer",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(run_w), 4).alias("running_total"),
        F.round(
            F.coalesce(
                F.col("o_totalprice") - F.lag("o_totalprice").over(order_w), F.lit(0.0)
            ),
            4,
        ).alias("delta_prev"),
    )


@register(
    "window_rank_dense",
    sql="""
    SELECT o_orderstatus, o_orderkey,
           RANK()       OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS drnk,
           NTILE(4)     OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS quartile
    FROM orders
    WHERE o_totalprice > 300000
    """,
    desc="rank / dense_rank / ntile",
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderstatus",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --------------------------------------------------------------------------
# time windows over the events table: each entry runs the streaming
# definition from `streaming/windows.py` on the static table (a batch plan
# drops the watermark), so the batch and stream entries share one body
# and the DuckDB oracle is the independent check on it
# --------------------------------------------------------------------------

@register(
    "tumbling_window_events",
    sql="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*)                   AS n_events,
           ROUND(SUM(value), 4)       AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
    desc="1-day tumbling window aggregate (batch twin of the streaming op)",
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window is epoch-aligned, so a 1-day tumbling window start equals
    date_trunc('day') under the session's UTC timezone."""
    return tumbling_window_stream(load_table(spark, sf_dir, "events"))


@register(
    "sliding_window_events",
    sql="""
    SELECT ws AS window_start,
           COUNT(*)             AS n_events,
           ROUND(AVG(value), 4) AS avg_value
    FROM (
        SELECT value,
               unnest([date_trunc('day', ts), date_trunc('day', ts) - INTERVAL 1 DAY]) AS ws
        FROM events
    )
    GROUP BY ws
    """,
    desc="2-day window sliding by 1 day (each event in two windows)",
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_stream(load_table(spark, sf_dir, "events"))


@register(
    "session_window_events",
    sql="""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts)              AS session_start,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    desc="session window (30-min gap) — gaps-and-islands oracle",
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uses Spark's native session_window; the oracle rebuilds the same
    sessionization with lag + cumulative sum (gaps-and-islands).
    Spark's session_window end is EXCLUSIVE — an exactly-30-minute gap
    starts a new session — so the oracle's gap predicate is `>=`, and
    both windows order by (ts, event_id) for deterministic ties."""
    return session_window_stream(load_table(spark, sf_dir, "events"))


@register(
    "interval_join_click_after_signup",
    sql="""
    SELECT s.user_id,
           s.event_id AS signup_id,
           c.event_id AS click_id,
           CAST(date_diff('second', s.ts, c.ts) AS BIGINT) AS secs_after
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = s.user_id
     AND c.ts >= s.ts
     AND c.ts <  s.ts + INTERVAL 10 MINUTE
    """,
    desc="interval join: clicks within 10 minutes after a signup",
)
def interval_join_click_after_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal range join with an equi component: Spark shuffles on
    user_id (the equi key) and applies the time-range predicate as a
    post-join filter — the shape that scales, vs a pure range join's
    per-key cross product."""
    ev = load_table(spark, sf_dir, "events")
    return interval_join_stream(
        ev.where(F.col("event_type") == "signup"),
        ev.where(F.col("event_type") == "click"),
    )


@register(
    "asof_tolerance_join",
    # latencies summed as exact integer micros — no division, no float
    sql="""
    WITH j AS (
        SELECT p.user_id, p.event_id, p.ts, c.ts AS click_ts
        FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    ), tolj AS (
        SELECT user_id,
               CASE WHEN click_ts IS NOT NULL
                         AND epoch_us(ts) - epoch_us(click_ts) <= 7200000000
                    THEN epoch_us(ts) - epoch_us(click_ts) END AS lat_us
        FROM j
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(lat_us) AS BIGINT) AS n_attributed,
           CAST(COALESCE(SUM(lat_us), 0) AS BIGINT) AS total_latency_us
    FROM tolj GROUP BY user_id ORDER BY user_id
    """,
    desc="as-of join with tolerance: most recent click within 2h before each purchase (merge_asof tolerance semantics), per-user attribution",
)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tolerance-bounded as-of join (pandas `merge_asof(...,
    tolerance=...)` / kdb `wj` semantics): each purchase attributes to
    the MOST RECENT prior click only if it falls within a 2-hour
    window, else stays unattributed — the shape ad attribution and
    sensor alignment need, where an arbitrarily stale match is worse
    than none.  Implementation composes the pinned union-and-carry
    `asof_join_backward` (ONE shuffle per key, no range explosion at
    100 TB) with a post-filter on the carried timestamp: tolerance is
    a per-row predicate AFTER the as-of match, exactly how merge_asof
    defines it (a match older than the tolerance nulls out rather than
    falling back to an older row).  Latencies are summed as exact
    integer microseconds, so the rollup carries no float at all."""
    from sparkml_som_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join_backward(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["ts"], suffix="_click",
    )
    lat = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_click"))
    tol_us = 2 * 3600 * 1_000_000
    with_lat = joined.withColumn(
        "lat_us",
        F.when(F.col("ts_click").isNotNull() & (lat <= tol_us), lat),
    )
    return (
        with_lat.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("lat_us").alias("n_attributed"),
            F.coalesce(F.sum("lat_us"), F.lit(0)).cast("long").alias("total_latency_us"),
        )
        .orderBy("user_id")
    )


@register(
    "asof_join_signup_attribution",
    sql="""
    SELECT e.event_id, e.user_id, e.ts, s.ts AS signup_ts
    FROM (SELECT * FROM events WHERE event_type <> 'signup') e
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    desc="as-of join: latest signup at-or-before each event",
)
def asof_join_signup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") != "signup")
    right = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join_backward(
        left, right, on="user_id", left_ts="ts", right_ts="ts", value_cols=["ts"], suffix="_signup"
    )
    return joined.select(
        "event_id", "user_id", "ts", F.col("ts_signup").alias("signup_ts")
    )


@register(
    "window_analytic_suite",
    sql="""
    WITH ev AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events WHERE user_id <= 40
    )
    SELECT event_id, user_id,
           ROUND(percent_rank() OVER w, 6)      AS pct_rank,
           ROUND(cume_dist() OVER w, 6)         AS cume,
           nth_value(v, 3) OVER w2              AS third_value,
           first_value(v IGNORE NULLS) OVER w2  AS first_nn,
           last_value(v IGNORE NULLS) OVER w2   AS last_nn
    FROM ev
    WINDOW w  AS (PARTITION BY user_id ORDER BY value ASC NULLS LAST, event_id ASC),
           w2 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    desc="analytic window functions: percent_rank/cume_dist/nth_value/ignore-nulls first+last",
)
def window_analytic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-distribution and navigation window functions not covered
    by the rank/lag suites: percent_rank, cume_dist, nth_value, and
    IGNORE NULLS first/last navigation.  Frames are pinned explicitly —
    nth_value/last_value give different answers under the default RANGE
    frame, a classic cross-engine divergence; `(ts, event_id)` ordering
    makes ties deterministic.  NULL placement is pinned too (NULLS LAST
    — Spark defaults NULLS FIRST, DuckDB NULLS LAST, a divergence the
    data must not be allowed to hide), and because events.value has no
    NULLs, the navigation columns read `v` = value with every 7th
    event_id nulled deterministically so IGNORE NULLS has real NULLs to
    skip on both engines.  One shuffle on user_id serves all five
    functions (same partition key, Catalyst collapses to one Window
    node per frame spec)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") <= 40)
        .withColumn(
            "v", F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value"))
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("value"), F.asc("event_id")
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("v", 3).over(w2).alias("third_value"),
        F.first("v", ignorenulls=True).over(w2).alias("first_nn"),
        F.last("v", ignorenulls=True).over(w2).alias("last_nn"),
    )


@register(
    "window_rank_family_events",
    sql="""
    WITH r AS (
        SELECT event_type, value,
               NTILE(4)       OVER w AS quartile,
               PERCENT_RANK() OVER w AS pr,
               CUME_DIST()    OVER w AS cd
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    )
    SELECT event_type, quartile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 4)     AS lo_value,
           ROUND(MAX(value), 4)     AS hi_value,
           ROUND(MIN(pr), 6)        AS min_pr,
           ROUND(MAX(cd), 6)        AS max_cd
    FROM r
    GROUP BY event_type, quartile
    """,
    desc="distribution-rank window family: NTILE(4) + PERCENT_RANK + CUME_DIST per event_type, rolled to the bounded quartile grid",
)
def window_rank_family_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three distribution-rank window functions the rank/lag
    entries don't cover: NTILE balanced bucketing (quartile sizes
    differ by at most one), PERCENT_RANK ((rank-1)/(n-1)) and
    CUME_DIST (rank/n) — all over a TOTAL order (event_id tiebreak),
    so every value is deterministic.  The per-row stream folds to the
    bounded (event_type x quartile) grid.  Scale: one shuffle on
    event_type; a skewed event_type concentrates its window in one
    task — the `sessionize_two_phase` bucketing pattern applies when
    that bites."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_type",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy("event_type", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo_value"),
        F.round(F.max("value"), 4).alias("hi_value"),
        F.round(F.min("pr"), 6).alias("min_pr"),
        F.round(F.max("cd"), 6).alias("max_cd"),
    )
