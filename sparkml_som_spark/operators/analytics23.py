"""Analytics operators, round 5 twentieth wave: funnel stage-latency
percentiles (how long each conversion hop takes) and the cohort
lifetime-value matrix (cumulative purchase value per signup cohort).

Scale discipline:

- stage latencies reuse the shared `_funnel_stages` per-user tables
  (every hop equi-joined on user_id, outputs bounded by users); the
  percentiles aggregate the bounded per-user latency table;
- the LTV matrix is the retention-cohort shape with SUM(value)
  payloads: user-keyed hops, a bounded (cohort-week x offset) grid,
  and a cumulative window over the bounded grid only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.corpus_ops3 import _funnel_stages
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table


@register(
    "funnel_stage_latency",
    sql="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS s_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
        SELECT s.user_id, MIN(e.ts) AS c_ts
        FROM s JOIN events e ON e.user_id = s.user_id
         AND e.event_type = 'click'
         AND e.ts >= s.s_ts AND e.ts < s.s_ts + INTERVAL 7 DAY
        GROUP BY s.user_id
    ), p AS (
        SELECT c.user_id, MIN(e.ts) AS p_ts
        FROM c JOIN events e ON e.user_id = c.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= c.c_ts AND e.ts < c.c_ts + INTERVAL 7 DAY
        GROUP BY c.user_id
    ), lat AS (
        SELECT 'signup_to_click' AS hop,
               (epoch_us(c.c_ts) - epoch_us(s.s_ts)) / 3600000000.0 AS hours
        FROM s JOIN c ON c.user_id = s.user_id
        UNION ALL
        SELECT 'click_to_purchase' AS hop,
               (epoch_us(p.p_ts) - epoch_us(c.c_ts)) / 3600000000.0 AS hours
        FROM c JOIN p ON p.user_id = c.user_id
    )
    SELECT hop,
           CAST(COUNT(*) AS BIGINT)              AS n_users,
           ROUND(quantile_cont(hours, 0.5), 4)   AS p50_hours,
           ROUND(quantile_cont(hours, 0.9), 4)   AS p90_hours,
           ROUND(MAX(hours), 4)                  AS max_hours
    FROM lat GROUP BY hop
    """,
    desc="funnel hop latencies: p50/p90 hours between conversion stages over the bounded per-user stage tables",
)
def funnel_stage_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long each funnel hop takes: the p50/p90 time from first
    signup to first qualifying click, and from that click to the first
    qualifying purchase — the latency view that tells you WHERE the
    funnel stalls, not just where it leaks.

    Reuses the shared `_funnel_stages` per-user tables (all hops
    equi-joined on user_id, outputs bounded by users); hop latencies
    are exact integer micros until the final hours conversion, and the
    percentiles aggregate the bounded per-user table (the SLA entry's
    exact-interpolation parity).
    """
    s, c, p = _funnel_stages(load_table(spark, sf_dir, "events"))
    sc = (
        s.join(c, "user_id")
        .select(
            F.lit("signup_to_click").alias("hop"),
            ((F.unix_micros("c_ts") - F.unix_micros("s_ts")) / 3600000000.0).alias(
                "hours"
            ),
        )
    )
    cp = (
        c.join(p, "user_id")
        .select(
            F.lit("click_to_purchase").alias("hop"),
            ((F.unix_micros("p_ts") - F.unix_micros("c_ts")) / 3600000000.0).alias(
                "hours"
            ),
        )
    )
    lat = sc.unionByName(cp)
    return lat.groupBy("hop").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.percentile("hours", F.lit(0.5)), 4).alias("p50_hours"),
        F.round(F.percentile("hours", F.lit(0.9)), 4).alias("p90_hours"),
        F.round(F.max("hours"), 4).alias("max_hours"),
    )


@register(
    "cohort_ltv_matrix",
    sql="""
    WITH su AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), pv AS (
        SELECT e.user_id,
               CAST(FLOOR(date_diff('day', su.cohort_week, CAST(e.ts AS DATE)) / 7.0)
                    AS BIGINT) AS week_offset,
               e.value
        FROM events e JOIN su ON su.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= su.cohort_week
    ), grid AS (
        SELECT su.cohort_week, pv.week_offset,
               ROUND(SUM(pv.value), 4) AS week_value
        FROM pv JOIN su ON su.user_id = pv.user_id
        GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, week_value,
           ROUND(SUM(week_value) OVER (PARTITION BY cohort_week ORDER BY week_offset
                                       ROWS UNBOUNDED PRECEDING), 4) AS cum_value
    FROM grid
    """,
    desc="cohort LTV: signup-week cohorts x week offsets with weekly and cumulative purchase value; windows over the bounded grid only",
)
def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curves per signup cohort: weekly purchase value
    by (cohort week, week offset) plus the cumulative LTV running
    total — the matrix behind every 'does LTV recover CAC' chart.

    The retention-cohort shape with value payloads: user-keyed hops
    (signup week joined onto the user's purchases), a bounded
    (cohort x offset) grid aggregated with map-side combine, weekly
    values rounded once at the bounded row, and the cumulative window
    running over the BOUNDED grid — never over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
    )
    pv = (
        ev.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(F.col("ts") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7.0
            ).cast("long").alias("week_offset"),
            "value",
        )
    )
    grid = pv.groupBy("cohort_week", "week_offset").agg(
        F.round(F.sum("value"), 4).alias("week_value")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "cohort_week",
        "week_offset",
        "week_value",
        F.round(F.sum("week_value").over(w), 4).alias("cum_value"),
    )


# --------------------------------------------------------------------------
# 3. open-order backlog over time (interval concurrency counting)
# --------------------------------------------------------------------------


@register(
    "open_orders_backlog",
    sql="""
    WITH spans AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS start_day,
               CAST(MAX(l.l_shipdate) AS DATE) AS end_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), deltas AS (
        SELECT start_day AS day, COUNT(*) AS d FROM spans GROUP BY 1
        UNION ALL
        SELECT end_day + 1 AS day, -COUNT(*) AS d FROM spans GROUP BY 1
    ), daily AS (
        SELECT day, SUM(d) AS delta FROM deltas GROUP BY day
    )
    SELECT day,
           CAST(delta AS BIGINT) AS net_change,
           CAST(SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS open_orders
    FROM daily
    QUALIFY open_orders > 0 OR net_change <> 0
    """,
    desc="open-order backlog: interval concurrency via +1/-1 day deltas aggregated first; running sum over the bounded day spine",
)
def open_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many orders are OPEN (placed, not yet fully shipped) on
    each day — interval concurrency counting, the ops-dashboard
    backlog curve.

    The scale-honest shape: each order contributes exactly two delta
    events (+1 at placement, -1 the day after its last shipment),
    deltas aggregate to the bounded day spine with map-side combine,
    and the running concurrency is a cumulative sum over that BOUNDED
    table — never a per-day interval scan (which would be days x
    orders).  The global window runs over ~thousands of calendar days
    at any corpus size.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("start_day"))
        .agg(F.to_date(F.max("l_shipdate")).alias("end_day"))
    )
    deltas = (
        spans.groupBy(F.col("start_day").alias("day"))
        .agg(F.count(F.lit(1)).alias("d"))
        .unionByName(
            spans.groupBy(F.date_add("end_day", 1).alias("day")).agg(
                (-F.count(F.lit(1))).alias("d")
            )
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("net_change"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.withColumn("open_orders", F.sum("net_change").over(w))
        .where((F.col("open_orders") > 0) | (F.col("net_change") != 0))
        .select("day", F.col("net_change").cast("long").alias("net_change"),
                F.col("open_orders").cast("long").alias("open_orders"))
    )


# --------------------------------------------------------------------------
# 4. Benford first-digit audit (data forensics)
# --------------------------------------------------------------------------

# log10(1 + 1/d) to 6 places, hardcoded so no libm log appears in any
# emitted value or filter
_BENFORD = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910,
    5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}
_BENFORD_SQL = "CASE " + " ".join(
    f"WHEN digit = {d} THEN {p}::DOUBLE" for d, p in _BENFORD.items()
) + " END"


@register(
    "benford_first_digit_audit",
    sql=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders
    ), g AS (
        SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), t AS (
        SELECT SUM(n) AS total FROM g
    )
    SELECT g.digit,
           CAST(g.n AS BIGINT)                        AS n_orders,
           ROUND(g.n::DOUBLE / t.total, 6)            AS observed_share,
           {_BENFORD_SQL}                             AS benford_share,
           ROUND(ABS(g.n::DOUBLE / t.total - {_BENFORD_SQL}), 6) AS abs_diff
    FROM g, t
    """,
    desc="Benford first-digit audit on order totals: integer-string digit extraction (engine-safe), hardcoded Benford constants, no libm",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data forensics: the first-digit distribution of order totals
    against Benford's law — the screen auditors run for fabricated or
    truncated financial data.

    The first digit comes from the INTEGER part's string (integer
    formatting is engine-deterministic; double formatting is not), the
    Benford probabilities are hardcoded constants (no libm log in any
    emitted value), and the whole audit is one map-side-combined
    aggregate to nine rows plus a one-row total broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    g = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    t = g.agg(F.sum("n_orders").alias("total"))
    bexpr = F.create_map(
        *[F.lit(x) for kv in _BENFORD.items() for x in kv]
    )[F.col("digit")]
    share = F.col("n_orders").cast("double") / F.col("total")
    return g.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_orders",
        F.round(share, 6).alias("observed_share"),
        bexpr.alias("benford_share"),
        F.round(F.abs(share - bexpr), 6).alias("abs_diff"),
    )


# --------------------------------------------------------------------------
# 5. Gini coefficient of revenue concentration (distributed-rank powered)
# --------------------------------------------------------------------------


@register(
    "gini_revenue_concentration",
    sql="""
    WITH rev AS (
        SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS x
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM rev
    )
    SELECT CAST(COUNT(*) AS BIGINT)          AS n_customers,
           ROUND(SUM(x), 4)                  AS total_revenue,
           ROUND((2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x))
                 / (COUNT(*) * SUM(x)), 6)   AS gini
    FROM ranked
    """,
    desc="Gini coefficient of customer revenue: textbook rank formula, powered by the two-phase distributed global rank (no single-task window)",
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration reporting: the Gini coefficient of
    per-customer revenue — 0 when every customer spends the same, 1
    when one customer is the whole business.

    The textbook formula needs every customer's GLOBAL rank in revenue
    order; the oracle writes the single-task `ROW_NUMBER() OVER
    (ORDER BY ...)` form, and the Spark side computes the SAME ranks
    through `distributed_global_rank` (range repartition + pinned
    blocks + broadcast prefix offsets) — the scale-critical primitive
    reused for one more real metric.  Per-customer revenue is rounded
    once at the bounded customer row; the final Gini ratio is rounded
    once at the single output row.
    """
    from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 4).alias("x"))
    # opt r16, measured REJECTION: pinning `rev` (`localCheckpoint`)
    # before the rank read SLOWER — the range-partitioner's sample pass
    # only re-runs the final aggregate above the groupBy exchange (the
    # shuffle files are reused across the sample and fill passes), which
    # is cheaper than the checkpoint barrier.  Order-alternated A/B at
    # sf0.1, 8 reps: unpinned min 1.172 s vs ckpt 1.222 s, ckpt better
    # 2/8 pairwise (OPTIMIZATION_r16.md §C3).
    ranked = distributed_global_rank(rev, ["x", "o_custkey"])
    i = F.col("rank") + 1  # 0-based distributed rank -> textbook 1-based i
    out = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("x"), 4).alias("total_revenue"),
        F.round(
            (2 * F.sum(i * F.col("x")) - (F.count(F.lit(1)) + 1) * F.sum("x"))
            / (F.count(F.lit(1)) * F.sum("x")),
            6,
        ).alias("gini"),
    )
    from sparkml_som_spark.operators.registry import materialize_small

    return materialize_small(out)
