"""Third wave of relational coverage: the remaining classic TPC-H
query shapes (EXISTS/NOT EXISTS, multi-nation volume joins, HAVING on
join aggregates, disjunctive predicate pushdown, scalar subqueries),
plus lag/lead windows, range frames, unpivot, null semantics,
null-safe joins, JSON-map functions, decimal aggregates, date-spine
gap-fill, lag-based sessionization, multiset set ops, and TF-IDF.

Scale notes are per-query; the common rules: dimension tables
(nation/supplier/customer/part) are broadcast so the fact-table scan
never shuffles for the join build side, aggregates run
partial+final via Catalyst, and every predicate is expressed on scan
columns so it reaches the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table


@register(
    "q4_order_priority",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    desc="TPC-H Q4 shape: EXISTS correlated subquery as left-semi join",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line shipped >60 days after order date.
    The EXISTS becomes a left-semi hash join on l_orderkey; the date
    predicate rides the join condition so no post-join filter runs."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "q7_nation_volume",
    sql="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
    desc="TPC-H Q7 shape: cross-nation trade volume by year",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way join; every dimension side is broadcast so the only
    shuffle is lineitem->orders and the final (nation, nation, year)
    aggregation (bounded key space)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@register(
    "q9_product_profit",
    sql="""
    SELECT n_name AS nation, year(l_shipdate) AS o_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1), 4) AS profit
    FROM lineitem
    JOIN part     ON p_partkey   = l_partkey
    JOIN supplier ON s_suppkey   = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    GROUP BY 1, 2
    """,
    desc="TPC-H Q9 shape: profit by supplier nation and year",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit proxy (testdata has no partsupp: cost = 10% of retail).
    part/supplier/nation broadcast; single shuffle for the final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("p_retailprice") * F.col("l_quantity") * 0.1
                ),
                4,
            ).alias("profit")
        )
    )


@register(
    "q12_priority_class",
    sql="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """,
    desc="TPC-H Q12 shape: conditional counts after fact-fact join",
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    sql="""
    SELECT month(l_shipdate) AS m,
           ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE year(l_shipdate) = 1997
    GROUP BY 1
    """,
    desc="TPC-H Q14 shape: promo revenue share per month",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1997)
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.month("l_shipdate").alias("m"))
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "q16_supplier_variety",
    sql="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
    GROUP BY 1, 2
    """,
    desc="TPC-H Q16 shape: distinct-supplier counts per brand/size",
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) over a join: Catalyst expands to a two-level
    aggregate (distinct keys first, then count) — no driver round trip."""
    p = F.broadcast(load_table(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#1"))
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q18_large_orders",
    sql="""
    WITH big AS (
        SELECT l_orderkey, SUM(l_quantity) AS qty
        FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300
    )
    SELECT c_name, o_orderkey,
           ROUND(o_totalprice, 4) AS price,
           ROUND(qty, 4)          AS sum_qty
    FROM big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    """,
    desc="TPC-H Q18 shape: HAVING on join aggregate (large-volume orders)",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("price"),
            F.round("qty", 4).alias("sum_qty"),
        )
    )


@register(
    "q19_disjunctive_filter",
    sql="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_type = 'PROMO'   AND l_quantity BETWEEN 5  AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_type = 'ECONOMY' AND l_quantity BETWEEN 10 AND 30 AND p_size BETWEEN 5 AND 25)
       OR (p_brand = 'Brand#3' AND l_quantity >= 25)
    """,
    desc="TPC-H Q19 shape: disjunctive multi-column predicates over a join",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR-of-ANDs sits after the broadcast join; Catalyst still
    extracts the common l_quantity >= 5 / part-side bounds where it can."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    q, typ, size, brand = F.col("l_quantity"), F.col("p_type"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((typ == "PROMO") & q.between(5, 20) & size.between(1, 10))
        | ((typ == "ECONOMY") & q.between(10, 30) & size.between(5, 25))
        | ((brand == "Brand#3") & (q >= 25))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@register(
    "q22_dormant_rich_customers",
    sql="""
    SELECT c_mktsegment, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 4) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
    desc="TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS anti join",
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers who never placed an URGENT order
    (every testdata customer has orders, so plain no-orders would be
    vacuous). The scalar AVG is a 1-row broadcast cross join (stays in
    the plan, no driver collect); NOT EXISTS is a left-anti join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 4).alias("total_bal"))
    )


@register(
    "window_lag_lead",
    sql="""
    SELECT o_custkey, o_orderkey,
           ROUND(LAG(o_totalprice)  OVER w, 4) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 4) AS next_price,
           NTILE(4) OVER w                     AS quartile,
           ROUND(PERCENT_RANK() OVER w, 4)     AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4)        AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    desc="window offsets + distribution functions (lag/lead/ntile/percent_rank/cume_dist)",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 4).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@register(
    "window_trailing_7d",
    sql="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 4) AS trailing_7d
    FROM orders
    """,
    desc="RANGE frame: per-customer trailing-7-day revenue",
)
def window_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark range frames need a numeric ordering key — epoch seconds
    stand in for the timestamp; [-7 days, 0] inclusive matches DuckDB's
    interval RANGE frame."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-7 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("trailing_7d"),
    )


@register(
    "unpivot_part_metrics",
    sql="""
    SELECT p_type, 'p_retailprice' AS metric,
           ROUND(AVG(p_retailprice), 4) AS avg_val, COUNT(*) AS n
    FROM part GROUP BY p_type
    UNION ALL
    SELECT p_type, 'p_size',
           ROUND(AVG(CAST(p_size AS DOUBLE)), 4), COUNT(*)
    FROM part GROUP BY p_type
    """,
    desc="unpivot (wide->long) + per-metric aggregate",
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native `unpivot`; the oracle expresses the same relation as
    UNION ALL (engine-portable formulation of the identical result)."""
    p = load_table(spark, sf_dir, "part").withColumn(
        "p_size", F.col("p_size").cast("double")
    )
    long = p.unpivot(
        ids=["p_type"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.groupBy("p_type", "metric").agg(
        F.round(F.avg("val"), 4).alias("avg_val"), F.count("*").alias("n")
    )


@register(
    "null_count_semantics",
    sql="""
    SELECT l_returnflag,
           COUNT(*)                                        AS n_rows,
           COUNT(nullif(l_discount, 0))                    AS n_discounted,
           ROUND(AVG(nullif(l_discount, 0)), 4)            AS avg_nonzero_disc,
           ROUND(SUM(COALESCE(nullif(l_discount, 0), 0.05)), 4) AS disc_imputed
    FROM lineitem
    GROUP BY l_returnflag
    """,
    desc="null semantics: COUNT(col) vs COUNT(*), null-skipping AVG, COALESCE imputation",
)
def null_count_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nz = F.nullif(F.col("l_discount"), F.lit(0))
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count(nz).alias("n_discounted"),
        F.round(F.avg(nz), 4).alias("avg_nonzero_disc"),
        F.round(F.sum(F.coalesce(nz, F.lit(0.05))), 4).alias("disc_imputed"),
    )


@register(
    "nullsafe_join_flags",
    sql="""
    WITH a AS (
        SELECT nullif(l_returnflag, 'N') AS k, COUNT(*) AS n
        FROM lineitem GROUP BY 1
    ), b AS (
        SELECT nullif(l_returnflag, 'N') AS k, ROUND(SUM(l_quantity), 4) AS q
        FROM lineitem GROUP BY 1
    )
    SELECT a.k, a.n, b.q
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    desc="null-safe equality join (<=> / IS NOT DISTINCT FROM)",
)
def nullsafe_join_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A plain equi-join drops the NULL group; the null-safe operator
    keeps it — the semantic this entry pins down on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    k = F.nullif(F.col("l_returnflag"), F.lit("N"))
    a = li.groupBy(k.alias("k")).agg(F.count("*").alias("n"))
    b = li.groupBy(k.alias("k")).agg(F.round(F.sum("l_quantity"), 4).alias("q"))
    return a.alias("a").join(
        b.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k"))
    ).select(F.col("a.k").alias("k"), "a.n", "b.q")


@register(
    "map_json_keys_events",
    sql="""
    SELECT k AS key, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS INT)) AS BIGINT)
               AS sum_val
    FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
    GROUP BY 1
    """,
    desc="JSON->map explode: per-key counts and value sums",
)
def map_json_keys_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props parsed as map<string,int>; explode yields (key, value)
    rows — the map-column operator surface (from_json, explode-map)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.explode(F.from_json("props", "map<string,int>")).alias("key", "value"))
        .groupBy("key")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_val"))
    )


@register(
    "decimal_agg_lineitem",
    sql="""
    SELECT l_linestatus,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 4))) AS DOUBLE), 4)
               AS sum_price,
           ROUND(CAST(AVG(CAST(l_extendedprice AS DECIMAL(18, 4))) AS DOUBLE), 4)
               AS avg_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
    desc="exact decimal aggregation (cast back to double for cross-engine hash)",
)
def decimal_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sums run in DECIMAL(18,4) — exact, order-insensitive — then cast
    to double only for the comparison; at 100 TB decimal aggregation is
    what makes revenue totals reproducible run-to-run."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,4)")
    return li.groupBy("l_linestatus").agg(
        F.round(F.sum(dec).cast("double"), 4).alias("sum_price"),
        F.round(F.avg(dec).cast("double"), 4).alias("avg_price"),
    )


@register(
    "gapfill_daily_revenue",
    sql="""
    WITH spine AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                           INTERVAL 1 DAY)) AS DATE) AS day
    ), daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ROUND(SUM(o_totalprice), 4) AS revenue, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1995-04-01'
        GROUP BY 1
    )
    SELECT spine.day, COALESCE(daily.revenue, 0.0) AS revenue,
           COALESCE(daily.n_orders, 0) AS n_orders
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
    desc="time-series gap fill: generated date spine left-joined to daily aggregates",
)
def gapfill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spine is `sequence()` + explode — generated, not read; the
    daily aggregate is bounded by days, so the join broadcasts."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"), F.count("*").alias("n_orders"))
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1995-01-01")),
                F.to_date(F.lit("1995-03-31")),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "sessionize_lag_gaps",
    sql="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM flagged
    )
    SELECT user_id, sess_id, COUNT(*) AS n_events,
           date_diff('second', MIN(ts), MAX(ts)) AS dur_s
    FROM sess
    GROUP BY 1, 2
    """,
    desc="gap-based sessionization via lag + running sum (30-min inactivity)",
)
def sessionize_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic lag/cumsum sessionizer — same 30-min-gap semantics as
    session_window_events but built from window primitives, which is
    what you reach for when the grouping rule isn't a plain timeout."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        ev.withColumn("sess_id", F.sum(new_sess).over(run))
        .groupBy("user_id", "sess_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("dur_s"),
        )
    )


def two_phase_sessionize(
    ev: DataFrame,
    gap_minutes: int = 30,
    bucket: str = "day",
) -> DataFrame:
    """Skew-resilient gap sessionization: identical output to the
    single-window lag/cumsum sessionizer, but no stage ever holds one
    user's full event history in a single task.

    `Window.partitionBy(user_id)` is the textbook shape but a hot user
    (one account with 90% of events — bots, service accounts) funnels
    its entire history through ONE window task: the skew probe measures
    5.8x wall at 100x rows for exactly that reason.  Two phases fix the
    cliff while preserving exact semantics:

    1. LOCAL: sessionize within (user_id, time-bucket) partitions —
       the hot user's rows split across buckets, so the widest window
       task is bounded by events-per-bucket, not events-per-user.
       Pick `bucket` (day default; hour at higher densities) so that
       bound holds at the target scale.
    2. MERGE at SESSION level: the same gap rule runs per user over
       the LOCAL SESSIONS (rows = sessions, not events — smaller by
       the average session size), merging exactly the bucket-boundary-
       adjacent pairs; the running sum of merge flags reproduces the
       event-level session ordinal exactly.

    Output: (user_id, sess_id, n_events, dur_s) with sess_id the
    1-based per-user session ordinal — bit-identical to
    `sessionize_lag_gaps` (the registered entry shares its oracle)."""
    gap = F.expr(f"INTERVAL {gap_minutes} MINUTES")
    bucketed = ev.withColumn("bkt", F.date_trunc(bucket, F.col("ts")))

    # phase 1: local sessions inside each (user, bucket).  This is the
    # ONLY stage that touches event-level rows; the map-side partial
    # aggregation below collapses them to session-level before any
    # further shuffle, so exactly one wide exchange sees the raw data.
    w1 = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w1)
    new_local = F.when(prev.isNull() | (F.col("ts") > prev + gap), 1).otherwise(0)
    local = bucketed.withColumn(
        "ls", F.sum(new_local).over(w1.rowsBetween(Window.unboundedPreceding, 0))
    )
    sess_loc = local.groupBy("user_id", "bkt", "ls").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("s_ts"),
        F.max("ts").alias("e_ts"),
    )

    # phase 2: the SAME gap rule, applied at session level.  Local
    # sessions within a bucket are > gap apart by construction, so
    # running lag/cumsum over each user's local sessions (ordered by
    # start time — strictly increasing per user, since bucket
    # boundaries partition time) merges exactly the boundary-adjacent
    # pairs and reproduces the event-level running session count.
    # This window holds sessions, not events: bounded by
    # events/avg-session-size, and a denser corpus just picks a finer
    # bucket (hour) to keep phase 1 bounded too.
    w2 = Window.partitionBy("user_id").orderBy("s_ts", "bkt", "ls")
    prev_e = F.lag("e_ts").over(w2)
    new_glob = F.when(prev_e.isNull() | (F.col("s_ts") > prev_e + gap), 1).otherwise(0)
    stitched = sess_loc.withColumn(
        "sess_id",
        F.sum(new_glob).over(w2.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return stitched.groupBy("user_id", "sess_id").agg(
        F.sum("n_events").alias("n_events"),
        (F.unix_timestamp(F.max("e_ts")) - F.unix_timestamp(F.min("s_ts"))).alias(
            "dur_s"
        ),
    )


@register(
    "sessionize_two_phase",
    sql="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        FROM flagged
    )
    SELECT user_id, sess_id, COUNT(*) AS n_events,
           date_diff('second', MIN(ts), MAX(ts)) AS dur_s
    FROM sess
    GROUP BY 1, 2
    """,
    desc="skew-resilient two-phase sessionization (per-bucket local sessions + bucket-boundary merge); oracle = the single-window lag/cumsum form, results identical",
)
def sessionize_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`two_phase_sessionize` over the events table.  The oracle is the
    SAME SQL as `sessionize_lag_gaps` — two independent algorithms
    (single global window vs bucket-local + boundary merge) must
    produce identical sessions, so any stitch bug (lost merge, off-by-
    one offset, boundary tie) breaks the value hash.  Scale shape:
    widest window task is bounded by events-per-(user, day), and the
    merge/offset windows run over calendar-bounded bucket rows — see
    the hot-user skew probe (SCALE.md) for the measured contrast with
    the single-window form."""
    return two_phase_sessionize(load_table(spark, sf_dir, "events"))


@register(
    "set_except_all_qty",
    sql="""
    SELECT CAST(l_quantity AS INT) AS q FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT CAST(l_quantity AS INT) FROM lineitem WHERE l_returnflag = 'A'
    """,
    desc="multiset EXCEPT ALL (bag difference of quantity distributions)",
)
def set_except_all_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("int").alias("q")
    r = li.where(F.col("l_returnflag") == "R").select(q)
    a = li.where(F.col("l_returnflag") == "A").select(q)
    return r.exceptAll(a)


@register(
    "set_intersect_all_qty",
    sql="""
    SELECT CAST(l_quantity AS INT) AS q FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 40
    INTERSECT ALL
    SELECT CAST(l_quantity AS INT) FROM lineitem
    WHERE l_returnflag = 'A' AND l_quantity > 40
    """,
    desc="multiset INTERSECT ALL (min-multiplicity bag intersection)",
)
def set_intersect_all_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("int").alias("q")
    r = li.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 40)).select(q)
    a = li.where((F.col("l_returnflag") == "A") & (F.col("l_quantity") > 40)).select(q)
    return r.intersectAll(a)


@register(
    "tfidf_top_terms",
    sql="""
    WITH tf AS (
        SELECT doc_id, w AS term, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
        GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, COUNT(*) AS d FROM tf GROUP BY 1
    ), nd AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, ROUND(c * ln(n * 1.0 / d), 4) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY c * ln(n * 1.0 / d) DESC, term) <= 3
    """,
    desc="TF-IDF: top-3 characteristic terms per document, fully SQL-checkable",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF from first principles (tf x ln(N/df)) so the oracle can
    verify it — the HashingTF pipeline variant (text_som_topics) trades
    exactness for fixed-width features; this one is the exact twin.
    Document frequency is derived from the tf relation (already one row
    per doc/term) — no second pass over raw tokens."""
    from sparkml_som_spark.functions import word_tokens

    docs = load_table(spark, sf_dir, "documents", spread=True)
    tf = (
        docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
        # tf feeds dfreq AND the scoring join under different exchange
        # keys, so its reduce-side aggregate would run twice (opt r15,
        # guide §2.4; interleaved A/B at sf0.1: 0.91 s vs 1.12 s
        # min-of-4).  Bounded at one row per (doc, distinct term).
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("d"))
    nd = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("tfidf_raw", F.col("c") * F.log(F.col("n") * 1.0 / F.col("d")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", F.round("tfidf_raw", 4).alias("tfidf"))
    )
