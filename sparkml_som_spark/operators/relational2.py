"""Second wave of relational coverage: grouping sets, percentiles,
pivot, range join, correlated subquery, SQL-text front end,
deterministic sampling, array math, date arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import load_table


@register(
    "grouping_sets_sales",
    sql="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           COUNT(*)                  AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    desc="explicit GROUPING SETS",
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # SQL-text path on purpose: exercises the parser front end too.
    # DataFrame template arg instead of a temp view — registering a view
    # named "lineitem" would shadow any same-named view the harness owns.
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               COUNT(*)                  AS n
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=li,
    )


@register(
    "percentiles_event_value",
    sql="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.9), 4)  AS p90,
           ROUND(MIN(value), 4)                 AS vmin,
           ROUND(MAX(value), 4)                 AS vmax
    FROM events
    GROUP BY event_type
    """,
    desc="exact interpolated percentiles per group",
)
def percentiles_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark `percentile` (exact, linear interpolation) == DuckDB
    quantile_cont. For the 100 TB path swap in approx_percentile —
    registered separately as a rows-only entry since sketches differ
    across engines."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


@register(
    "approx_distinct_users",
    sql="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
    desc="approx_count_distinct (HLL) per event_type, error-bound guard under full oracle",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch itself is engine-specific, but its ERROR CONTRACT
    is not: the sketch estimate must land within 5% of the exact
    distinct count (rsd=0.01 — 5 sigma of slack).  HLL is deterministic
    for fixed data (hashes + max-per-register merge, layout-
    independent), so the guard boolean is a stable full-oracle value —
    the same shape a 100 TB pipeline uses to audit its sketch-based
    dashboards against a periodic exact pass."""
    ev = load_table(spark, sf_dir, "events")
    # opt r15: pre-deduplicate once, then run BOTH sides of the guard
    # over the distinct (event_type, user_id) pairs.  HLL insertion is
    # idempotent (max-per-register), so the sketch state — and the
    # estimate — is bit-identical over the deduped set, while the exact
    # count becomes a plain count(*): this drops the mixed
    # distinct/non-distinct aggregate's Expand machinery (interleaved
    # A/B at sf0.1: 0.80 s vs 1.88 s min-of-5, equal results).
    dd = ev.select("event_type", "user_id").distinct()
    # count("user_id"), not count(*): over the distinct pairs they differ
    # only on a (event_type, NULL) row, which COUNT(DISTINCT user_id) —
    # the pre-r15 form AND the oracle — excludes.  Shipped data has no
    # NULL user_ids (bit-identical today); this keeps the NULL semantics
    # aligned for free (ADVICE r15 #1).
    approx_ok = (
        F.abs(F.approx_count_distinct("user_id", rsd=0.01) - F.count("user_id"))
        <= 0.05 * F.count("user_id")
    )
    return dd.groupBy("event_type").agg(
        F.count("user_id").alias("exact_users"),
        approx_ok.alias("approx_ok"),
    )


@register(
    "from_json_events_struct",
    sql="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT)      AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 7  AS k_mod
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) > 80
    """,
    desc="from_json schema parse -> struct field access + filter",
)
def from_json_events_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON: from_json parses once into a typed struct
    (vs get_json_object re-parsing per extraction) — the right call when
    several fields are pulled from the same JSON column at scale."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return (
        parsed.where(F.col("p.k") > 80)
        .select(
            "event_id",
            F.col("p.k").alias("k"),
            (F.col("p.k") % 7).alias("k_mod"),
        )
    )


@register(
    "approx_percentile_prices",
    sql="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
           CAST(COUNT(*) AS BIGINT)                   AS n,
           TRUE AS approx_ok
    FROM orders
    GROUP BY o_orderstatus
    """,
    desc="approx_percentile sketch vs exact percentile per order status, error-bound guard under full oracle",
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch path for the 100 TB case (exact percentile needs a full
    sort per group).  The GK sketch's value is engine-specific, but its
    error contract is checkable: at accuracy=10000 the median estimate
    must land within 1% of the exact median, and the guard boolean plus
    the exact values ride the full value-hash oracle."""
    orders = load_table(spark, sf_dir, "orders")
    approx = F.percentile_approx("o_totalprice", 0.5, 10000)
    exact = F.percentile("o_totalprice", F.lit(0.5))
    return orders.groupBy("o_orderstatus").agg(
        F.round(exact, 4).alias("p50_exact"),
        F.count("*").alias("n"),
        (F.abs(approx - exact) <= 0.01 * exact).alias("approx_ok"),
    )


@register(
    "pivot_event_matrix",
    sql="""
    SELECT user_id % 10 AS user_bucket,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_bucket
    """,
    desc="pivot: event-type count matrix per user bucket",
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit pivot values keep the plan a single pass (no extra job to
    discover the domain) — required practice at scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        # fill only the pivoted count columns: an unscoped fill would also
        # rewrite a NULL user_bucket key to 0 and fold it into a real group
        .na.fill(0, subset=["click", "view", "purchase", "signup", "error"])
    )


@register(
    "range_join_price_bands",
    sql="""
    SELECT b.band_name,
           COUNT(*)                        AS n_orders,
           ROUND(SUM(o_totalprice), 4)     AS band_value
    FROM orders o
    JOIN (VALUES ('small', 0.0, 100000.0),
                 ('medium', 100000.0, 300000.0),
                 ('large', 300000.0, 1e18)) AS b(band_name, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_name
    """,
    desc="range (non-equi) join against a bands dimension",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the bands side is tiny and broadcast, so the non-equi join
    is a BroadcastNestedLoopJoin over 3 rows — constant work per fact
    row, no shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [("small", 0.0, 100000.0), ("medium", 100000.0, 300000.0), ("large", 300000.0, 1e18)],
        "band_name string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("band_value"),
        )
    )


@register(
    "correlated_subquery_acctbal",
    sql="""
    SELECT c_custkey, ROUND(c_acctbal, 4) AS acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal)
                       FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
    desc="correlated scalar subquery (above-nation-average customers)",
)
def correlated_subquery_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-correlated by hand into a window average — the plan Spark's
    optimizer would rewrite to anyway, minus the risk: one shuffle on
    nationkey, no per-row subquery execution."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return (
        cust.withColumn("nation_avg", F.avg("c_acctbal").over(w))
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", F.round("c_acctbal", 4).alias("acctbal"))
    )


@register(
    "cte_sql_text",
    sql="""
    WITH big_orders AS (
        SELECT o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 250000
    )
    SELECT c_mktsegment,
           COUNT(*)                    AS n_big_orders,
           ROUND(SUM(o_totalprice), 4) AS big_value
    FROM big_orders
    JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    desc="SQL-text front end: CTE + join over registered views",
)
def cte_sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same SQL text runs on both engines — demonstrates the spark.sql
    front end. Tables are passed as DataFrame template args rather than
    temp views so we never shadow harness-owned view names."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(
        """
        WITH big_orders AS (
            SELECT o_custkey, o_totalprice
            FROM {orders}
            WHERE o_totalprice > 250000
        )
        SELECT c_mktsegment,
               COUNT(*)                    AS n_big_orders,
               ROUND(SUM(o_totalprice), 4) AS big_value
        FROM big_orders
        JOIN {customer} ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        """,
        orders=orders,
        customer=customer,
    )


@register(
    "sample_hash_deterministic",
    sql="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS price
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
    desc="deterministic 1/16 hash sample (engine-portable, unlike TABLESAMPLE)",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-mod sampling gives the same sample on every engine and every
    run — the property TABLESAMPLE can't offer; this is the right
    pattern for reproducible pipeline sampling at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    ).select("o_orderkey", F.round("o_totalprice", 4).alias("price"))


@register(
    "array_math_embeddings",
    sql="""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) AS l2_norm,
           ROUND(list_sum(embedding::DOUBLE[]) / len(embedding), 4)                  AS mean_val,
           ROUND(list_max(embedding::DOUBLE[]), 4)                                   AS max_val,
           len(embedding)                                                            AS dim
    FROM embeddings
    WHERE vec_id < 100
    """,
    desc="array math over embedding vectors (JVM-side higher-order fns)",
)
def array_math_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkml_som_spark.functions import asum, norm2

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.where(F.col("vec_id") < 100).select(
        "vec_id",
        F.round(F.sqrt(norm2(v)), 4).alias("l2_norm"),
        F.round(asum(v) / F.size(v), 4).alias("mean_val"),
        F.round(F.array_max(v), 4).alias("max_val"),
        F.size(v).alias("dim"),
    )


@register(
    "date_arith_ship_latency",
    sql="""
    SELECT o_orderpriority,
           ROUND(AVG(date_diff('day', o_orderdate::DATE, l_shipdate::DATE)), 4) AS avg_ship_days,
           MAX(date_diff('day', o_orderdate::DATE, l_shipdate::DATE))           AS max_ship_days,
           COUNT(*)                                                             AS n
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY o_orderpriority
    """,
    desc="date arithmetic: order-to-ship latency per priority",
)
def date_arith_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    days = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.avg(days), 4).alias("avg_ship_days"),
            F.max(days).alias("max_ship_days"),
            F.count("*").alias("n"),
        )
    )
