"""Analytics operators, round 5 fourth wave: equi-depth histograms on
the scale-safe global rank, multi-touch marketing attribution, robust
(median/MAD) outlier statistics, and a compliance-delete tombstone
audit.

Scale discipline, per operator:

- the equi-depth histogram needs a TOTAL-ORDER rank; it composes the
  pinned two-phase `distributed_global_rank` (range repartition +
  offset broadcast) instead of the single-task `ROW_NUMBER() OVER
  (ORDER BY ...)` cliff, then aggregates to the bounded bucket table;
- attribution joins purchases to prior clicks ON THE USER KEY with a
  time-range predicate — co-partitioned by user, never a cross join —
  and the per-purchase touch count is a window partitioned by the
  purchase id (bounded per key, no global window);
- robust stats aggregate the stream to per-group percentiles (one
  shuffle), broadcast the bounded stats row back onto the group, and
  count outliers in the same pass shape as `anomaly_zscore_daily`;
- the delete audit applies the tombstone set as ONE broadcast join
  with conditional aggregation — the delete list is bounded by
  erasure requests, never corpus-scale, and the fact table is read
  once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import load_table


# --------------------------------------------------------------------------
# 1. equi-depth histogram via the two-phase global rank
# --------------------------------------------------------------------------

_EQD_BUCKETS = 20


@register(
    "histogram_equidepth_prices",
    sql=f"""
    WITH ranked AS (
        SELECT l_extendedprice,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) - 1 AS rnk,
               (SELECT COUNT(*) FROM lineitem) AS n
        FROM lineitem
    )
    SELECT CAST((rnk * {_EQD_BUCKETS}) // n AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM ranked
    GROUP BY 1
    """,
    desc="equi-depth histogram: bucket boundaries from the two-phase distributed global rank, never a single-task ROW_NUMBER",
)
def histogram_equidepth_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) price histogram — the bucketing a cost
    optimizer or feature binner wants when the distribution is skewed
    and equi-WIDTH buckets collapse into one hot bin.

    Equi-depth needs every row's global rank under a total order.  The
    oracle writes the textbook `ROW_NUMBER() OVER (ORDER BY ...)`; the
    Spark side must NOT — that window funnels the corpus through one
    task.  Instead it composes the pinned two-phase
    `distributed_global_rank` (range repartition, bounded per-partition
    count collect, offset broadcast) and derives
    ``bucket = rank * k DIV n`` — exact integer arithmetic, identical
    to the oracle's assignment, followed by a bounded k-row aggregate.
    The tiebreaker (orderkey, linenumber) makes the order total, so
    ranks — and therefore bucket populations — are engine-exact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    total: list = []
    ranked = distributed_global_rank(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"], total_out=total
    )
    # N from the rank helper's own partition counts — a separate
    # li.count() job would re-derive a number the helper already summed
    # (opt r16, guide §1.2)
    n = total[0]
    out = (
        ranked.select(
            F.expr(f"(rank * {_EQD_BUCKETS}) DIV {n}").alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )
    from sparkml_som_spark.operators.registry import materialize_small

    return materialize_small(out)


# --------------------------------------------------------------------------
# 2. multi-touch attribution
# --------------------------------------------------------------------------

_ATTR_WINDOW_DAYS = 7


@register(
    "attribution_multi_touch",
    sql=f"""
    WITH purchases AS (
        SELECT event_id AS pid, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT event_id AS cid, user_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ), pc AS (
        SELECT p.pid, CAST(c.cts AS DATE) AS cday,
               COUNT(*) OVER (PARTITION BY p.pid) AS n_touch
        FROM purchases p
        JOIN clicks c
          ON c.user_id = p.user_id
         AND c.cts < p.pts
         AND c.cts >= p.pts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
    )
    SELECT cday AS day,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases_touched,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(1.0 / n_touch), 4) AS credit
    FROM pc
    GROUP BY 1
    """,
    desc="linear multi-touch attribution: each purchase's credit split equally over the user's clicks in the prior 7 days",
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase distributes one
    unit of credit equally across the SAME user's click events in the
    preceding {_ATTR_WINDOW_DAYS} days, and credit rolls up by click
    day — the marketing-analytics complement to the first/last-touch
    shapes (`asof_join_signup_attribution` is last-touch).

    Scale shape: the purchases-to-clicks join is keyed on user_id with
    a bounded time-range predicate — co-partitioned by user, the same
    equi-plus-range shape as the interval join, never a cross join.
    The per-purchase touch count is a window PARTITIONED BY the
    purchase id (fan-in bounded by one user's clicks-per-week), and
    the rollup aggregates to the bounded day table.  Credit sums are
    rounded once at the bounded output, house-style."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("cts")
    )
    pc = purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS")),
    ).select("pid", F.to_date("cts").alias("cday"))
    pc = pc.withColumn("n_touch", F.count("*").over(Window.partitionBy("pid")))
    return pc.groupBy(F.col("cday").alias("day")).agg(
        F.countDistinct("pid").alias("n_purchases_touched"),
        F.count("*").alias("n_touches"),
        F.round(F.sum(F.lit(1.0) / F.col("n_touch")), 4).alias("credit"),
    )


# --------------------------------------------------------------------------
# 3. robust (median/MAD) outlier statistics
# --------------------------------------------------------------------------


@register(
    "robust_mad_event_values",
    sql="""
    WITH med AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 4) AS med
        FROM events GROUP BY 1
    ), mad AS (
        SELECT e.event_type,
               ROUND(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY 1
    )
    SELECT e.event_type, m.med, d.mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN abs(e.value - m.med)
                              > 2.0 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY 1, 2, 3
    """,
    desc="robust per-group outlier stats: median + MAD (both rounded once), outlier counts at 2 robust sigmas",
)
def robust_mad_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per event type: median and median-absolute-
    deviation (the outlier-resistant sigma; 1.4826*MAD estimates the
    stddev under normality), plus the count of values beyond 2 robust
    sigmas — the screen that still works when the mean itself is
    dragged by the outliers a z-score would have to detect.

    Determinism: both engines interpolate percentiles with the same
    linear rule; each percentile is ROUNDed once at its bounded
    per-group row, and the outlier predicate then compares against the
    agreed constants — the same quarantine-the-aggregate pattern as
    `feature_scale_lineitem`.

    Scale shape: two grouped percentile aggregates (each one shuffle on
    the group key; the second pass joins the broadcast 5-row median
    table onto the scan) and a final conditional count in the same
    shape.  Exact medians at 100 TB would switch to
    `approx_percentile` with an error contract — the sketch-guard
    pattern `approx_percentile_prices` already demonstrates."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 4
            ).alias("mad")
        )
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(2.0) * F.lit(1.4826) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# 4. compliance-delete tombstone audit
# --------------------------------------------------------------------------


@register(
    "delete_tombstone_audit",
    sql="""
    WITH tombstones AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    SELECT CAST(e.ts AS DATE) AS day,
           CAST(SUM(CASE WHEN t.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
           CAST(SUM(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deleted,
           CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS n_users_deleted
    FROM events e LEFT JOIN tombstones t ON e.user_id = t.user_id
    GROUP BY 1
    """,
    desc="right-to-erasure audit: tombstone set applied as one broadcast join, per-day retained/deleted accounting",
)
def delete_tombstone_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance-delete (right-to-erasure) audit: a tombstone set of
    users (here: anyone who logged an error event, standing in for an
    erasure-request list) is applied to the event log, and the audit
    reports per-day how many rows survive, how many are purged, and
    how many distinct tombstoned users were touched — the numbers a
    deletion job must report before the rewrite is committed.

    Scale shape: the tombstone list is bounded by erasure requests and
    BROADCASTS; the fact table is read once with conditional
    aggregation (no second scan for the deleted side, no anti-join
    followed by a separate semi-join).  The actual rewrite at 100 TB
    pairs this audit with the partition-pruned overwrite the
    `sink_partitioned_pruned_scan` entry demonstrates — only
    partitions containing tombstoned rows are rewritten."""
    ev = load_table(spark, sf_dir, "events")
    tomb = (
        ev.where(F.col("event_type") == "error")
        .select(F.col("user_id").alias("t_user"))
        .distinct()
    )
    return (
        ev.join(F.broadcast(tomb), ev.user_id == F.col("t_user"), "left")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("t_user").isNull(), 1).otherwise(0)
            ).alias("n_retained"),
            F.sum(
                F.when(F.col("t_user").isNotNull(), 1).otherwise(0)
            ).alias("n_deleted"),
            F.countDistinct("t_user").alias("n_users_deleted"),
        )
    )


# --------------------------------------------------------------------------
# 5. mergeable-sketch rolling distinct (pre-aggregated HLL union)
# --------------------------------------------------------------------------


@register(
    "sketch_merge_rolling_distinct",
    sql=f"""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), spine AS (
        SELECT DISTINCT day FROM ud
    )
    SELECT s.day,
           CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau_exact,
           TRUE AS est_within_5pct
    FROM spine s
    JOIN ud ON ud.day <= s.day AND ud.day >= s.day - {_ATTR_WINDOW_DAYS - 1}
    GROUP BY s.day
    """,
    desc="mergeable-sketch rolling distinct: per-day HLL sketches unioned into trailing-7-day estimates, 5% guard vs the exact count",
)
def sketch_merge_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY story behind sketches — the reason they matter
    at 100 TB: build ONE HLL sketch per day (each day's data scanned
    once, ever), then answer any trailing-window distinct question by
    UNIONING the per-day sketches — no rescan, no re-shuffle of raw
    rows.  `rolling_active_users` pays a x7 fan-out of the distinct
    pairs per window; the sketch path unions 7 fixed-size sketch
    buffers per anchor day, which is how a feature store serves
    "distinct users, trailing N days" for any N from daily
    pre-aggregates.

    The estimate is engine-specific (DuckDB has no DataSketches HLL),
    so the emitted contract is the guard pattern
    `approx_distinct_users` established: the exact count plus a
    boolean asserting the merged-sketch estimate landed within 5% —
    the oracle replays the exact side and pins the guard TRUE."""
    ev = load_table(spark, sf_dir, "events")
    daily_sk = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    spine = daily_sk.select(F.col("day").alias("anchor"))
    # each day contributes to exactly the 7 anchors [day, day+6]: a
    # constant fan-out + EQUI-join on the anchor (no non-equi range
    # join in the plan); anchors past the observed range are dropped
    # by the equi semi-filter against the bounded spine
    fan = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), _ATTR_WINDOW_DAYS - 1))
    ).alias("anchor")
    merged = (
        daily_sk.select("sk", fan)
        .join(F.broadcast(spine), "anchor", "left_semi")
        .groupBy("anchor")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    exact = (
        ud.select("user_id", fan)
        .join(F.broadcast(spine), "anchor", "left_semi")
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    return exact.join(merged, "anchor").select(
        F.col("anchor").alias("day"),
        "wau_exact",
        (
            F.abs(F.col("est") - F.col("wau_exact"))
            <= F.lit(0.05) * F.col("wau_exact")
        ).alias("est_within_5pct"),
    )


# --------------------------------------------------------------------------
# 6. BFS reachability as frontier joins
# --------------------------------------------------------------------------

_BFS_SOURCE = 0  # start nation
_BFS_HOPS = 3


@register(
    "reachability_3hop_nations",
    sql=f"""
    WITH e0 AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        GROUP BY 1, 2
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_e, CAST(SUM(w) AS BIGINT) AS tot
        FROM e0
    ), e AS (
        SELECT src, dst FROM e0, stats
        WHERE src <> dst AND 2 * w * n_e >= 3 * tot
    ), h0 AS (
        SELECT {_BFS_SOURCE} AS v
    ), h1 AS (
        SELECT DISTINCT e.dst AS v FROM e JOIN h0 ON e.src = h0.v
        WHERE e.dst NOT IN (SELECT v FROM h0)
    ), h2 AS (
        SELECT DISTINCT e.dst AS v FROM e JOIN h1 ON e.src = h1.v
        WHERE e.dst NOT IN (SELECT v FROM h0 UNION SELECT v FROM h1)
    ), h3 AS (
        SELECT DISTINCT e.dst AS v FROM e JOIN h2 ON e.src = h2.v
        WHERE e.dst NOT IN (SELECT v FROM h0 UNION SELECT v FROM h1
                            UNION SELECT v FROM h2)
    ), reach AS (
        SELECT v, 0 AS hop FROM h0
        UNION ALL SELECT v, 1 FROM h1
        UNION ALL SELECT v, 2 FROM h2
        UNION ALL SELECT v, 3 FROM h3
    )
    SELECT n.n_nationkey, n.n_name, CAST(reach.hop AS BIGINT) AS hop
    FROM reach JOIN nation n ON n.n_nationkey = reach.v
    """,
    desc="BFS reachability (3 hops, strong-edge subgraph) as frontier joins with visited-set anti-joins",
)
def reachability_3hop_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability over the STRONG edges of the nation
    trade graph (edges with weight >= 1.5x the mean, an exact integer
    predicate so the subgraph is engine-identical): which nations are
    reachable from nation {_BFS_SOURCE} in at most {_BFS_HOPS} hops,
    and at which minimum hop count.

    BFS distributes as frontier expansion: each hop is one equi-join
    (frontier x edges) followed by an anti-join against the visited
    set — the iterative-joins shape `dedup_connected_components` uses,
    with hop labeling instead of label propagation.  All iteration
    state here is vertex-bounded and broadcasts; the one corpus-scale
    pass is the edge aggregation (shared shape with
    `pagerank_nation_flows`)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        # opt r15: e0 is consumed twice — the stats collect below AND the
        # strong-edge filter — so the corpus-scale join+aggregate ran
        # twice (guide §2.4; interleaved A/B at sf0.1: 1.56 s vs 1.80 s
        # min-of-4).  Bounded at nations^2 rows.
        .localCheckpoint()
    )
    stats = e0.agg(F.count("*").alias("n_e"), F.sum("w").alias("tot")).collect()[0]
    n_e, tot = stats["n_e"], stats["tot"]
    edges = (
        e0.where(
            (F.col("src") != F.col("dst"))
            & (2 * F.col("w") * F.lit(n_e) >= 3 * F.lit(tot))
        )
        .select("src", "dst")
        .localCheckpoint()  # bounded; reused every hop
    )

    visited = local_frame(nation.sparkSession, [(_BFS_SOURCE, 0)], "v int, hop int")
    frontier = visited.select("v")
    for hop in range(1, _BFS_HOPS + 1):
        nxt = (
            edges.join(F.broadcast(frontier), edges.src == F.col("v"))
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(F.broadcast(visited.select("v")), "v", "left_anti")
            .withColumn("hop", F.lit(hop))
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("v")
    return visited.join(
        F.broadcast(nation), visited.v == nation.n_nationkey
    ).select("n_nationkey", "n_name", F.col("hop").cast("long").alias("hop"))
