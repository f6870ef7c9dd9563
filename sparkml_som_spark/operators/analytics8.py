"""Analytics operators, round 5 fifth wave: a distributed prefix-scan
(running max) generalizing the two-phase global rank, the Pareto
frontier built on it, complex-event pattern detection with a negation
constraint, and distributed centroid computation over array columns.

Scale discipline, per operator:

- `distributed_prefix_max` is the second instance of the two-phase
  prefix-scan pattern `distributed_global_rank` established: range
  repartition + pinned blocks, a bounded per-partition aggregate
  collect, broadcast prefix state, and a mapInPandas sweep — running
  aggregates over a total order WITHOUT the single-task
  `OVER (ORDER BY ...)` window;
- the Pareto frontier reduces to one grouped max (shuffle on the
  price key) plus that prefix-scan over the reduced table;
- CEP joins are all keyed on user_id (purchase->click as-of,
  click->purchase error negation) — co-partitioned, bounded range
  predicates, no cross join;
- centroids use posexplode + (label, dim) aggregation: the
  elementwise-mean shape that scales as ONE shuffle of dim-times the
  rows, with map-side combine doing almost all the reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkml_som_spark.operators.registry import broadcast, register
from sparkml_som_spark.sources import load_table


def distributed_prefix_max(
    df: DataFrame, order_col: str, value_col: str, n_parts: int = 8
) -> DataFrame:
    """Append ``prev_max`` = running max of `value_col` over all rows
    STRICTLY BEFORE each row in `order_col` order, without a
    single-task global window.

    Same two-phase shape as `distributed_global_rank` (corpus_ops3):
    range-repartition + local sort pinned by eager localCheckpoint (so
    both passes see identical partition boundaries), per-partition max
    collected (bounded: one double per partition), prefix-combined on
    the driver, broadcast, and a mapInPandas sweep carries the running
    max through each partition.  First row overall gets -inf (identity
    of max), so a strict `value > prev_max` comparison needs no null
    handling."""
    spark = df.sparkSession
    parted = (
        df.repartitionByRange(n_parts, order_col)
        .sortWithinPartitions(order_col)
        .localCheckpoint(eager=True)
    )
    pmax = {
        r["pid"]: r["m"]
        for r in parted.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.max(value_col).alias("m"))
        .collect()
    }
    prefix, acc = {}, float("-inf")
    for pid in sorted(pmax):
        prefix[pid] = acc
        acc = max(acc, pmax[pid])
    bc = broadcast(spark, prefix)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("prev_max", T.DoubleType())]
    )

    def sweep(it):
        from pyspark import TaskContext

        run = bc.value.get(TaskContext.get().partitionId(), float("-inf"))
        for pdf in it:
            prevs = []
            for v in pdf[value_col]:
                prevs.append(run)
                run = max(run, float(v))
            pdf = pdf.copy()
            pdf["prev_max"] = prevs
            yield pdf

    return parted.mapInPandas(sweep, out_schema)


# --------------------------------------------------------------------------
# 1. Pareto frontier (skyline) via the distributed prefix scan
# --------------------------------------------------------------------------


@register(
    "pareto_frontier_lineitems",
    sql="""
    WITH pq AS (
        SELECT DISTINCT l_extendedprice AS price, l_quantity AS qty
        FROM lineitem
    ), pm AS (
        SELECT price, MAX(qty) AS mq FROM pq GROUP BY 1
    ), r AS (
        SELECT price, mq,
               MAX(mq) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
        FROM pm
    )
    SELECT price, mq AS qty
    FROM r WHERE prev_max IS NULL OR mq > prev_max
    """,
    desc="Pareto frontier (min price, max quantity): grouped max + distributed two-phase prefix-max, no single-task window",
)
def pareto_frontier_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: the (price, quantity) pairs not DOMINATED by any
    other pair (another pair at most as expensive with at least the
    quantity, better in one) — the classic multi-criteria shortlist.

    The textbook formulation is a running max over the full price
    order; the oracle writes exactly that window.  The Spark side must
    not (single-task cliff), so it reduces first (per-price max — one
    shuffle on the key, map-side combined) and then runs
    `distributed_prefix_max` over the reduced table: range exchange,
    bounded per-partition-max collect, broadcast prefix, mapInPandas
    sweep.  A point survives iff its quantity strictly exceeds the
    running max over all strictly-cheaper prices — same-price
    dominance is already resolved by the grouped max."""
    li = load_table(spark, sf_dir, "lineitem")
    pq = li.select(
        F.col("l_extendedprice").alias("price"), F.col("l_quantity").alias("qty")
    ).distinct()
    pm = pq.groupBy("price").agg(F.max("qty").alias("mq"))
    r = distributed_prefix_max(pm, "price", "mq")
    return r.where(F.col("mq") > F.col("prev_max")).select(
        "price", F.col("mq").alias("qty")
    )


# --------------------------------------------------------------------------
# 2. complex-event pattern: click -> purchase with error negation
# --------------------------------------------------------------------------

_CEP_WINDOW_MIN = 30


@register(
    "cep_click_purchase_no_error",
    sql=f"""
    WITH p AS (
        SELECT event_id AS pid, user_id, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    ), last_click AS (
        SELECT p.pid, p.user_id, p.pts, MAX(c.cts) AS cts
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id
         AND c.cts < p.pts
         AND c.cts >= p.pts - INTERVAL {_CEP_WINDOW_MIN} MINUTE
        GROUP BY 1, 2, 3
    ), err AS (
        SELECT user_id, ts AS ets FROM events WHERE event_type = 'error'
    ), flagged AS (
        SELECT lc.pid, CAST(lc.pts AS DATE) AS day,
               lc.cts IS NOT NULL AS matched,
               lc.cts IS NOT NULL AND NOT EXISTS (
                   SELECT 1 FROM err
                   WHERE err.user_id = lc.user_id
                     AND err.ets > lc.cts AND err.ets < lc.pts
               ) AS clean
        FROM last_click lc
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM flagged
    GROUP BY day
    """,
    desc="CEP pattern with negation: purchase preceded by a click within 30 min and NO error between — MATCH_RECOGNIZE semantics as keyed joins",
)
def cep_click_purchase_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event detection with a NEGATION constraint — the
    MATCH_RECOGNIZE shape (`A then B within T, with no C between`)
    that plain funnels can't express: a purchase counts as `matched`
    if the same user clicked within the prior {_CEP_WINDOW_MIN}
    minutes, and `clean` only if NO error event intervened between
    that last click and the purchase.

    Distributed shape: the pattern decomposes into two user-keyed
    joins — an as-of (last click before purchase, bounded range) and
    an interval anti-check (errors inside the open interval).  Both
    co-partition on user_id; per-key fan-out is bounded by one user's
    events in the window.  No state machine, no ordered scan — the
    declarative decomposition is what lets Catalyst run a CEP pattern
    as ordinary shuffles."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("cts")
    )
    last_click = (
        p.join(
            c,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("cts") < F.col("pts"))
            & (
                F.col("cts")
                >= F.col("pts") - F.expr(f"INTERVAL {_CEP_WINDOW_MIN} MINUTES")
            ),
            "left",
        )
        .groupBy("pid", "p_user", "pts")
        .agg(F.max("cts").alias("cts"))
    )
    err = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("ets")
    )
    flagged = (
        last_click.join(
            err,
            (F.col("e_user") == F.col("p_user"))
            & (F.col("ets") > F.col("cts"))
            & (F.col("ets") < F.col("pts")),
            "left",
        )
        .groupBy("pid", "pts", "cts")
        .agg(F.count("e_user").alias("n_err"))
        .select(
            F.to_date("pts").alias("day"),
            F.col("cts").isNotNull().alias("matched"),
            (F.col("cts").isNotNull() & (F.col("n_err") == 0)).alias("clean"),
        )
    )
    return flagged.groupBy("day").agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.when(F.col("matched"), 1).otherwise(0)).alias("n_matched"),
        F.sum(F.when(F.col("clean"), 1).otherwise(0)).alias("n_clean"),
    )


# --------------------------------------------------------------------------
# 3. distributed centroids over an array column
# --------------------------------------------------------------------------


@register(
    "centroid_embeddings_by_label",
    sql="""
    SELECT e.label,
           CAST(t.i AS BIGINT) AS dim_idx,
           ROUND(SUM(CAST(ROUND(e.embedding[t.i]::DOUBLE * 10000000) AS BIGINT))
                 * 1.0 / COUNT(*) / 1000.0) / 10000.0 + 0.0 AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM embeddings e,
         unnest(generate_series(1, len(e.embedding))) AS t(i)
    GROUP BY 1, 2
    """,
    desc="distributed per-label centroids over the embedding array column: posexplode + (label, dim) map-side-combined mean",
)
def centroid_embeddings_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors — the E-step/
    prototype computation every vector workload needs (k-means
    centroids, class prototypes, nearest-centroid search seeds, the
    SOM-IVF coarse quantizer refresh).

    Distributed shape: posexplode fans each vector into (dim, value)
    rows and ONE aggregation keyed on (label, dim) computes the means —
    partial aggregation reduces almost everything map-side, so the
    exchange carries |labels| x dim rows per task regardless of corpus
    size.  This is the elementwise-mean shape that outscales any
    collect-and-average: no driver materialization, no UDF in the
    aggregate path.  Output is the bounded (labels x dims) table; dims
    are 1-based to match the oracle's list indexing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .groupBy("label", (F.col("pos") + 1).alias("dim_idx"))
        .agg(
            # engine-identical 4-decimal mean: components quantize to
            # EXACT integer 1e-7 units (integer sums are
            # order-independent below 2^53 — a raw double AVG folds in
            # engine-dependent order), the mean rounds at the INTEGER
            # position in 1e-4 units (integer-position ROUND of a
            # shared double is engine-safe; fractional ROUND is not —
            # Spark rounds the shortest decimal repr, DuckDB the binary
            # value), and the division to decimal happens after.
            # + 0.0 normalizes signed zero (caught by the r12 strict
            # canon at sf0.001).  Quantization moves each component by
            # < 5e-8, invisible at 4 decimals except at the knife edges
            # it exists to pin.
            (
                F.round(
                    F.sum(F.round(F.col("val") * 10000000, 0).cast("long"))
                    * 1.0
                    / F.count(F.lit(1))
                    / 1000.0,
                    0,
                )
                / 10000.0
                + F.lit(0.0)
            ).alias("centroid"),
            F.count("*").alias("n"),
        )
    )
