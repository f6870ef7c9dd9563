"""Analytics operators, round 9 fifth wave: distributed bootstrap
inference and leakage-free point-in-time feature joins.

* ``poisson_bootstrap_ci`` — the Poisson bootstrap: the ONLY bootstrap
  that works at 100 TB, because it never resamples.  Each replicate
  reweights every row by a deterministic hash-derived Poisson(1) draw,
  so all 32 replicate means come out of ONE corpus pass as 64 parallel
  aggregates — no row duplication, no shuffle beyond one 64-value row.
* ``pit_feature_join`` — the feature-store staple: attach to each fact
  the dimension state valid STRICTLY BEFORE the fact's own timestamp
  (no label leakage).  Implemented as the union-and-carry as-of join
  (tag rows, one keyed sort-window, carry the last version forward)
  with the fact deliberately sorted BEFORE its own same-instant
  version; the ORACLE derives the same features through the closed-form
  cumulative-window identity instead, so the value hash proves the
  as-of machinery implements point-in-time semantics exactly.

Scale discipline: the bootstrap's shuffle payload is one row of 64
partial sums regardless of corpus size (map-side combine does the
rest), and the weights are pure row functions — no RNG state, no
sampling pass, reproducible across retries.  The PIT join is ONE
shuffle on the entity key followed by a window whose frame only looks
backward; dimension versions and facts co-partition, which is exactly
how a 100 TB feature store lays both out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table

# ---------------------------------------------------------------------------
# Poisson bootstrap

_BOOT_R = 32
# the halved-hash scheme below builds one h{p} column per PAIR of
# replicates (h{r//2}), so _BOOT_R must stay even or replicate
# _BOOT_R-1 would reference a column that was never built (explicit
# raise, not assert — survives python -O)
if _BOOT_R % 2:
    raise ValueError("_BOOT_R must be even: each md5 digest feeds 2 replicates")
# integer thresholds floor(CDF_Poisson(1)(k) * 2^60): a 60-bit md5 value
# compared against these yields the replicate weight with NO float in
# the draw — identical in both engines by integer comparison
_BOOT_THRESH = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
    1152920207336574720,
)


def _poisson_w(h):
    """Poisson(1) weight from a uniform 60-bit hash via inverse CDF —
    integer comparisons only."""
    w = F.lit(len(_BOOT_THRESH))
    for k in range(len(_BOOT_THRESH) - 1, -1, -1):
        w = F.when(h < _BOOT_THRESH[k], F.lit(k)).otherwise(w)
    return w


# r16 continuation, measured REJECTION: a size(filter(thresholds,
# t -> h >= t)) form of this inverse CDF (value-identical — strictly
# increasing thresholds make "count of thresholds <= h" equal the
# CASE's index) shrinks the expression tree ~3x, targeting the entry's
# measured driver gap (wall 4.45 s vs 1.10 s job time).  It LOST:
# order-alternated A/B at sf0.1, 6 reps — WHEN chain min 3.384 s vs
# HOF 3.859 s, HOF better 2/6 pairwise.  ArrayFilter is a
# codegen-fallback expression, so the interpreted per-row lambda cost
# exceeded the planning savings.  The WHEN chain stays.


_BOOT_CASE = (
    "CASE "
    + " ".join(f"WHEN h < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH))
    + f" ELSE {len(_BOOT_THRESH)} END"
)


@register(
    "poisson_bootstrap_ci",
    sql=f"""
    WITH hx AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS x, r.r AS r,
               CAST('0x' || substr(md5(o_orderkey::VARCHAR || ':' || CAST(r.r // 2 AS VARCHAR)),
                                   1 + 16 * (r.r % 2), 15) AS BIGINT) AS h
        FROM orders, (SELECT unnest(range({_BOOT_R})) AS r) r
    ),
    hw AS (
        SELECT r, x, {_BOOT_CASE} AS w FROM hx
    ),
    reps AS (
        SELECT r, SUM(w * x) / SUM(w) AS m FROM hw GROUP BY r
    ),
    pt AS (
        SELECT AVG(CAST(o_totalprice AS DOUBLE)) AS pm,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
    ),
    bs AS (
        SELECT AVG(m) AS bm,
               SQRT(SUM(POW(m - (SELECT AVG(m) FROM reps), 2)) / ({_BOOT_R} - 1)) AS se
        FROM reps
    )
    SELECT ROUND(pt.pm, 2) AS point_mean,
           pt.n AS n_orders,
           ROUND(bs.bm, 2) AS boot_mean,
           ROUND(bs.se, 4) AS boot_se,
           ROUND(pt.pm - 1.96 * bs.se, 2) AS ci_lo,
           ROUND(pt.pm + 1.96 * bs.se, 2) AS ci_hi
    FROM pt, bs
    """,
    desc=f"Poisson bootstrap ({_BOOT_R} replicates) for mean order price: hash-deterministic Poisson(1) reweighting, all replicates in one pass",
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams"): instead of resampling rows
    (impossible at 100 TB without full shuffles per replicate), each
    replicate r multiplies every row by an independent Poisson(1)
    weight — here drawn DETERMINISTICALLY from md5(orderkey:r//2)
    through an integer inverse-CDF (each 128-bit digest yields two
    60-bit uniforms, halving hash calls), so the "randomness" is
    reproducible across retries, engines, and partitionings.  All {r} replicate means
    come from one scan as 2x{r} parallel aggregates (sum w*x, sum w);
    the shuffle carries ONE row of partial sums.  SE = sample stddev
    of the replicate means; CI = point estimate +/- 1.96 SE.

    The jackknife twin (`jackknife_ratio_ci`) needs per-stratum
    sufficient statistics; the Poisson bootstrap needs nothing but a
    row hash — it is the uncertainty tool for metrics with no usable
    strata."""
    from sparkml_som_spark.sources import _spread

    # project to the two needed columns BEFORE spreading: _spread is a
    # full round-robin shuffle, so shuffling (key, price) instead of
    # whole orders rows cuts the shuffle payload ~5x
    orders = _spread(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    # one md5 feeds TWO replicates: a 128-bit digest holds two
    # independent 60-bit uniforms (hex chars 1-15 and 17-31), so the
    # scan pays _BOOT_R/2 hash calls per row, not _BOOT_R.  The hash
    # columns live in their own projection; each is referenced twice
    # downstream, and CollapseProject keeps non-cheap multi-referenced
    # aliases un-inlined, so the digest is computed once.
    hcols = [
        F.md5(
            F.concat_ws(":", F.col("o_orderkey").cast("string"), F.lit(str(p)))
        ).alias(f"h{p}")
        for p in range(_BOOT_R // 2)
    ]
    hashed = orders.select(F.col("o_totalprice").cast("double").alias("x"), *hcols)
    # opt r16: materialize the 32 draws in their OWN projection layer.
    # Each draw alias is referenced 9 times by its weight's threshold
    # CASE chain, and CollapseProject keeps non-cheap multi-referenced
    # aliases un-inlined (the same rule the h{p} layer already relies
    # on), so the hex->long conv() runs 32 times per row instead of 288
    # (plans/r16/poisson_bootstrap_ci_before.txt) — same integer
    # comparisons, bit-identical weights.
    dcols = []
    for r in range(_BOOT_R):
        p, half = divmod(r, 2)
        dcols.append(
            F.conv(F.substring(F.col(f"h{p}"), 1 + 16 * half, 15), 16, 10)
            .cast("long")
            .alias(f"d{r}")
        )
    drawn = hashed.select("x", *dcols)
    proj = drawn.select(
        "x", *[_poisson_w(F.col(f"d{r}")).alias(f"w{r}") for r in range(_BOOT_R)]
    )
    row = proj.agg(
        F.avg("x").alias("pm"),
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(f"w{r}") * F.col("x")).alias(f"sx{r}") for r in range(_BOOT_R)],
        *[F.sum(f"w{r}").alias(f"sw{r}") for r in range(_BOOT_R)],
    )
    means = F.array(*[F.col(f"sx{r}") / F.col(f"sw{r}") for r in range(_BOOT_R)])
    mbar = F.aggregate(means, F.lit(0.0), lambda a, m: a + m) / _BOOT_R
    row = row.withColumn("bm", mbar).withColumn(
        "se",
        F.sqrt(
            F.aggregate(
                means, F.lit(0.0), lambda a, m: a + F.pow(m - F.col("bm"), 2)
            )
            / (_BOOT_R - 1)
        ),
    )
    return row.select(
        F.round("pm", 2).alias("point_mean"),
        F.col("n").cast("long").alias("n_orders"),
        F.round("bm", 2).alias("boot_mean"),
        F.round("se", 4).alias("boot_se"),
        F.round(F.col("pm") - 1.96 * F.col("se"), 2).alias("ci_lo"),
        F.round(F.col("pm") + 1.96 * F.col("se"), 2).alias("ci_hi"),
    )


poisson_bootstrap_ci.__doc__ = poisson_bootstrap_ci.__doc__.format(r=_BOOT_R)


# ---------------------------------------------------------------------------
# Point-in-time feature join


@register(
    "pit_feature_join",
    sql="""
    WITH feats AS (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w
                   - CAST(ROUND(o_totalprice * 100) AS BIGINT) AS prior_spend_c,
               ROW_NUMBER() OVER w - 1 AS prior_orders
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT c.c_mktsegment AS segment,
           CASE WHEN f.prior_orders >= 3 THEN '3+'
                ELSE CAST(f.prior_orders AS VARCHAR) END AS prior_band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(f.prior_spend_c) * 1.0 / COUNT(*)) / 100.0
               AS avg_prior_spend,
           ROUND(SUM(f.price_c) * 1.0 / COUNT(*)) / 100.0 AS avg_price
    FROM feats f JOIN customer c ON c.c_custkey = f.o_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    desc="leakage-free point-in-time feature join: each order gets the customer state STRICTLY before it via union-and-carry as-of; oracle derives the same features by the closed-form cumulative window",
)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time correctness: attach to each fact the
    dimension version valid STRICTLY before the fact — including
    same-instant ties, where using the fact's own version would leak
    the label into its features.  The dimension here is the customer's
    order history (versions = cumulative spend/count AFTER each order,
    valid from that order's date); facts are the orders themselves.

    Spark side runs the general union-and-carry as-of join: version
    rows and fact probes tagged and unioned, ONE shuffle on the entity
    key, and a backward-looking window carries the last version onto
    each probe — with the probe sorted BEFORE its own same-instant
    version, so strictness is a sort key, not a filter.  The oracle
    instead uses the closed-form identity (cumulative window minus
    current row); the value hash therefore proves the generic as-of
    machinery implements PIT semantics exactly.

    Scale: one keyed shuffle; the window frame only looks backward;
    versions and probes co-partition on the entity key — the layout a
    100 TB feature store uses.  Output is banded to a bounded
    (segment x prior-band) grid; the per-fact feature rows never leave
    the executors."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    w_ver = Window.partitionBy("k").orderBy("ts", "seq")
    # prices carry as EXACT integer cents: integer sums are
    # order-independent (every partial is exact below 2^53), so both
    # engines feed the IDENTICAL double into the final round (the r12
    # strict bit-level canon caught the order-dependent form at
    # sf0.001: 254289.24 vs 254289.23 on one band); the round itself
    # is made engine-safe at the emit site below
    base = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price"),
    )
    versions = base.select(
        "k",
        "ts",
        "seq",
        F.lit(1).alias("is_dim"),
        F.sum("price").over(w_ver).alias("cum_spend"),
        F.row_number().over(w_ver).alias("cum_orders"),
        F.lit(None).cast("long").alias("price"),
    )
    probes = base.select(
        "k",
        "ts",
        "seq",
        F.lit(0).alias("is_dim"),
        F.lit(None).cast("long").alias("cum_spend"),
        F.lit(None).cast("int").alias("cum_orders"),
        "price",
    )
    # probe sorts BEFORE its own same-(ts, seq) version (is_dim 0 < 1):
    # the carried value is the PREVIOUS version — strictly-before state
    w_carry = (
        Window.partitionBy("k")
        .orderBy("ts", "seq", "is_dim")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        versions.unionByName(probes)
        .withColumn("prior_spend", F.last("cum_spend", ignorenulls=True).over(w_carry))
        .withColumn(
            "prior_orders", F.last("cum_orders", ignorenulls=True).over(w_carry)
        )
        .where(F.col("is_dim") == 0)
        .select(
            "k",
            "price",
            F.coalesce("prior_spend", F.lit(0).cast("long")).alias("prior_spend"),
            F.coalesce("prior_orders", F.lit(0)).alias("prior_orders"),
        )
    )
    # the mean rounds to the nearest integer CENT and only then divides
    # by 100 — spelled the same way in the oracle.  Integer-position
    # ROUND of a shared double is engine-safe (k.5 is exactly
    # representable, so both engines see the same half and round away
    # from zero); FRACTIONAL ROUND is not (Spark rounds the shortest
    # decimal repr, DuckDB the binary value — ROUND(8.155, 2) gives
    # 8.16 vs 8.15), which is why the division by 100 happens AFTER
    # the round
    return (
        carried.join(F.broadcast(cust), "k")
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("prior_orders") >= 3, F.lit("3+"))
            .otherwise(F.col("prior_orders").cast("string"))
            .alias("prior_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.round(F.sum("prior_spend") * 1.0 / F.count(F.lit(1)), 0) / 100.0
            ).alias("avg_prior_spend"),
            (F.round(F.sum("price") * 1.0 / F.count(F.lit(1)), 0) / 100.0).alias(
                "avg_price"
            ),
        )
        .orderBy("segment", "prior_band")
    )
