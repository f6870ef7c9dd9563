"""Analytics operators, round 5 twenty-second wave: the rest of the
classifier-eval toolbox — cumulative gains/lift tables, information-gain
feature ranking, and Cohen's kappa agreement for the langid model.

Scale discipline:

- the gains table folds over the SAME bounded price-band groups as the
  AUC entry (analytics24): cumulative windows run over ~hundreds of
  bands, never over raw orders;
- information gain is computed from (feature band x label) contingency
  cells — every feature collapses to a bounded cell table with map-side
  combine before any log2 appears; the mktsegment feature shows the
  broadcast-dim join feeding a bounded contingency;
- kappa reuses the full langid prediction pipeline (broadcast profile
  scoring) and reduces pred-vs-gold to a langs x langs confusion matrix
  — integer-exact until the two final divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import REGISTRY, register
from sparkml_som_spark.operators.text import text_langid_ngram
from sparkml_som_spark.sources import load_table

# --------------------------------------------------------------------------
# 1. cumulative gains / lift table over bounded price bands
# --------------------------------------------------------------------------


@register(
    "gains_lift_price_bands",
    sql="""
    WITH scored AS (
        SELECT CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS band,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
        FROM orders
    ), grp AS (
        SELECT band, COUNT(*) AS n, SUM(label) AS n_pos
        FROM scored GROUP BY band
    ), cum AS (
        SELECT band, n, n_pos,
               SUM(n)     OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
                   AS cum_n,
               SUM(n_pos) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
                   AS cum_pos,
               SUM(n)     OVER () AS total_n,
               SUM(n_pos) OVER () AS total_pos
        FROM grp
    )
    SELECT band,
           CAST(n AS BIGINT)       AS n_orders,
           CAST(n_pos AS BIGINT)   AS n_urgent,
           ROUND(CAST(cum_n AS DOUBLE) / total_n, 6)      AS targeted_share,
           ROUND(CAST(cum_pos AS DOUBLE) / total_pos, 6)  AS gain,
           ROUND((CAST(cum_pos AS DOUBLE) / total_pos)
                 / (CAST(cum_n AS DOUBLE) / total_n), 6)  AS lift
    FROM cum
    """,
    desc="cumulative gains/lift table: target highest price bands first, report urgent capture rate and lift per band; folds over bounded band groups",
)
def gains_lift_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The campaign-targeting companion to AUC: if you work orders from
    the highest price band down, what share of URGENT orders have you
    captured after targeting each cumulative slice (gain), and how much
    better is that than random (lift)?

    Folds over the SAME bounded price-band groups as the AUC entry —
    raw orders aggregate once with map-side combine, and every
    cumulative window (targeting from the top band down) plus the
    one-pass totals run over ~hundreds of band rows at any corpus
    size.  Integer-exact until the final share divisions.
    """
    o = load_table(spark, sf_dir, "orders")
    grp = (
        o.select(
            F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("band"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("label"),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("label").alias("n_pos"))
    )
    wdesc = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = grp.select(
        "band",
        "n",
        "n_pos",
        F.sum("n").over(wdesc).alias("cum_n"),
        F.sum("n_pos").over(wdesc).alias("cum_pos"),
        F.sum("n").over(wall).alias("total_n"),
        F.sum("n_pos").over(wall).alias("total_pos"),
    )
    targeted = F.col("cum_n").cast("double") / F.col("total_n")
    gain = F.col("cum_pos").cast("double") / F.col("total_pos")
    return cum.select(
        "band",
        F.col("n").cast("long").alias("n_orders"),
        F.col("n_pos").cast("long").alias("n_urgent"),
        F.round(targeted, 6).alias("targeted_share"),
        F.round(gain, 6).alias("gain"),
        F.round(gain / targeted, 6).alias("lift"),
    )


# --------------------------------------------------------------------------
# 2. information-gain feature ranking from bounded contingency cells
# --------------------------------------------------------------------------


@register(
    "info_gain_urgency_features",
    sql="""
    WITH feat AS (
        SELECT 'price_band' AS feature,
               CAST(CAST(FLOOR(o.o_totalprice / 10000.0) AS BIGINT) AS VARCHAR)
                   AS band,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
        FROM orders o
        UNION ALL
        SELECT 'order_month', CAST(EXTRACT(month FROM o.o_orderdate) AS VARCHAR),
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
        FROM orders o
        UNION ALL
        SELECT 'mktsegment', c.c_mktsegment,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cells AS (
        SELECT feature, band,
               COUNT(*) AS n, SUM(label) AS n_pos
        FROM feat GROUP BY feature, band
    ), tot AS (
        SELECT feature, SUM(n) AS total, SUM(n_pos) AS total_pos
        FROM cells GROUP BY feature
    ), hb AS (
        SELECT c.feature,
               SUM((CAST(c.n AS DOUBLE) / t.total) * (
                   CASE WHEN c.n_pos > 0 AND c.n_pos < c.n THEN
                       -(CAST(c.n_pos AS DOUBLE) / c.n)
                           * log2(CAST(c.n_pos AS DOUBLE) / c.n)
                       - (CAST(c.n - c.n_pos AS DOUBLE) / c.n)
                           * log2(CAST(c.n - c.n_pos AS DOUBLE) / c.n)
                   ELSE 0.0 END)) AS h_cond,
               CAST(COUNT(*) AS BIGINT) AS n_bands,
               CASE WHEN MIN(t.total_pos) > 0 AND MIN(t.total_pos) < MIN(t.total)
               THEN
                   -(CAST(MIN(t.total_pos) AS DOUBLE) / MIN(t.total))
                       * log2(CAST(MIN(t.total_pos) AS DOUBLE) / MIN(t.total))
                   - (CAST(MIN(t.total) - MIN(t.total_pos) AS DOUBLE)
                      / MIN(t.total))
                       * log2(CAST(MIN(t.total) - MIN(t.total_pos) AS DOUBLE)
                              / MIN(t.total))
               ELSE 0.0 END AS h_label
        FROM cells c JOIN tot t ON t.feature = c.feature
        GROUP BY c.feature
    )
    SELECT feature, n_bands,
           ROUND(h_label, 5)          AS h_label,
           ROUND(h_label - h_cond, 5) AS info_gain
    FROM hb
    """,
    desc="information-gain ranking of banded features (price band, order month, mktsegment) for order urgency; all entropies from bounded contingency cells",
)
def info_gain_urgency_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature screening the decision-tree way: the information gain of
    each candidate feature for the URGENT-order label — the split
    criterion a tree would use, run as a pure aggregate over bounded
    contingency cells.

    Every feature is first banded (price decile-ish bands, calendar
    month, market segment via a BROADCAST customer join), so the
    (feature, band, label) contingency collapses with map-side combine
    to a few hundred cells before any log2 appears; entropies then fold
    over that bounded table.  Cells that are label-pure contribute zero
    conditional entropy (the 0*log(0) guard on both engines).  Rounded
    at 5 decimals: the last step sums ~hundreds of libm log2 terms, one
    guard digit looser than the integer-exact entries.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    label = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    feat = (
        o.select(
            F.lit("price_band").alias("feature"),
            F.floor(F.col("o_totalprice") / 10000.0)
            .cast("long")
            .cast("string")
            .alias("band"),
            label.alias("label"),
        )
        .unionByName(
            o.select(
                F.lit("order_month").alias("feature"),
                F.month("o_orderdate").cast("string").alias("band"),
                label.alias("label"),
            )
        )
        .unionByName(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
                F.lit("mktsegment").alias("feature"),
                F.col("c_mktsegment").alias("band"),
                label.alias("label"),
            )
        )
    )
    cells = feat.groupBy("feature", "band").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("n_pos")
    )
    tot = cells.groupBy("feature").agg(
        F.sum("n").alias("total"), F.sum("n_pos").alias("total_pos")
    )

    def _h2(pos, n):
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        return F.when(
            (pos > 0) & (pos < n), -(p * F.log2(p)) - (q * F.log2(q))
        ).otherwise(F.lit(0.0))

    joined = cells.join(tot, "feature")
    hb = joined.groupBy("feature").agg(
        F.sum(
            (F.col("n").cast("double") / F.col("total"))
            * _h2(F.col("n_pos"), F.col("n"))
        ).alias("h_cond"),
        F.count(F.lit(1)).cast("long").alias("n_bands"),
        F.when(
            (F.min("total_pos") > 0) & (F.min("total_pos") < F.min("total")),
            -(
                (F.min("total_pos").cast("double") / F.min("total"))
                * F.log2(F.min("total_pos").cast("double") / F.min("total"))
            )
            - (
                ((F.min("total") - F.min("total_pos")).cast("double") / F.min("total"))
                * F.log2(
                    (F.min("total") - F.min("total_pos")).cast("double")
                    / F.min("total")
                )
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("h_label"),
    )
    return hb.select(
        "feature",
        "n_bands",
        F.round("h_label", 5).alias("h_label"),
        F.round(F.col("h_label") - F.col("h_cond"), 5).alias("info_gain"),
    )


# --------------------------------------------------------------------------
# 3. Cohen's kappa agreement of the langid model vs gold labels
# --------------------------------------------------------------------------

# the langid prediction pipeline, reused verbatim as a CTE so the kappa
# oracle replays the exact same model the Spark side runs
_LANGID_SQL = REGISTRY["text_langid_ngram"].sql


@register(
    "kappa_langid_agreement",
    sql=f"""
    WITH pred AS (
        {_LANGID_SQL}
    ), conf AS (
        SELECT d.lang AS gold, p.predicted_lang AS predicted, COUNT(*) AS n
        FROM pred p JOIN documents d ON d.doc_id = p.doc_id
        GROUP BY 1, 2
    ), m AS (
        SELECT SUM(n) AS total,
               SUM(CASE WHEN gold = predicted THEN n ELSE 0 END) AS agree
        FROM conf
    ), pe AS (
        SELECT SUM(g.gn * p.pn) AS pe_num
        FROM (SELECT gold AS lang, SUM(n) AS gn FROM conf GROUP BY 1) g
        JOIN (SELECT predicted AS lang, SUM(n) AS pn FROM conf GROUP BY 1) p
          ON p.lang = g.lang
    )
    SELECT CAST(m.total AS BIGINT) AS n_docs,
           ROUND(CAST(m.agree AS DOUBLE) / m.total, 6) AS accuracy,
           ROUND((CAST(m.agree AS DOUBLE) / m.total
                  - CAST(pe.pe_num AS DOUBLE) / (m.total * m.total))
                 / (1.0 - CAST(pe.pe_num AS DOUBLE) / (m.total * m.total)), 6)
               AS kappa
    FROM m, pe
    """,
    desc="Cohen's kappa of the trigram langid model vs gold labels; full prediction pipeline reduced to a langs x langs confusion matrix",
)
def kappa_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected model eval: Cohen's kappa between the trigram
    language-ID predictions and the gold `lang` column — the agreement
    statistic that discounts what majority-class guessing would score.

    Runs the EXACT langid pipeline (broadcast profile scoring, declared
    tie rules) and reduces pred-vs-gold to a langs x langs confusion
    matrix — a bounded table from one map-side-combined aggregate.
    Observed agreement and the chance-expected agreement (the marginal
    product fold) are integer-exact until the two final divisions, and
    the oracle embeds the same langid SQL as a CTE, so model and metric
    replay identically.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # r19: `text_langid_ngram` returns its plan and the three conf
    # consumers below re-read it.  MEASURED (order-alternated A/B vs the
    # pinned-result parent, sf0.01, 4-core host, 4 pairs x 3 reps):
    # unpinned median 3.84 s vs 2.95 s, slower in 4/4 pairs; pinned
    # here 3.14 s vs 3.22 s, 2/4 — flat
    pred = text_langid_ngram(spark, sf_dir).localCheckpoint()
    conf = (
        pred.join(docs, "doc_id")
        .groupBy(F.col("lang").alias("gold"), F.col("predicted_lang").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # opt r15: a materialize_small(conf) barrier was MEASURED SLOWER
    # here (interleaved A/B: 1.81 s vs 2.39 s min-of-5) — AQE's runtime
    # exchange reuse already shares the conf aggregate across the three
    # consumers, and the collect barrier serializes jobs; left as-is.
    # That A/B predates the Arrow `LocalRelation` materialize_small: it
    # measured the old helper, whose Python-RDD frame started a
    # Python-worker job on every read.  Not re-measured.
    m = conf.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("gold") == F.col("predicted"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    g = conf.groupBy(F.col("gold").alias("lang")).agg(F.sum("n").alias("gn"))
    p = conf.groupBy(F.col("predicted").alias("lang")).agg(F.sum("n").alias("pn"))
    pe = g.join(p, "lang").agg(F.sum(F.col("gn") * F.col("pn")).alias("pe_num"))
    po = F.col("agree").cast("double") / F.col("total")
    pe_frac = F.col("pe_num").cast("double") / (F.col("total") * F.col("total"))
    return (
        m.crossJoin(F.broadcast(pe))
        .select(
            F.col("total").cast("long").alias("n_docs"),
            F.round(po, 6).alias("accuracy"),
            F.round((po - pe_frac) / (1.0 - pe_frac), 6).alias("kappa"),
        )
    )
