"""Analytics operators, round 9 sixth wave: graph-based data selection
and leakage-safe temporal splitting.

* ``seed_expansion_ppr`` — personalized PageRank from a seed set over
  the part co-purchase graph: the data-selection primitive ("I have a
  few thousand known-good domain documents; find me everything near
  them in the similarity graph") used to expand curation seeds into
  training subsets.  Fixed-point parts-per-billion integer arithmetic
  (the `pagerank_nation_flows` discipline) makes every iteration exact,
  so ranks are bit-identical across engines and cluster layouts.
* ``purged_time_split`` — the time-series train/test split with an
  EMBARGO gap (purged split, a la De Prado): train takes the first 70%
  of the time span, the next 5% is discarded, test takes the rest.
  Cutoffs are exact integer microsecond arithmetic on the span, so the
  same boundary falls out of both engines; the output carries the
  leakage audit (actual train->test gap vs the embargo width) as
  columns.

Scale discipline: PPR's rank state is SPARSE — r0 lives only on the
seeds and each iteration's frontier is (previous nonzero ranks) JOIN
edges, so three iterations shuffle the bounded edge set three times
and never materialize a dense vertex vector; the edge build rides the
same per-order fan-out bound (and `_PAIR_CAP` hot-group guard) as
`community_lpa_parts`.  The temporal split needs ONE aggregate for the
span, a broadcast of two cutoff scalars, and a single grouped pass —
no sort, no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.operators.analytics30 import (
    _LPA_EDGE_SQL,
    _LPA_MIN_W,
    copurchase_edges,
    copurchase_nodes,
)
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table

# ---------------------------------------------------------------------------
# Personalized PageRank seed expansion

_PPR_SCALE = 1_000_000_000  # parts-per-billion fixed point
_PPR_ITERS = 3
_PPR_DAMP_NUM, _PPR_DAMP_DEN = 85, 100
_PPR_SEED_BRAND = "Brand#13"
_PPR_TOPK = 20


def _ppr_round_sql(prev: str, out: str) -> str:
    """One exact-integer PPR round over the dense node set (oracle
    side): teleport mass returns to the seeds, damped in-neighbor
    contributions use per-edge integer division — the identical
    expression the Spark side evaluates sparsely."""
    return f"""
    {out} AS (
        SELECT n.node AS v,
               CAST(CASE WHEN sd.p IS NOT NULL
                         THEN (({_PPR_DAMP_DEN} - {_PPR_DAMP_NUM})
                               * ({_PPR_SCALE} // ks.k)) // {_PPR_DAMP_DEN}
                         ELSE 0 END
                    + ({_PPR_DAMP_NUM} * COALESCE(SUM(({prev}.r * e.w) // o.wout), 0))
                      // {_PPR_DAMP_DEN} AS BIGINT) AS r
        FROM nodes n
        CROSS JOIN ks
        LEFT JOIN seeds sd ON sd.p = n.node
        LEFT JOIN edges e ON e.v = n.node
        LEFT JOIN {prev} ON {prev}.v = e.u
        LEFT JOIN outw o ON o.src = e.u
        GROUP BY n.node, sd.p, ks.k
    )
    """


_PPR_SQL = (
    "WITH "
    + _LPA_EDGE_SQL
    + f""",
    seeds AS (
        SELECT DISTINCT n.node AS p
        FROM nodes n JOIN part ON part.p_partkey = n.node
        WHERE part.p_brand = '{_PPR_SEED_BRAND}'
    ),
    ks AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM seeds),
    outw AS (SELECT u AS src, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY 1),
    p0 AS (
        SELECT s.p AS v, CAST({_PPR_SCALE} // ks.k AS BIGINT) AS r
        FROM seeds s CROSS JOIN ks
    ),
    """
    + ",".join(_ppr_round_sql(f"p{i}", f"p{i + 1}") for i in range(_PPR_ITERS))
    + f"""
    SELECT p.v AS part_key, p.r AS rank_ppb,
           p.r / {_PPR_SCALE}.0 AS rank
    FROM p{_PPR_ITERS} p
    LEFT JOIN seeds s ON s.p = p.v
    WHERE s.p IS NULL AND p.r > 0
    ORDER BY p.r DESC, p.v ASC
    LIMIT {_PPR_TOPK}
    """
)


@register(
    "seed_expansion_ppr",
    sql=_PPR_SQL,
    desc=f"personalized-PageRank seed expansion from {_PPR_SEED_BRAND} parts over the co-purchase graph ({_PPR_ITERS} damped iterations, ppb fixed point); top-{_PPR_TOPK} non-seed parts",
)
def seed_expansion_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection by graph proximity: teleport mass sits on a seed
    set (here: parts of one brand), three damped personalized-PageRank
    iterations spread it over the co-purchase graph, and the
    highest-ranked NON-seed nodes are the expansion — the curation
    recipe for growing a small trusted set into a training subset.

    Arithmetic is parts-per-billion fixed point with per-edge integer
    division (`(r*w) DIV wout`), so every iteration is exact and the
    output hash-matches across engines and partitionings — no float
    summation order anywhere.

    Scale: unlike `pagerank_nation_flows` (bounded vertex set,
    broadcast ranks), the rank state here is kept SPARSE — r0 is the
    seed rows only, and each iteration joins the previous nonzero
    ranks into the edge set keyed on the source node, so the
    per-iteration shuffle is bounded by the 3-hop frontier, never a
    dense vertex vector.  The edge set comes from the SHARED
    build-once `copurchase_edges` artifact (round 10): the per-order
    C(items,2) pair build behind the `_PAIR_CAP` hot-group guard runs
    once per corpus, and LPA / PPR / triangle counting all read the
    persisted table."""
    pairs = copurchase_edges(spark, sf_dir).where(F.col("w") >= _LPA_MIN_W)
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    outw = edges.groupBy("u").agg(F.sum("w").alias("wout"))
    edges = edges.join(outw, "u")

    nodes = copurchase_nodes(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == _PPR_SEED_BRAND
    ).select(F.col("p_partkey").alias("node"))
    seeds = nodes.join(F.broadcast(part), "node").persist()
    k = seeds.count()  # bounded: one brand's parts
    tele = ((_PPR_DAMP_DEN - _PPR_DAMP_NUM) * (_PPR_SCALE // k)) // _PPR_DAMP_DEN

    ranks = seeds.select(F.col("node").alias("v"), F.lit(_PPR_SCALE // k).alias("r"))
    tele_rows = seeds.select(F.col("node").alias("v"), F.lit(tele).alias("t"))
    for _ in range(_PPR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("v", "rv"), edges["u"] == F.col("rv"))
            .select(F.col("v").alias("dst"), F.expr("(r * w) DIV wout").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            tele_rows.join(contrib, tele_rows["v"] == contrib["dst"], "full_outer")
            .select(
                F.coalesce(tele_rows["v"], contrib["dst"]).alias("v"),
                (
                    F.coalesce(tele_rows["t"], F.lit(0))
                    + F.expr(
                        f"{_PPR_DAMP_NUM} * coalesce(csum, 0L) DIV {_PPR_DAMP_DEN}"
                    )
                ).alias("r"),
            )
            .where(F.col("r") > 0)
        )
    return (
        ranks.join(F.broadcast(seeds.select(F.col("node").alias("v"))), "v", "left_anti")
        .orderBy(F.desc("r"), F.asc("v"))
        .limit(_PPR_TOPK)
        .select(
            F.col("v").alias("part_key"),
            F.col("r").alias("rank_ppb"),
            (F.col("r") / F.lit(float(_PPR_SCALE))).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Purged (embargoed) temporal split

_SPLIT_TRAIN_PCT = 70
_SPLIT_EMBARGO_PCT = 5


@register(
    "purged_time_split",
    sql=f"""
    WITH span AS (
        SELECT MIN(EPOCH_US(ts)) AS lo, MAX(EPOCH_US(ts)) AS hi FROM events
    ),
    cuts AS (
        SELECT lo, hi,
               lo + (hi - lo) * {_SPLIT_TRAIN_PCT} // 100 AS train_end,
               lo + (hi - lo) * {_SPLIT_TRAIN_PCT + _SPLIT_EMBARGO_PCT} // 100
                   AS embargo_end,
               (hi - lo) * {_SPLIT_EMBARGO_PCT} // 100 AS embargo_us
        FROM span
    ),
    tagged AS (
        SELECT CASE WHEN EPOCH_US(e.ts) <= c.train_end THEN 'train'
                    WHEN EPOCH_US(e.ts) <= c.embargo_end THEN 'embargo'
                    ELSE 'test' END AS split,
               e.user_id, e.ts, EPOCH_US(e.ts) AS us, c.embargo_us
        FROM events e CROSS JOIN cuts c
    ),
    gap AS (
        SELECT MIN(CASE WHEN split = 'test' THEN us END)
               - MAX(CASE WHEN split = 'train' THEN us END) AS gap_us
        FROM tagged
    )
    SELECT t.split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS n_users,
           MIN(t.ts) AS min_ts, MAX(t.ts) AS max_ts,
           MAX(t.embargo_us) AS embargo_us,
           MAX(g.gap_us) AS train_test_gap_us,
           MAX(g.gap_us) > MAX(t.embargo_us) AS leakage_free
    FROM tagged t CROSS JOIN gap g
    GROUP BY t.split ORDER BY t.split
    """,
    desc=f"purged time-series split: first {_SPLIT_TRAIN_PCT}% of the span trains, {_SPLIT_EMBARGO_PCT}% embargo discarded, rest tests; exact integer-us cutoffs + leakage audit columns",
)
def purged_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage-safe temporal split (purged split with embargo, De
    Prado "Advances in Financial ML" ch. 7, standard for any model
    whose features look backward in time): train on the first
    {tr}% of the time span, DISCARD the next {em}% (the embargo — a
    backward-looking feature computed at test start must not see
    train-adjacent rows), test on the rest.  Cutoffs are integer
    microsecond arithmetic on (min, max) of the span — exact, so both
    engines draw the same boundary — and the output carries the audit:
    the actual train->test gap must exceed the embargo width.

    Scale: one aggregate for the span, two scalar cutoffs broadcast
    (the single approved one-row BNLJ), one grouped pass for the
    stats — no sort, no global window, nothing driver-side."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    us = F.unix_micros("ts")
    cuts = ev.agg(
        F.min(us).alias("lo"),
        F.max(us).alias("hi"),
    ).select(
        F.expr(f"lo + (hi - lo) * {_SPLIT_TRAIN_PCT} DIV 100").alias("train_end"),
        F.expr(
            f"lo + (hi - lo) * {_SPLIT_TRAIN_PCT + _SPLIT_EMBARGO_PCT} DIV 100"
        ).alias("embargo_end"),
        F.expr(f"(hi - lo) * {_SPLIT_EMBARGO_PCT} DIV 100").alias("embargo_us"),
    )
    tagged = ev.crossJoin(F.broadcast(cuts)).select(
        F.when(us <= F.col("train_end"), F.lit("train"))
        .when(us <= F.col("embargo_end"), F.lit("embargo"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "user_id",
        "ts",
        us.alias("us"),
        "embargo_us",
    )
    # the train->test gap needs the per-split extremes TOGETHER; rather
    # than a second one-row crossJoin (the audit allows exactly one
    # BNLJ, spent on the cutoffs) it comes from a window over the
    # 3-row grouped result, keyed on a constant column — bounded by the
    # split count, not the data
    from pyspark.sql import Window

    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("us").alias("min_us"),
        F.max("us").alias("max_us"),
        F.max("embargo_us").alias("embargo_us"),
    )
    w_all = Window.partitionBy("_g")
    gap_us = F.min(
        F.when(F.col("split") == "test", F.col("min_us"))
    ).over(w_all) - F.max(
        F.when(F.col("split") == "train", F.col("max_us"))
    ).over(w_all)
    # column-derived constant key: a literal would constant-fold to an
    # empty partition spec (single-task window warning / audit flag)
    return (
        per_split.withColumn("_g", F.col("n_events") * 0)
        .withColumn("gap_us", gap_us)
        .select(
            "split",
            "n_events",
            "n_users",
            "min_ts",
            "max_ts",
            "embargo_us",
            F.col("gap_us").alias("train_test_gap_us"),
            (F.col("gap_us") > F.col("embargo_us")).alias("leakage_free"),
        )
        .orderBy("split")
    )


purged_time_split.__doc__ = purged_time_split.__doc__.format(
    tr=_SPLIT_TRAIN_PCT, em=_SPLIT_EMBARGO_PCT
)


# ---------------------------------------------------------------------------
# Near-duplicate leakage across a random split

from sparkml_som_spark.operators.analytics14 import (  # noqa: E402
    _SPLIT_TRAIN_HI,
    _SPLIT_VAL_HI,
)
from sparkml_som_spark.operators.dedup import (  # noqa: E402
    _NGRAM_MAX_DF,
    _NGRAM_ORACLE,
)

_LEAK_SPLIT_CASE = f"""
    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) <= '{_SPLIT_TRAIN_HI}'
             THEN 'train'
         WHEN substr(md5(doc_id::VARCHAR), 1, 2) <= '{_SPLIT_VAL_HI}'
             THEN 'val'
         ELSE 'test' END
"""


@register(
    "split_dedup_leakage",
    sql=f"""
    WITH nd AS ({_NGRAM_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF)}),
    asg AS (SELECT doc_id, {_LEAK_SPLIT_CASE} AS split FROM documents),
    j AS (
        SELECT LEAST(sa.split, sb.split) AS split_a,
               GREATEST(sa.split, sb.split) AS split_b
        FROM nd p
        JOIN asg sa ON sa.doc_id = p.a_id
        JOIN asg sb ON sb.doc_id = p.b_id
    )
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_leak,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM j GROUP BY 1, 2 ORDER BY 1, 2
    """,
    desc="near-dup pairs (Jaccard >= 0.8) crossing the md5-band train/val/test split — the contamination a random split creates when dedup is skipped",
)
def split_dedup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY dedup-before-split is a rule: a uniform random split sends
    ~2·p·(1-p) of every near-duplicate pair across the train/test
    boundary — the test set then contains near-copies of training
    documents and evaluation numbers inflate.  This operator measures
    that contamination for the repo's own md5-band split: every
    verified >= 0.8-Jaccard pair is classified by the splits of its two
    endpoints, and the cross-split rows ARE the leaked pairs.

    Composes two persisted artifacts: the shared `jaccard_sym_edges`
    near-dup edge table (built once, read by all dedup consumers) and
    the `split_train_val_test` assignment expression — so the
    measurement costs one bounded join over the pair set, not a corpus
    pass.  The oracle recomputes the pair set from scratch through the
    exhaustive DF-capped inverted index.

    Scale: the pair set is orders of magnitude smaller than the
    corpus; the split assignment is a codegen md5 on each endpoint id
    (no join back to documents needed); the share window runs over the
    bounded (split_a, split_b) grid keyed on a derived constant."""
    from sparkml_som_spark.operators.dedup import jaccard_sym_edges

    sym = jaccard_sym_edges(spark, sf_dir)
    pairs = sym.where(F.col("src") < F.col("dst"))

    def split_of(col):
        pref = F.substring(F.md5(col.cast("string")), 1, 2)
        return (
            F.when(pref <= _SPLIT_TRAIN_HI, "train")
            .when(pref <= _SPLIT_VAL_HI, "val")
            .otherwise("test")
        )

    tagged = pairs.select(
        split_of(F.col("src")).alias("s_src"), split_of(F.col("dst")).alias("s_dst")
    ).select(
        F.least("s_src", "s_dst").alias("split_a"),
        F.greatest("s_src", "s_dst").alias("split_b"),
    )
    g = tagged.groupBy("split_a", "split_b").agg(F.count(F.lit(1)).alias("n_pairs"))
    from pyspark.sql import Window

    # column-derived constant key (a literal would fold to an empty
    # partition spec); the window runs over the bounded split grid
    w_all = Window.partitionBy(F.col("n_pairs") * 0)
    return g.select(
        "split_a",
        "split_b",
        "n_pairs",
        (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        F.round(F.col("n_pairs") / F.sum("n_pairs").over(w_all), 6).alias("share"),
    ).orderBy("split_a", "split_b")
