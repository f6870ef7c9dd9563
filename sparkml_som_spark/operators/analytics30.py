"""Analytics operators, round 9 third wave: graph communities,
recommendation, contrastive mining, mergeable quantiles, resampling
inference, and normalization hygiene.

* ``community_lpa_parts`` — synchronized label propagation over the
  part co-purchase graph (3 unrolled rounds, pinned tie-breaks) — the
  community-detection sibling of connected components / PageRank /
  triangle counting already in the catalog.
* ``recs_item_item_cosine`` — "customers who bought X also bought Y":
  item-item cosine over the binary customer-brand incidence, top-3
  recommendations per brand.
* ``hard_negative_mining`` — for each query embedding, the most-similar
  vectors with a DIFFERENT label (the hard negatives a contrastive
  trainer pairs against positives).
* ``quantile_mergeable_sketch`` — fixed-width histogram partials built
  per shard, merged by count addition, quantiles read off the merged
  cumulative — with the sketch's error bound (exact quantile falls in
  the reported bin) checked as output.
* ``jackknife_ratio_ci`` — leave-one-stratum-out jackknife standard
  error for a ratio metric (revenue per order), the classic
  closed-form alternative to bootstrap resampling.
* ``normalize_dedup_gain`` — conservative text canonicalization
  (case-fold, punctuation strip, whitespace collapse) and the exact
  duplicates it surfaces that raw equality misses.

Scale discipline: LPA's edge build fans out per-order item pairs
(bounded by order size, never all-parts²) and runs a FIXED number of
synchronized rounds, each one keyed shuffle; per-node candidate labels
are bounded by degree, so no window partition exceeds a node's
neighborhood.  The recommender's pair fan-out is per-customer C(b,2)
with b <= 25 brands.  Hard-negative scoring broadcasts the bounded
query set and ranks through the salted two-phase ``topk_per_query`` —
no corpus-sized window.  The quantile sketch is the textbook mergeable
form: partials are (type, shard, bin) cells, the merge is additive, and
the final cumulative walks <= 50 bins.  The jackknife needs only
per-stratum sums (80 months) joined to a one-row total.  Normalization
is a codegen string pipeline feeding hash-grouped distinct counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.functions import cosine
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.operators.similarity import topk_per_query
from sparkml_som_spark.sources import build_once, load_table, read_parquet, scratch_dir

# Hot-group guard for the C(n,2) pair builders: cap members per group
# at _PAIR_CAP by deterministic hash rank BEFORE the self-join, so one
# hyper-active key (an 8k-item basket) fans out C(256,2)=32,640 pairs
# instead of C(8k,2)=32M in a single join task — measured 23.7 s -> 1.2 s
# at hot=8k with the non-hot pair set bit-identical
# (SCALE.md, "Hot-group pair fan-out").  On the TPC-H inputs the
# cap can never trigger (orders carry <= 7 items; only 25 p_brand
# values exist), so the DuckDB oracles stay cap-free and the value-hash
# gate itself certifies the guard changes nothing here.
_PAIR_CAP = 256


def _cap_group_members(df: DataFrame, group: str, member) -> DataFrame:
    """Keep at most _PAIR_CAP members per group, chosen by md5 rank —
    deterministic across runs/engines, and the window's hash
    partitioning on `group` is reused by the pair self-join that
    follows (ReusedExchange), so the guard costs a sort, not a
    shuffle."""
    w = Window.partitionBy(group).orderBy(
        F.md5(F.col(member).cast("string")), member
    )
    return (
        df.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= _PAIR_CAP)
        .drop("_r")
    )


# ---------------------------------------------------------------------------
# Shared part co-purchase graph (artifact built once per process)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED part co-purchase edge set, built once per process and
    sf_dir — the graph family's shared artifact (VERDICT r9 ask #4, the
    graph twin of the dedup family's `jaccard_sym_edges`).

    One row per unordered part pair (u < v) with w = number of orders
    containing both.  The per-order C(items,2) fan-out runs ONCE behind
    the `_PAIR_CAP` hot-group guard and lands in a parquet under the
    scratch dir (`build_once`); every graph consumer —
    label-propagation communities (w >= min-w filter),
    personalized-PageRank seed expansion (same filter), triangle
    counting (endpoint filter, weights ignored) —
    reads the table instead of re-running the self-join.  At 100 TB
    the co-occurrence edge list is exactly such a first-class table:
    it is orders of magnitude smaller than the fact table that
    generates it, and the pair build dominates every job that
    composes it.  (`recs_item_item_cosine` is NOT a consumer: its
    incidence is customer x brand, a different bipartite projection —
    sharing would mean persisting a second, unrelated edge set for a
    25-node graph whose build is already trivially cheap.)

    Weights are persisted UNFILTERED (w >= 1) so one artifact serves
    both the min-w consumers and the unweighted triangle graph; the
    consumers' filters ride parquet predicate pushdown."""

    def write(path: str) -> None:
        li = _cap_group_members(
            load_table(spark, sf_dir, "lineitem", spread=True)
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct(),
            "o",
            "p",
        )
        a, b = li.alias("a"), li.alias("b")
        pairs = (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("w"))
        )
        pairs.write.mode("overwrite").parquet(path)
        # the node set (every distinct part in lineitem, including
        # isolated nodes no qualifying edge touches) rides the same
        # build: LPA's singleton communities need it
        li.select(F.col("p").alias("node")).distinct().write.mode(
            "overwrite"
        ).parquet(scratch_dir(sf_dir, "copurchase_nodes_v1"))

    return read_parquet(spark, build_once(sf_dir, "copurchase_edges_v1", write))


def copurchase_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part nodes of the co-purchase graph (same build-once
    artifact as `copurchase_edges`; isolated nodes included)."""
    copurchase_edges(spark, sf_dir)  # ensure the build ran
    return read_parquet(spark, scratch_dir(sf_dir, "copurchase_nodes_v1"))


# ---------------------------------------------------------------------------
# Label propagation communities

_LPA_ROUNDS = 3
_LPA_MIN_W = 2

_LPA_EDGE_SQL = f"""
    li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS (
        SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS w
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_W}
    ),
    edges AS (SELECT u, v, w FROM pairs UNION ALL SELECT v AS u, u AS v, w FROM pairs),
    nodes AS (SELECT DISTINCT p AS node FROM li),
    l0 AS (SELECT node, node AS lab FROM nodes)
"""


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronized LPA round: each node adopts the neighbor label
    with the largest edge-weight sum (ties -> smallest label); nodes
    with no qualifying edges keep their current label."""
    return f"""
    {out}_best AS (
        SELECT node, lab FROM (
            SELECT e.u AS node, l.lab,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.u
                       ORDER BY SUM(e.w) DESC, l.lab ASC
                   ) AS rn
            FROM edges e JOIN {prev} l ON l.node = e.v
            GROUP BY e.u, l.lab
        ) WHERE rn = 1
    ),
    {out} AS (
        SELECT p.node, COALESCE(b.lab, p.lab) AS lab
        FROM {prev} p LEFT JOIN {out}_best b ON b.node = p.node
    )
    """


_LPA_SQL = (
    "WITH "
    + _LPA_EDGE_SQL
    + ","
    + ",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ROUNDS))
    + f"""
    SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l{_LPA_ROUNDS}
    GROUP BY 1
    ORDER BY n_members DESC, community ASC
    LIMIT 20
    """
)


@register(
    "community_lpa_parts",
    sql=_LPA_SQL,
    desc=f"label-propagation communities on the part co-purchase graph ({_LPA_ROUNDS} synchronized rounds, ties -> min label); top-20 communities by size",
)
def community_lpa_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronized (Jacobi-style) label propagation: all nodes update
    simultaneously from the PREVIOUS round's labels, so the result is
    a pure function of the graph — no scan-order dependence, unlike
    async LPA.  Tie-break (weight sum DESC, label ASC) pinned in both
    engines.

    Scale: edge build is a per-order self-join (fan-out C(items,2) per
    order, bounded by order size) behind the _PAIR_CAP hot-group guard
    (a hyper-active basket fans out C(256,2), never C(hot,2) — probe:
    23.7 s -> 1.2 s at hot=8k); each round is one join on the node
    key + one bounded-candidate window (per-node partitions hold at
    most degree-many label rows).  Round count is FIXED — this is the
    bounded-iteration regime where LPA is used in production; the
    convergence-loop variant belongs to `dedup_connected_components`'
    pointer-jumping family.  The edge set comes from the SHARED
    build-once `copurchase_edges` artifact (round 10): the pair
    self-join runs once per corpus, not once per graph query."""
    pairs = copurchase_edges(spark, sf_dir).where(F.col("w") >= _LPA_MIN_W)
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    labels = copurchase_nodes(spark, sf_dir).withColumn("lab", F.col("node"))
    w_best = Window.partitionBy("node").orderBy(F.desc("wsum"), F.asc("lab"))
    for _ in range(_LPA_ROUNDS):
        best = (
            edges.join(labels.select(F.col("node").alias("v"), "lab"), "v")
            .groupBy(F.col("u").alias("node"), "lab")
            .agg(F.sum("w").alias("wsum"))
            .withColumn("rn", F.row_number().over(w_best))
            .where(F.col("rn") == 1)
            .select("node", F.col("lab").alias("new_lab"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce("new_lab", "lab").alias("lab"))
            # opt r15: labels feeds TWO consumers next round (the best
            # join and the carry left-join), so without a per-round
            # materialization the plan doubles every round — 2^rounds
            # replays of round 1 (guide §2.4; interleaved A/B at sf0.1:
            # 1.13 s vs 1.42 s min-of-4).  The loop needs its lineage
            # cut, which a checkpoint does and a persist would not.
            # Lazy checkpoint: it materializes inside the next round's
            # first action.  Bounded at one row per node.
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Item-item cosine recommender

_REC_MIN_CO = 2
_REC_TOPK = 3


@register(
    "recs_item_item_cosine",
    sql=f"""
    WITH ub AS (
        SELECT DISTINCT o.o_custkey AS u, p.p_brand AS b
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n_u AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n FROM ub GROUP BY 1),
    co AS (
        SELECT x.b AS i, y.b AS j, CAST(COUNT(*) AS BIGINT) AS c
        FROM ub x JOIN ub y ON x.u = y.u AND x.b < y.b
        GROUP BY 1, 2 HAVING COUNT(*) >= {_REC_MIN_CO}
    ),
    sym AS (SELECT i, j, c FROM co UNION ALL SELECT j AS i, i AS j, c FROM co)
    SELECT brand, rec_brand, rank, cos_sim, co_users FROM (
        SELECT s.i AS brand, s.j AS rec_brand, s.c AS co_users,
               ROUND(s.c / SQRT(ni.n * nj.n), 4) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY s.i
                   ORDER BY s.c / SQRT(ni.n * nj.n) DESC, s.j ASC
               ) AS rank
        FROM sym s
        JOIN n_u ni ON ni.b = s.i
        JOIN n_u nj ON nj.b = s.j
    ) WHERE rank <= {_REC_TOPK}
    ORDER BY brand, rank
    """,
    desc=f"item-item cosine recommender over customer-brand incidence; top-{_REC_TOPK} 'also bought' brands per brand (co-support >= {_REC_MIN_CO})",
)
def recs_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-incidence item-item cosine: cos(i,j) = |U_i ∩ U_j| /
    sqrt(|U_i|·|U_j|) over distinct (customer, brand) pairs — the
    memory-based collaborative filter ("also bought") that complements
    `basket_lift_brand_pairs`' association-rule lift.

    Scale: the pair fan-out is per-customer C(b,2) with b <= 25 brands
    (bounded by the item vocabulary a single user touches, never
    items²), and the _PAIR_CAP guard pins that bound even for a
    hyper-active user on a real item vocabulary; brand support counts
    are a 25-row broadcast; the top-k window partitions by brand over
    <= 24 candidate rows."""
    orders = load_table(spark, sf_dir, "orders", spread=True).select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("u")
    )
    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("b")
    )
    ub = _cap_group_members(
        li.join(orders, "ok")
        .join(F.broadcast(part), "pk")
        .select("u", "b")
        .distinct(),
        "u",
        "b",
        # ub feeds n_u and both sides of the pair self-join — three
        # replays of the lineitem-orders join + distinct + cap window
        # without materialization (opt r15, guide §2.4).  Bounded at
        # _PAIR_CAP rows per customer.
    ).localCheckpoint()
    n_u = ub.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    x, y = ub.alias("x"), ub.alias("y")
    co = (
        x.join(y, (F.col("x.u") == F.col("y.u")) & (F.col("x.b") < F.col("y.b")))
        .groupBy(F.col("x.b").alias("i"), F.col("y.b").alias("j"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _REC_MIN_CO)
    )
    sym = co.unionByName(co.select(F.col("j").alias("i"), F.col("i").alias("j"), "c"))
    ni = F.broadcast(n_u.select(F.col("b").alias("i"), F.col("n").alias("n_i")))
    nj = F.broadcast(n_u.select(F.col("b").alias("j"), F.col("n").alias("n_j")))
    cos = F.col("c") / F.sqrt(F.col("n_i") * F.col("n_j"))
    w = Window.partitionBy("i").orderBy(F.desc(cos), F.asc("j"))
    return (
        sym.join(ni, "i")
        .join(nj, "j")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _REC_TOPK)
        .select(
            F.col("i").alias("brand"),
            F.col("j").alias("rec_brand"),
            "rank",
            F.round(cos, 4).alias("cos_sim"),
            F.col("c").alias("co_users"),
        )
        .orderBy("brand", "rank")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining

_HN_QUERIES = 8
_HN_TOPK = 5


@register(
    "hard_negative_mining",
    sql=f"""
    SELECT query_id, query_label, neighbor_id, neighbor_label, rank,
           ROUND(cos_raw, 4) AS cos_sim
    FROM (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               e.vec_id AS neighbor_id, e.label AS neighbor_label,
               list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cos_raw,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
                            e.vec_id
               ) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < {_HN_QUERIES}) q
        JOIN embeddings e ON e.label <> q.label
    )
    WHERE rank <= {_HN_TOPK}
    ORDER BY query_id, rank
    """,
    desc=f"hard-negative mining: top-{_HN_TOPK} most-similar OTHER-label vectors per query — the contrastive-training negative selector",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each query embedding, the most cosine-similar vectors whose
    label DIFFERS — the "hard negatives" a contrastive trainer (CLIP,
    sentence-transformers, DPR) pairs against positives, where random
    negatives (`negative_sampling_pairs`) are too easy to be useful.

    Scale: the query set is broadcast (bounded), the corpus streams
    once through a JVM-side cosine fold, the label inequality prunes
    before ranking, and the per-query top-k goes through the salted
    two-phase `topk_per_query` — no corpus-sized window partition."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    q = emb.where(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("query_label"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cosine(F.col("qv"), F.col("v")).alias("cos_raw"),
        )
    )
    return (
        topk_per_query(scored, _HN_TOPK)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
            F.round("cos_raw", 4).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch

_QS_BIN_W = 10.0
_QS_SHARDS = 8
_QS_PS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


@register(
    "quantile_mergeable_sketch",
    sql=f"""
    WITH partials AS (
        SELECT event_type, user_id % {_QS_SHARDS} AS shard,
               CAST(FLOOR(value / {_QS_BIN_W}) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, bin, CAST(SUM(cnt) AS BIGINT) AS n
        FROM partials GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum_n,
               SUM(n) OVER (PARTITION BY event_type) AS total
        FROM merged
    ),
    approx AS (
        SELECT event_type, CAST(MAX(total) AS BIGINT) AS n_events,
               {", ".join(f"MIN(CASE WHEN cum_n >= {p} * total THEN bin * {_QS_BIN_W} END) AS approx_{nm}" for nm, p in _QS_PS)}
        FROM cum GROUP BY event_type
    ),
    exact AS (
        SELECT event_type,
               {", ".join(f"MAX(CASE WHEN rn = CAST(CEIL({p} * n_t) AS BIGINT) THEN value END) AS exact_{nm}" for nm, p in _QS_PS)}
        FROM (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_t
            FROM events
        ) GROUP BY event_type
    )
    SELECT a.event_type, a.n_events,
           {", ".join(f"ROUND(a.approx_{nm}, 2) AS approx_{nm}, ROUND(e.exact_{nm}, 2) AS exact_{nm}, (e.exact_{nm} >= a.approx_{nm} AND e.exact_{nm} < a.approx_{nm} + {_QS_BIN_W}) AS {nm}_in_bin" for nm, _ in _QS_PS)}
    FROM approx a JOIN exact e ON e.event_type = a.event_type
    ORDER BY a.event_type
    """,
    desc=f"mergeable fixed-width quantile sketch (bin={_QS_BIN_W}, {_QS_SHARDS} shard partials merged additively); p50/p90/p99 + exact-in-bin error guard",
)
def quantile_mergeable_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a MERGEABLE quantile sketch: partials
    are (type, shard, bin, count) cells — buildable independently per
    partition/day/file — the merge is plain count addition, and a
    quantile is the first bin whose cumulative reaches p·total.  The
    output carries the sketch's own error certificate: the exact
    rank-ceil(p·n) order statistic (no interpolation — engine-neutral)
    must land inside the reported bin.

    Scale: partial cells are bounded by types × shards × ~50 bins (the
    shuffle carries cells, not events); the merge and cumulative walk
    are over that bounded cell table.  The exact order statistic here
    is an oracle-side audit — at 100 TB you'd ship only the sketch; it
    ranks inside (event_type, value)-bounded windows."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    partials = ev.groupBy(
        "event_type",
        (F.col("user_id") % _QS_SHARDS).alias("shard"),
        F.floor(F.col("value") / _QS_BIN_W).cast("long").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = partials.groupBy("event_type", "bin").agg(F.sum("cnt").alias("n"))
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    cum = merged.withColumn("cum_n", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_all)
    )
    approx = cum.groupBy("event_type").agg(
        F.max("total").cast("long").alias("n_events"),
        *[
            F.min(
                F.when(
                    F.col("cum_n") >= F.lit(p) * F.col("total"),
                    F.col("bin") * _QS_BIN_W,
                )
            ).alias(f"approx_{nm}")
            for nm, p in _QS_PS
        ],
    )
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_t"),
    )
    exact = ranked.groupBy("event_type").agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.lit(p) * F.col("n_t")).cast("long"),
                    F.col("value"),
                )
            ).alias(f"exact_{nm}")
            for nm, p in _QS_PS
        ]
    )
    out_cols = [F.col("event_type"), F.col("n_events")]
    for nm, _p in _QS_PS:
        out_cols += [
            F.round(F.col(f"approx_{nm}"), 2).alias(f"approx_{nm}"),
            F.round(F.col(f"exact_{nm}"), 2).alias(f"exact_{nm}"),
            (
                (F.col(f"exact_{nm}") >= F.col(f"approx_{nm}"))
                & (F.col(f"exact_{nm}") < F.col(f"approx_{nm}") + _QS_BIN_W)
            ).alias(f"{nm}_in_bin"),
        ]
    return (
        approx.join(exact, "event_type").select(*out_cols).orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Jackknife ratio variance


@register(
    "jackknife_ratio_ci",
    sql="""
    WITH strata AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS m,
               SUM(o_totalprice) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(s) AS st, CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(COUNT(*) AS BIGINT) AS k FROM strata),
    loo AS (
        SELECT (t.st - s.s) / (t.nt - s.n) AS r_i, t.k
        FROM strata s CROSS JOIN tot t
    )
    SELECT ROUND(t.st / t.nt, 6) AS ratio_overall,
           t.k AS n_strata,
           ROUND(AVG(l.r_i), 6) AS jk_mean,
           ROUND(SQRT((MAX(l.k) - 1.0) / MAX(l.k)
                      * SUM(POW(l.r_i - (SELECT AVG(r_i) FROM loo), 2))), 4)
               AS jk_se
    FROM loo l CROSS JOIN tot t
    GROUP BY t.st, t.nt, t.k
    """,
    desc="leave-one-month-out jackknife SE for revenue-per-order (closed-form from per-stratum sums; no resampling)",
)
def jackknife_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-stratum jackknife for a ratio metric: each
    pseudo-ratio r_i drops one month's (sum, count) from the totals;
    SE = sqrt((k-1)/k · Σ(r_i - mean)²).  The standard closed-form
    uncertainty for ratio metrics where bootstrap resampling would
    need corpus-sized shuffles — here only per-stratum sufficient
    statistics ever leave the scan.

    Scale: one aggregate to 80 month rows, a one-row total broadcast,
    and the jackknife fold over those 80 rows.  Nothing downstream of
    the first groupBy touches order-level data."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    strata = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).agg(F.sum("o_totalprice").alias("s"), F.count(F.lit(1)).alias("n"))
    tot = strata.agg(
        F.sum("s").alias("st"),
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("k"),
    )
    loo = strata.crossJoin(F.broadcast(tot)).select(
        ((F.col("st") - F.col("s")) / (F.col("nt") - F.col("n"))).alias("r_i"),
        "st",
        "nt",
        "k",
    )
    # two-pass: put the jackknife mean on every pseudo-ratio row via a
    # window KEYED on the (constant-per-run) total columns — non-empty
    # partition spec, one 80-row partition — so the SE uses the
    # numerically stable centered form Σ(r_i - mean)².  The one-pass
    # Σr² - k·mean² cancels ~12 leading digits here and flips the last
    # rounded decimal vs the oracle; a join back would plan as a second
    # BroadcastNestedLoopJoin (self-join keys dedup to `true`).
    w_tot = Window.partitionBy("st", "nt", "k")
    return (
        loo.withColumn("_jm", F.avg("r_i").over(w_tot))
        .groupBy("st", "nt", "k", "_jm")
        .agg(F.sum(F.pow(F.col("r_i") - F.col("_jm"), 2)).alias("_ss"))
        .select(
            F.round(F.col("st") / F.col("nt"), 6).alias("ratio_overall"),
            F.col("k").cast("long").alias("n_strata"),
            F.round(F.col("_jm"), 6).alias("jk_mean"),
            F.round(
                F.sqrt((F.col("k") - 1.0) / F.col("k") * F.col("_ss")), 4
            ).alias("jk_se"),
        )
    )


# ---------------------------------------------------------------------------
# Normalization dedup gain

_NORM_PUNCT = "[.,!?;:]"


@register(
    "normalize_dedup_gain",
    sql=f"""
    WITH d AS (
        SELECT source, text,
               TRIM(REGEXP_REPLACE(
                   REGEXP_REPLACE(LOWER(text), '{_NORM_PUNCT}', '', 'g'),
                   '\\s+', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS dup_raw,
           CAST(COUNT(*) - COUNT(DISTINCT norm) AS BIGINT) AS dup_normalized,
           CAST(COUNT(DISTINCT text) - COUNT(DISTINCT norm) AS BIGINT) AS gained
    FROM d GROUP BY source ORDER BY source
    """,
    desc="exact-dup counts before vs after conservative canonicalization (case-fold, punctuation strip, whitespace collapse) per source",
)
def normalize_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization as a dedup pre-pass: lowercase, strip
    sentence punctuation, collapse runs of whitespace — the
    conservative normalizations every pretraining pipeline applies
    before exact hashing (CCNet, Gopher).  Output quantifies exactly
    how many duplicate documents normalization SURFACES over raw
    string equality, per source.  The regex subset used ([.,!?;:],
    \\s+) has identical semantics in Java regex and RE2.

    Scale: one codegen string pipeline on the scan followed by
    hash-grouped distinct aggregation — no window, no Python, and the
    distinct-count shuffle carries (source, hash) not full texts once
    AQE's partial aggregation kicks in."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), _NORM_PUNCT, ""),
            r"\s+",
            " ",
        )
    )
    return (
        docs.select("source", "text", norm.alias("norm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.countDistinct("text")).alias("dup_raw"),
            (F.count(F.lit(1)) - F.countDistinct("norm")).alias("dup_normalized"),
            (F.countDistinct("text") - F.countDistinct("norm")).alias("gained"),
        )
        .orderBy("source")
    )
