"""Analytics operators, round 10 wave: grouped cross-validation for
the SOM and a stratified-by-cluster dedup sampler — the two
model-selection / curation gaps VERDICT r9 ask #7 named.

* ``som_grouped_cv`` — GroupKFold for the SOM: folds are assigned to
  LABEL GROUPS (md5 of the label, never the row), so no group ever
  spans train and validation — the model-selection twin of
  `purged_time_split` (which purges by time; this purges by entity).
  Each fold trains a seeded SOM on the out-of-fold rows and scores
  quantization error on the held-out rows.
* ``sample_dedup_stratified`` — dedup-then-sample curation: run the
  SemDeDup-shaped within-cell dedup (`semdedup_grid_cosine`'s
  contract), then draw a deterministic k-per-cell sample of the
  SURVIVORS — stratifying the sample by the same coarse clusters the
  dedup used, so every region of embedding space keeps representation
  instead of the densest cells dominating (the SemDeDup paper's
  observed failure of uniform post-dedup sampling).

Scale discipline: the CV entry runs |K| independent bounded-shuffle
SOM fits (a cluster would run them as parallel jobs); fold assignment
is a pure row expression (md5 of the group key), so the split needs no
shuffle at all and replays identically at any partitioning.  The
sampler inherits SemDeDup's sum(cell^2) pair bound and adds one
per-cell window whose partitions are cell-occupancy-sized; its output
is a bounded per-label grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import query_scope, register
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import load_table

# ---------------------------------------------------------------------------
# Grouped cross-validation for the SOM

_CV_FOLDS = 3
# fold(group) = 60-bit md5 prefix mod K — deterministic, engine-neutral
# (the same integer expression both engines evaluate), and a function
# of the GROUP, so group leakage across the split is impossible by
# construction rather than by audit
_CV_FOLD_SQL = (
    "CAST('0x' || substr(md5(CAST(label AS VARCHAR)), 1, 15) AS BIGINT) % {k}"
)


@register(
    "som_grouped_cv",
    # the per-fold QE values are iterative-ML outputs, but the SPLIT
    # CONTRACT is fully SQL-derivable: DuckDB recomputes the exact
    # group->fold assignment and therefore every fold's validation
    # group count, validation row count, and training row count.  The
    # Spark side reports n_train from model.summary.n_samples — the
    # row count the FIT ACTUALLY CONSUMED — so a fit that saw leaked
    # or missing rows breaks the value hash, not just an assertion.
    sql=f"""
    WITH g AS (
        SELECT label, {_CV_FOLD_SQL.format(k=_CV_FOLDS)} AS fold
        FROM (SELECT DISTINCT label FROM embeddings)
    ), e AS (
        SELECT emb.label, g.fold
        FROM embeddings emb JOIN g ON g.label = emb.label
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e)
    SELECT f.f AS fold,
           CAST(COUNT(DISTINCT CASE WHEN e.fold = f.f THEN e.label END) AS BIGINT)
               AS n_val_groups,
           CAST(SUM(CASE WHEN e.fold = f.f THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           (SELECT n FROM tot)
               - CAST(SUM(CASE WHEN e.fold = f.f THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
           TRUE AS qe_valid
    FROM e CROSS JOIN (SELECT unnest(range({_CV_FOLDS})) AS f) f
    GROUP BY f.f ORDER BY f.f
    """,
    desc=f"grouped {_CV_FOLDS}-fold CV for the SOM: md5-of-label fold assignment (no group spans train/val), per-fold seeded fit + held-out quantization error; split contract under full oracle",
)
def som_grouped_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupKFold model evaluation for the SOM — the entity-grouped
    twin of `purged_time_split`: when rows within a group are
    correlated (all vectors of one label share structure), a row-level
    random split leaks group identity into validation and the CV score
    flatters the model.  Assigning FOLDS TO GROUPS (fold = md5(label)
    mod K) makes leakage structurally impossible: a group's rows are
    all-train or all-validation in any given fold.

    Per fold: a seeded SOM (same hyperparameters as
    `som_grid_search`'s mid candidate) fits on the out-of-fold rows
    and `compute_cost` scores the held-out rows — the honest
    generalization estimate of the quantization error
    (`som_quantization_error` reports the in-sample number).

    The value hash pins the split contract end-to-end: `n_train` is
    `model.summary.n_samples` — what the training aggregation actually
    consumed — and DuckDB independently recomputes total - n_val from
    the parquet and the same md5 fold expression, so a fit that reads
    the wrong split breaks the hash.  The held-out QE itself is
    surfaced as a finiteness flag here and asserted against a NumPy
    replay in tests/test_analytics34.py.

    Scale: fold assignment is a stateless row expression (no shuffle);
    the K fits are independent bounded-shuffle training loops run as
    CONCURRENT jobs (a thread per fold submits to the shared
    scheduler — the local-mode expression of "a cluster runs the folds
    in parallel"); validation scoring is one map-side-combined
    aggregate per fold."""
    import math
    from concurrent.futures import ThreadPoolExecutor

    from sparkml_som_spark.som import SOM

    # opt r16: NO spread for the CV/grid fits.  The 32-way round-robin
    # of a ~2000-row table multiplied every job inside the fit by 32
    # tasks while the per-iteration math runs on the driver's local
    # fast path anyway — measured 3.4 s -> 1.7 s per fold fit at sf0.1,
    # when those jobs were python-RDD ones (seeded takeSample, block
    # collect); the local path now runs a sizing aggregate and one
    # toArrow collect instead.  The fitted model changes with the
    # layout (the seeded init draw replays takeSample over the
    # partitions), but this entry's declared output pins layout-robust
    # counts and structural booleans only
    # (tests/test_analytics34.py::test_som_cv_grid_outputs_layout_robust).
    # At production scale a multi-file layout arrives pre-spread and
    # the distributed path parallelizes by itself.
    emb = load_table(spark, sf_dir, "embeddings")
    fold = (
        F.conv(F.substring(F.md5(F.col("label").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _CV_FOLDS
    )
    tagged = emb.withColumn("fold", fold).persist()

    def run_fold(f: int):
        train = tagged.where(F.col("fold") != f)
        val = tagged.where(F.col("fold") == f)
        som = SOM(
            height=3, width=3, maxIter=6, seed=42, featuresCol="embedding",
            tMax=3.0, tMin=0.5,
        )
        model = som.fit(train)
        n_train = int(model.summary.n_samples)
        stats = val.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("label").alias("g"),
        ).collect()[0]
        n_val, n_groups = int(stats["n"]), int(stats["g"])
        if n_val == 0:
            qe_valid = True  # vacuous fold: nothing to score
        else:
            qe = model.compute_cost(val)
            qe_valid = math.isfinite(qe) and qe > 0
        return (f, n_groups, n_val, n_train, qe_valid)

    # materialize the tagged split once so the concurrent folds read the
    # cached blocks instead of racing three parquet scans
    tagged.count()
    with ThreadPoolExecutor(max_workers=_CV_FOLDS) as pool:
        rows = list(pool.map(run_fold, range(_CV_FOLDS)))
    return local_frame(
        spark, rows,
        "fold long, n_val_groups long, n_val long, n_train long, qe_valid boolean",
    )


def som_grouped_cv_scores(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Raw per-fold scoreboard (fold, n_train, n_val, held-out QE) for
    tests — the registered entry surfaces the hashable split contract,
    this exposes the actual generalization numbers."""
    import math  # noqa: F401

    from sparkml_som_spark.som import SOM

    # opt r16: NO spread for the CV/grid fits.  The 32-way round-robin
    # of a ~2000-row table multiplied every job inside the fit by 32
    # tasks while the per-iteration math runs on the driver's local
    # fast path anyway — measured 3.4 s -> 1.7 s per fold fit at sf0.1,
    # when those jobs were python-RDD ones (seeded takeSample, block
    # collect); the local path now runs a sizing aggregate and one
    # toArrow collect instead.  The fitted model changes with the
    # layout (the seeded init draw replays takeSample over the
    # partitions), but this entry's declared output pins layout-robust
    # counts and structural booleans only
    # (tests/test_analytics34.py::test_som_cv_grid_outputs_layout_robust).
    # At production scale a multi-file layout arrives pre-spread and
    # the distributed path parallelizes by itself.
    emb = load_table(spark, sf_dir, "embeddings")
    fold = (
        F.conv(F.substring(F.md5(F.col("label").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _CV_FOLDS
    )
    tagged = emb.withColumn("fold", fold)

    def run_fold(f: int):
        train = tagged.where(F.col("fold") != f)
        val = tagged.where(F.col("fold") == f)
        model = SOM(
            height=3, width=3, maxIter=6, seed=42, featuresCol="embedding",
            tMax=3.0, tMin=0.5,
        ).fit(train)
        n_val = val.count()
        return (
            f, int(model.summary.n_samples), n_val,
            model.compute_cost(val) if n_val else float("nan"),
        )

    from concurrent.futures import ThreadPoolExecutor

    # not a registry entry: its own scope releases `tagged` on return
    with query_scope(spark):
        tagged = tagged.persist()
        tagged.count()
        with ThreadPoolExecutor(max_workers=_CV_FOLDS) as pool:
            return list(pool.map(run_fold, range(_CV_FOLDS)))


# ---------------------------------------------------------------------------
# Stratified-by-cluster dedup sampler

_DSAMP_K = 4  # survivors sampled per grid cell
_DSAMP_TAU = 0.95
_DSAMP_CELL = "CAST(floor(({e} + 0.6) * 8) AS INT)"


@register(
    "sample_dedup_stratified",
    sql=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             {_DSAMP_CELL.format(e="embedding[1]")} AS cx,
             {_DSAMP_CELL.format(e="embedding[2]")} AS cy
      FROM embeddings
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b
        ON a.cx = b.cx AND a.cy = b.cy AND a.vec_id < b.vec_id
       AND list_cosine_similarity(a.v, b.v) >= {_DSAMP_TAU}
    ), kept AS (
      SELECT e.* FROM e LEFT JOIN dropped d ON d.vec_id = e.vec_id
      WHERE d.vec_id IS NULL
    ), sampled AS (
      SELECT vec_id, label FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (
                   PARTITION BY cx, cy
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rk
        FROM kept
      ) WHERE rk <= {_DSAMP_K}
    )
    SELECT a.label,
           a.n_vectors,
           b.n_kept,
           COALESCE(c.n_sampled, 0) AS n_sampled,
           COALESCE(c.sampled_id_sum, 0) AS sampled_id_sum
    FROM (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM e GROUP BY 1) a
    JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1) b
      ON b.label = a.label
    LEFT JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_sampled,
                      CAST(SUM(vec_id) AS BIGINT) AS sampled_id_sum
               FROM sampled GROUP BY 1) c
      ON c.label = a.label
    ORDER BY a.label
    """,
    desc=f"stratified-by-cluster dedup sampler: SemDeDup within-cell drop (cos >= {_DSAMP_TAU}), then a deterministic {_DSAMP_K}-per-cell sample of the survivors; per-label accounting with exact sampled-set membership",
)
def sample_dedup_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-then-sample, stratified by the dedup's own clusters —
    the composition VERDICT r9 ask #7 named
    (`semdedup_grid_cosine` x `sample_stratified_topk`).  Uniform
    sampling AFTER semantic dedup still over-represents dense regions
    (many near-identical cells each contribute all survivors);
    capping the draw at k per coarse cell keeps every region of
    embedding space represented — the curation shape SemDeDup
    (Abbas et al. 2023) pairs with its dedup pass.

    Mechanics: the grid-cell quantizer and within-cell cosine >= tau
    drop are `semdedup_grid_cosine`'s exact contract (lower-id
    survivor wins); the per-cell draw orders survivors by
    md5(vec_id) — a pure row function, so the 'random' sample is
    identical across engines, re-runs, and partitionings —
    and keeps the first k.  `sampled_id_sum` pins exact MEMBERSHIP of
    the sampled set, not just its size.

    Scale: inherits SemDeDup's sum(cell^2) pair bound (never
    all-pairs); the per-cell draw runs through the salted two-phase
    ranking (`topk_per_query` discipline), so even a pathologically
    dense cell never lands on one sort task; output is a bounded
    per-label grid.  At 100 TB the grid quantizer swaps for
    `ann_ivf_som`'s trained cells with identical topology."""
    from sparkml_som_spark.functions import cosine

    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
        F.floor((F.element_at(F.col("embedding").cast("array<double>"), 1) + 0.6) * 8)
        .cast("int")
        .alias("cx"),
        F.floor((F.element_at(F.col("embedding").cast("array<double>"), 2) + 0.6) * 8)
        .cast("int")
        .alias("cy"),
    )
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"), "cx", "cy")
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), "cx", "cy")
    dropped = (
        a.join(b, ["cx", "cy"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (cosine(F.col("va"), F.col("vb")) >= _DSAMP_TAU)
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    kept = (
        emb.join(dropped, "vec_id", "left")
        .where(F.col("is_dropped").isNull())
        .select("vec_id", "label", "cx", "cy")
        # kept feeds the sampler AND the per-label rollup; without
        # materialization each replays the within-cell cosine self-join
        # that produces `dropped` — the entry's one expensive subtree
        # (opt r15, guide §2.4).  Bounded at n_vectors rows, 4 columns.
        .localCheckpoint()
    )
    # per-cell draw through the salted two-phase ranking (the
    # `topk_per_query` discipline): phase 1 keeps the k md5-smallest
    # within (cell, salt) — each partition holds ~1/n_salt of the
    # cell — and phase 2 ranks the <= k * n_salt survivors per cell,
    # so no task ever sorts a whole dense cell; the union of per-salt
    # top-ks contains the per-cell top-k, making the result identical
    # to the single-window form for every input
    order = (F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
    w1 = Window.partitionBy("cx", "cy", "_salt").orderBy(*order)
    w2 = Window.partitionBy("cx", "cy").orderBy(*order)
    sampled = (
        kept.withColumn("_salt", F.pmod(F.xxhash64("vec_id"), F.lit(8)))
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= _DSAMP_K)
        .withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= _DSAMP_K)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("vec_id").alias("sampled_id_sum"),
        )
    )
    per_label = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    kept_label = kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        per_label.join(kept_label, "label")
        .join(sampled, "label", "left")
        .select(
            "label",
            "n_vectors",
            "n_kept",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("sampled_id_sum", F.lit(0)).alias("sampled_id_sum"),
        )
        .orderBy("label")
    )
