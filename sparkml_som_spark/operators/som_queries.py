"""SOM-backed queries for the driver contract.

The SOM itself is not SQL-expressible (iterative algorithm), so the
flagship query registers rows-only; a count-preservation invariant IS
oracle-checkable and ties the SOM path into the correctness gate
(SURVEY.md §5 oracle strategy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import broadcast, query_scope, register
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import load_table


_MODEL_CACHE: dict[str, object] = {}


def fit_default_som(spark: SparkSession, sf_dir: str):
    """Fit (or reuse) the default 5x5 SOM for this sf_dir. The model is
    deterministic for a fixed seed, so caching across queries in the
    same process changes nothing but wall time."""
    from sparkml_som_spark.som import SOM

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    if sf_dir not in _MODEL_CACHE:
        som = SOM(
            height=5, width=5, maxIter=10, seed=42, featuresCol="embedding",
            tMax=4.0, tMin=0.5,
        )
        _MODEL_CACHE[sf_dir] = som.fit(emb)
    return _MODEL_CACHE[sf_dir], emb


def som_top2(spark: SparkSession, model, features):
    """(bmu1, bmu2) struct column: each row's first- and second-best
    matching cell under `model`, from one pandas_udf over the codebook
    broadcast through the registry (released at the entry boundary)."""
    import pandas as pd

    from sparkml_som_spark.som import kernel as K

    bc = broadcast(spark, model.prototypes)

    # annotation-free: module-level `from __future__ import annotations`
    # stringifies hints and the function-local `pd` import breaks their
    # resolution — pass returnType only
    def _top2(arrs):
        import numpy as np

        x = np.stack([np.asarray(v, dtype=np.float64) for v in arrs])
        b1, b2 = K.find_bmu_top2(x, bc.value)
        return pd.DataFrame({"bmu1": b1.astype("int32"), "bmu2": b2.astype("int32")})

    return F.pandas_udf(_top2, "bmu1 int, bmu2 int")(features)


def som_cell_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell SOM summary (row count + dominant label) — the
    reference's entire pipeline (fit -> transform -> summarize) as one
    query.  This is the flagship shape `entry()` smoke-runs and the
    tests assert cell-by-cell; the registered `som_cluster_summary`
    entry rolls the same computation into engine invariants so the
    driver can value-hash it against a DuckDB oracle."""
    from sparkml_som_spark.operators.registry import materialize_small

    # not a registry entry: its own scope releases `preds` on return
    with query_scope(spark):
        model, emb = fit_default_som(spark, sf_dir)
        # two aggregations + a join read the transform output — persist so the
        # pandas_udf BMU kernel runs once, not once per action
        preds = model.transform(emb).persist()
        label_counts = (
            preds.groupBy("prediction", "label")
            .agg(F.count("*").alias("n"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("prediction").orderBy(F.desc("n"), F.asc("label"))
        dominant = (
            label_counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("prediction", F.col("label").alias("dominant_label"))
        )
        occupancy = preds.groupBy("prediction").agg(F.count("*").alias("n_rows"))
        result = (
            occupancy.join(dominant, "prediction")
            .select(
                F.col("prediction").alias("cell"),
                "n_rows",
                "dominant_label",
            )
            .orderBy("cell")
        )
        return materialize_small(result)


@register(
    "som_cluster_summary",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT)    AS n_rows,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
           CAST(0 AS BIGINT)           AS n_outside_grid,
           CAST(0 AS BIGINT)           AS n_cells_missing_dominant
    FROM embeddings
    """,
    desc="flagship SOM pipeline (fit -> transform -> per-cell summarize), surfaced as row-preservation + summary-completeness invariants under full oracle",
)
def som_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline under the FULL value hash (the
    som_hex_occupancy pattern): the per-cell summary itself is not
    SQL-derivable (iterative fit), but its conservation laws are —
    total occupancy must equal the table count, vec_id checksums must
    survive the pandas_udf kernel untouched, every BMU must lie inside
    the 5x5 grid, and every occupied cell must surface exactly one
    dominant label (the occupancy-side left join finds no orphans).  A
    kernel bug that dropped/duplicated Arrow batches, emitted an
    out-of-grid BMU, or a summarize bug that lost a cell breaks the
    hash.  The per-cell view itself stays available as
    `som_cell_summary` (entry() + tests)."""
    model, emb = fit_default_som(spark, sf_dir)
    n_cells = model.getHeight() * model.getWidth()
    preds = model.transform(emb).persist()
    label_counts = preds.groupBy("prediction", "label").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("prediction").orderBy(F.desc("n"), F.asc("label"))
    dominant = (
        label_counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("prediction", F.col("label").alias("dominant_label"))
    )
    occupancy = preds.groupBy("prediction").agg(
        F.count("*").alias("cell_n"), F.sum("vec_id").alias("cell_vec_id")
    )
    summary = occupancy.join(dominant, "prediction", "left")
    outside = (F.col("prediction") < 0) | (F.col("prediction") >= n_cells)
    out = summary.agg(
        F.sum("cell_n").alias("n_rows"),
        F.sum("cell_vec_id").alias("sum_vec_id"),
        F.count_if(outside).alias("n_outside_grid"),
        F.count_if(F.col("dominant_label").isNull()).alias("n_cells_missing_dominant"),
    )
    from sparkml_som_spark.operators.registry import materialize_small

    return materialize_small(out)


def som_cell_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell mean/max squared distance to the prototype — the
    model-quality view a SOM user reads (distanceCol extension: one
    kernel pass yields prediction + distance).  Tests assert this
    cell-by-cell; the registered entry rolls it into invariants the
    driver can value-hash."""
    from sparkml_som_spark.operators.registry import materialize_small

    model, emb = fit_default_som(spark, sf_dir)
    model.setDistanceCol("d2")
    try:
        # not a registry entry: its own scope releases `preds` on return
        with query_scope(spark):
            preds = model.transform(emb).select("prediction", "d2").persist()
            result = (
                preds.groupBy("prediction")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.round(F.avg("d2"), 4).alias("avg_d2"),
                    F.round(F.max("d2"), 4).alias("max_d2"),
                )
                .select(F.col("prediction").alias("cell"), "n_rows", "avg_d2", "max_d2")
                .orderBy("cell")
            )
            return materialize_small(result)
    finally:
        model.setDistanceCol("")  # the cached model is shared across queries


@register(
    "som_quantization_error",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT)        AS n_cells_inconsistent,
           TRUE                     AS cost_paths_agree
    FROM embeddings
    """,
    desc="quantization error via distanceCol, pinned by row-preservation, null-row and per-cell vs global d2 sum invariants under full oracle",
)
def som_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization error under the FULL value hash.  The per-cell
    numbers are not SQL-derivable, but three conservation laws are:
    (1) the distanceCol pass preserves every row, null-feature rows
    included (count == table count); (2) per-cell aggregates are
    internally consistent (0 <= avg_d2 <= max_d2 everywhere); (3) the
    per-cell d2 sums add up to `model.compute_cost`, the global sum of
    the same per-row d2 (one scoring UDF serves both, as the reference's
    `findClosest` does, `SOMModel.scala:79-97`; a null row adds nothing
    to either) — agreement to 1e-6 relative, so a grouping bug that
    drops or double-counts rows breaks the hash.  Per-cell view:
    `som_cell_quantization`."""
    model, emb = fit_default_som(spark, sf_dir)
    model.setDistanceCol("d2")
    try:
        preds = model.transform(emb).select("prediction", "d2").persist()
        per_cell = preds.groupBy("prediction").agg(
            F.count("*").alias("n"),
            F.avg("d2").alias("avg_d2"),
            F.max("d2").alias("max_d2"),
            F.sum("d2").alias("sum_d2"),
        )
        bad = (
            (F.col("avg_d2") < 0)
            | (F.col("max_d2") < F.col("avg_d2") - F.lit(1e-9))
        )
        row = per_cell.agg(
            F.sum("n").alias("n_rows"),
            F.count_if(bad).alias("n_cells_inconsistent"),
            F.sum("sum_d2").alias("total_d2"),
        ).collect()[0]
    finally:
        model.setDistanceCol("")  # the cached model is shared across queries
    cost = model.compute_cost(emb)
    agree = abs(row["total_d2"] - cost) <= 1e-6 * max(abs(cost), 1.0)
    return local_frame(
        spark, [(row["n_rows"], row["n_cells_inconsistent"], bool(agree))],
        "n_rows long, n_cells_inconsistent long, cost_paths_agree boolean",
    )


@register(
    "som_count_invariant",
    sql="SELECT COUNT(*) AS n_rows FROM embeddings",
    desc="SOM transform preserves row count (oracle-checkable invariant)",
)
def som_count_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    model, emb = fit_default_som(spark, sf_dir)
    preds = model.transform(emb)
    # also asserts the prediction range invariant inside the query:
    # rows with out-of-range predictions would be dropped and break the count
    n_cells = model.getHeight() * model.getWidth()
    return (
        preds.where((F.col("prediction") >= 0) & (F.col("prediction") < n_cells))
        .agg(F.count("*").alias("n_rows"))
    )


@register(
    "som_transform_integrity",
    sql="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT)    AS n_rows,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
    FROM embeddings
    GROUP BY label
    """,
    desc="SOM transform passthrough integrity: per-label counts + id checksums survive the pandas_udf kernel (full oracle)",
)
def som_transform_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard oracle signal routed THROUGH the SOM transform: the
    prediction itself is not SQL-derivable (iterative fit), but the
    transform's row-preservation contract is — every input row must come
    out exactly once, untouched except for the appended prediction, with
    the prediction in [0, n_cells).  Per-label counts and vec_id
    checksums over the transform output therefore must equal the same
    aggregate over the raw table; a kernel bug that dropped, duplicated,
    or reordered-and-corrupted Arrow batches breaks the hash."""
    model, emb = fit_default_som(spark, sf_dir)
    n_cells = model.getHeight() * model.getWidth()
    preds = model.transform(emb)
    return (
        preds.where((F.col("prediction") >= 0) & (F.col("prediction") < n_cells))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
    )


@register(
    "som_hex_occupancy",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT)    AS n_rows,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
           CAST(0 AS BIGINT)           AS n_outside_grid
    FROM embeddings
    """,
    desc="hexagonal-topology SOM fit: occupancy/row-preservation invariants under full oracle (topology beyond the reference)",
)
def som_hex_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit a 3x3 HEXAGONAL map (the topology SOMParams.scala:63 declares
    as planned-but-absent) and check its transform invariants under the
    FULL value hash, som_transform_integrity-style: total occupancy must
    equal the table count, vec_id checksums must survive the kernel
    untouched, and every predicted cell must lie inside the 3x3 grid
    (n_outside_grid pins that at exactly 0).  The hex fit is not
    SQL-derivable, but these derived checks are — a hex-metric bug that
    dropped rows, corrupted ids, or emitted an out-of-grid BMU breaks
    the hash.  Uses its own small fit — the hex neighborhood metric is
    the thing under test, so it cannot share the cached rectangular
    model."""
    from sparkml_som_spark.som import SOM

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    model = SOM(
        height=3, width=3, maxIter=5, seed=42, featuresCol="embedding",
        topology="hexagonal", tMax=2.0, tMin=0.5,
    ).fit(emb)
    n_cells = 3 * 3
    preds = model.transform(emb)
    outside = (F.col("prediction") < 0) | (F.col("prediction") >= n_cells)
    return preds.agg(
        F.count("*").alias("n_rows"),
        F.sum("vec_id").alias("sum_vec_id"),
        F.count_if(outside).alias("n_outside_grid"),
    )


def som_umatrix_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell U-matrix (mean Euclidean distance from each cell's
    prototype to its grid-neighbors' prototypes).  High-U cells are
    cluster boundaries.  Pure NumPy over the cached model's (n_cells, d)
    codebook — O(cells^2) driver work on a bounded grid, no cluster
    jobs beyond the (cached) fit.  Tests assert this cell-by-cell; the
    registered entry rolls it into grid invariants for the hash."""
    import numpy as np

    from sparkml_som_spark.som import kernel as K

    model, _emb = fit_default_som(spark, sf_dir)
    cb = model.prototypes
    h, w = model.getHeight(), model.getWidth()
    grid = K.grid_distances(h, w, model.getTopology())
    rows = []
    for c in range(h * w):
        nbrs = np.flatnonzero(grid[c] == 1)
        dist = float(np.linalg.norm(cb[nbrs] - cb[c], axis=1).mean())
        rows.append((c, len(nbrs), round(dist, 6)))
    return local_frame(spark, rows, "cell int, n_neighbors int, u_height double")


@register(
    "som_umatrix",
    # the classic SOM analysis surface the reference stops short of,
    # pinned by grid arithmetic a SQL oracle CAN state — a 5x5
    # rectangular lattice has exactly 2*(2*5*5 - 5 - 5) = 80 directed
    # neighbor pairs, adjacency must be symmetric, every U-height must
    # be a finite non-negative number — PLUS one data-derived anchor:
    # the fitted model's training-aggregation row count must equal the
    # table count DuckDB computes from the parquet, so a hardcoded
    # Spark-side verdict row cannot satisfy the oracle
    sql="""
    SELECT CAST(25 AS INT)    AS n_cells,
           CAST(80 AS BIGINT) AS n_directed_neighbor_pairs,
           CAST(0 AS BIGINT)  AS n_asymmetric_pairs,
           CAST(0 AS BIGINT)  AS n_invalid_u,
           CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_train_rows
    """,
    desc="U-matrix over the fitted codebook, pinned by lattice invariants (pair count, adjacency symmetry, finite non-negative U) + a data-derived training-row anchor under full oracle",
)
def som_umatrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-matrix under the FULL value hash: the per-cell heights are
    model-dependent, but the lattice they live on is pure arithmetic —
    a 5x5 rectangular grid has exactly 80 directed neighbor pairs
    (2 per interior edge: 5*(5-1) horizontal + 5*(5-1) vertical = 40
    undirected), the neighbor relation must be symmetric, and every
    height must be finite and >= 0.  A grid-metric bug (wrong
    neighborhood radius, asymmetric distance, NaN prototypes after a
    degenerate update) breaks the hash.  `n_train_rows` is the
    data-derived anchor: the per-cell BMU count total the final
    training aggregation consumed (`summary.n_samples`, summed on the
    executors) must equal DuckDB's COUNT(*) over the parquet — the
    lattice invariants cannot be satisfied by a constant row without
    also reproducing the table count through the distributed fit.
    Per-cell view: `som_umatrix_cells`."""
    import numpy as np

    from sparkml_som_spark.som import kernel as K

    model, _emb = fit_default_som(spark, sf_dir)
    cb = model.prototypes
    h, w = model.getHeight(), model.getWidth()
    grid = K.grid_distances(h, w, model.getTopology())
    adj = grid == 1
    n_pairs = int(adj.sum())
    n_asym = int((adj != adj.T).sum())
    u = np.array(
        [
            np.linalg.norm(cb[np.flatnonzero(adj[c])] - cb[c], axis=1).mean()
            for c in range(h * w)
        ]
    )
    n_invalid = int(((~np.isfinite(u)) | (u < 0)).sum())
    return local_frame(
        spark, [(h * w, n_pairs, n_asym, n_invalid, model.summary.n_samples)],
        "n_cells int, n_directed_neighbor_pairs long, n_asymmetric_pairs long, "
        "n_invalid_u long, n_train_rows long",
    )


@register(
    "som_topographic_error",
    # the TE value needs the 2nd-best BMU (not SQL-derivable), but its
    # conservation laws are: the top-2 pass preserves every row, the two
    # BMUs are always distinct cells, and the error is a fraction in
    # [0, 1] — surfaced as hashable columns
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(0 AS BIGINT)        AS n_top2_equal,
           TRUE                     AS te_in_01
    FROM embeddings
    """,
    desc="topographic error (top-2 BMU grid adjacency), pinned by row-preservation + distinct-top2 + range invariants under full oracle",
)
def som_topographic_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topographic error — the standard SOM quality metric alongside
    quantization error: the fraction of samples whose first and second
    BMUs are NOT neighbors on the grid (a twisted/folded map scores
    high).  One distributed pass: a pandas_udf computes (bmu1, bmu2)
    per Arrow batch from the broadcast codebook; adjacency is decided
    JVM-side against the broadcast (cell, cell) neighbor pair set, and
    one global aggregate returns a single row."""
    import numpy as np

    from sparkml_som_spark.som import kernel as K

    model, emb = fit_default_som(spark, sf_dir)
    h, w = model.getHeight(), model.getWidth()
    grid = K.grid_distances(h, w, model.getTopology())
    adj_pairs = [
        (int(a), int(b)) for a in range(h * w) for b in np.flatnonzero(grid[a] == 1)
    ]
    adj = local_frame(spark, adj_pairs, "bmu1 int, bmu2 int").withColumn(
        "is_adj", F.lit(1)
    )
    top2 = emb.select(
        som_top2(spark, model, F.col("embedding").cast("array<double>")).alias("t")
    ).select("t.bmu1", "t.bmu2")
    joined = top2.join(F.broadcast(adj), ["bmu1", "bmu2"], "left")
    te = F.avg(F.when(F.col("is_adj").isNull(), 1.0).otherwise(0.0))
    return joined.agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.count_if(F.col("bmu1") == F.col("bmu2")).alias("n_top2_equal"),
        ((te >= 0.0) & (te <= 1.0)).alias("te_in_01"),
    )


def som_topographic_error_value(spark: SparkSession, sf_dir: str) -> float:
    """The raw TE fraction (tests assert it against a NumPy
    recomputation; the registered entry surfaces its invariants)."""
    import numpy as np

    from sparkml_som_spark.som import kernel as K

    model, emb = fit_default_som(spark, sf_dir)
    cb = model.prototypes
    h, w = model.getHeight(), model.getWidth()
    grid = K.grid_distances(h, w, model.getTopology())
    x = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    b1, b2 = K.find_bmu_top2(x, cb)
    return float(np.mean(grid[b1, b2] != 1))


def som_grid_scoreboard(spark: SparkSession, sf_dir: str):
    """The raw model-selection scoreboard: (h, w, n_cells, QE,
    is_best, n_train_rows) per candidate map size.  The smaller-map
    tiebreak is applied HERE, on the rows users read — `is_best` marks
    exactly one row (min QE; ties broken toward fewer cells), so the
    registered verdict's `n_best` measures the scoreboard instead of
    restating a constant.  Tests assert it row-by-row; the registered
    entry rolls it into hashable selection invariants."""
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

    def fit_candidate(hw):
        h, w = hw
        model = SOM(
            height=h, width=w, maxIter=8, seed=42, featuresCol="embedding",
            tMax=3.0, tMin=0.5,
        ).fit(emb)
        return (
            h, w, h * w, round(model.summary.training_cost, 6),
            model.summary.n_samples,
        )

    grid = [(2, 2), (3, 3), (4, 4)]
    # candidates are independent seeded fits — run them as concurrent
    # jobs on the shared scheduler (the local-mode expression of a
    # cluster's parallel model-selection sweep), reading one cached copy
    # of the training table; not a registry entry, so its own scope
    # releases that copy on return
    with query_scope(spark):
        emb = emb.persist()
        emb.count()
        with ThreadPoolExecutor(max_workers=len(grid)) as pool:
            rows = list(pool.map(fit_candidate, grid))
    # tiebreak toward the simpler model: the unique winner is the
    # smallest-cell-count row among the min-QE ties
    winner = min(rows, key=lambda r: (r[3], r[2]))
    return [
        (r[0], r[1], r[2], r[3], r is winner, r[4]) for r in rows
    ]


@register(
    "som_grid_search",
    # the QE values are iterative-ML outputs, but the SELECTION CONTRACT
    # is hashable: all three candidates fit and score, exactly one
    # winner after the smaller-map tiebreak, the winner's QE is the
    # minimum, every QE is a positive finite number — and the
    # data-derived anchor: every candidate fit must have consumed
    # exactly the table count DuckDB computes from the parquet
    sql="""
    SELECT CAST(3 AS BIGINT) AS n_candidates,
           CAST(1 AS BIGINT) AS n_best,
           TRUE              AS best_is_min_qe,
           CAST(0 AS BIGINT) AS n_invalid_qe,
           CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_train_rows
    """,
    desc="SOM model selection (seeded grid over map sizes), pinned by selection-contract invariants + a data-derived training-row anchor under full oracle",
)
def som_grid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyper-parameter selection for the SOM — the step the reference
    leaves to the user (`README.md` plots `objectiveHistory` for
    eyeballing): fit a seeded grid of map sizes, score each by
    quantization error, flag the winner (ties broken toward the
    smaller map — prefer the simpler model).

    Scale shape: each candidate fit is the engine's bounded-shuffle
    training loop; candidates are independent (a cluster would run
    them as parallel jobs); the scoreboard is |grid| rows.  The entry
    surfaces the selection contract under the FULL value hash: three
    candidates scored, exactly one winner (counted FROM the
    scoreboard's is_best flags, where the tiebreak is applied — a
    selection bug that marks zero or several winners breaks the hash),
    winner == argmin QE, all QE positive and finite (a diverged fit —
    NaN/zero cost — breaks the hash), and every candidate's
    training-aggregation row count equals DuckDB's COUNT(*) over the
    parquet (`n_train_rows`: the common `summary.n_samples` across the
    three fits, or -1 if any fit disagrees — the data-derived anchor).
    Raw scoreboard: `som_grid_scoreboard`."""
    import math

    rows = som_grid_scoreboard(spark, sf_dir)
    qes = [r[3] for r in rows]
    winners = [r for r in rows if r[4]]
    n_best = len(winners)
    best_is_min = bool(winners) and all(r[3] == min(qes) for r in winners)
    n_invalid = sum(1 for q in qes if not (math.isfinite(q) and q > 0))
    counts = {r[5] for r in rows}
    n_train_rows = counts.pop() if len(counts) == 1 else -1
    return local_frame(
        spark, [(len(rows), n_best, best_is_min, n_invalid, n_train_rows)],
        "n_candidates long, n_best long, best_is_min_qe boolean, "
        "n_invalid_qe long, n_train_rows long",
    )


@register(
    "som_outlier_audit",
    # the outlier set is model-dependent, but the QUANTILE CONTRACT is
    # not: flagging rows strictly above their cell's exact p95 caps the
    # per-cell flag count at floor(0.05 * n_cell) BY DEFINITION of the
    # discrete percentile, every flagged distance must exceed its
    # cell's threshold, and the audited row total is the table count
    # DuckDB recomputes from the parquet
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT)        AS n_cells_over_quota,
           CAST(0 AS BIGINT)        AS n_flags_below_threshold,
           TRUE                     AS flag_rate_within_5pct
    FROM embeddings
    """,
    desc="SOM anomaly audit: rows beyond their BMU cell's exact p95 distance, pinned by the discrete-quantile quota contract under full oracle",
)
def som_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applied anomaly-detection use of the fitted map — the
    workload a reference user runs after `computeCost`: score every row
    by its squared distance to its BMU (one kernel pass via
    distanceCol), set a PER-CELL threshold at the cell's exact p95
    distance (local thresholds catch outliers that a global cutoff
    misses in dense cells and over-flags in sparse ones), and audit the
    flagged set.

    Scale shape: the threshold table is one grouped exact-percentile
    aggregate folding to the 25-cell grid, broadcast back onto the
    scored stream for the flag predicate — no second wide shuffle.  At
    100 TB swap the exact percentile for approx_percentile with a
    rank-error contract (the `approx_percentile_prices` pattern).

    FULL-hash contract: flagging strictly above the discrete p95 caps
    each cell's flags at floor(0.05 * n_cell) (quota violations break
    the hash), every flagged row's distance must exceed its cell's
    threshold (a broadcast/join slip breaks it), the global flag rate
    is <= 5%, and the audited total is DuckDB's COUNT(*)."""
    model, emb = fit_default_som(spark, sf_dir)
    model.setDistanceCol("d2")
    try:
        preds = model.transform(emb).select("prediction", "d2").persist()
        thr = preds.groupBy("prediction").agg(
            F.percentile_approx("d2", 0.95, 2_147_483_647).alias("p95"),
            F.count(F.lit(1)).alias("n_cell"),
        )
        # percentile_approx at max accuracy is EXACT discrete; flag
        # strictly above it
        flagged = (
            preds.join(F.broadcast(thr), "prediction")
            .withColumn("is_flag", (F.col("d2") > F.col("p95")).cast("int"))
        )
        per_cell = flagged.groupBy("prediction").agg(
            F.sum("is_flag").alias("n_flags"),
            F.first("n_cell").alias("n_cell"),
            F.first("p95").alias("p95"),
            F.min(F.when(F.col("is_flag") == 1, F.col("d2"))).alias("min_flag_d2"),
        )
        row = per_cell.agg(
            F.sum("n_cell").alias("n_rows"),
            F.count_if(
                F.col("n_flags") > F.floor(0.05 * F.col("n_cell"))
            ).alias("n_cells_over_quota"),
            F.count_if(
                F.col("min_flag_d2").isNotNull()
                & (F.col("min_flag_d2") <= F.col("p95"))
            ).alias("n_flags_below_threshold"),
            (F.sum("n_flags") <= 0.05 * F.sum("n_cell")).alias(
                "flag_rate_within_5pct"
            ),
        ).collect()[0]
    finally:
        model.setDistanceCol("")  # the cached model is shared across queries
    return local_frame(
        spark, [tuple(row)],
        "n_rows long, n_cells_over_quota long, n_flags_below_threshold long, "
        "flag_rate_within_5pct boolean",
    )


@register(
    "som_per_label_models",
    # per-group model training under the hash: the per-label QE values
    # are iterative outputs, but every label's row count and variance
    # trace (the QE of the degenerate one-cell map) are DuckDB-
    # recomputable, and a trained 3x3 map must beat that degenerate
    # baseline on every group
    sql="""
    WITH unn AS (
        SELECT label, i, var_pop(e) AS vp FROM (
            SELECT label, unnest(embedding) AS e,
                   unnest(range(1, 1 + len(embedding))) AS i
            FROM embeddings) GROUP BY label, i
    ), tr AS (
        SELECT label, ROUND(SUM(vp), 4) AS trace FROM unn GROUP BY label
    ), cnt AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM embeddings GROUP BY label
    )
    SELECT cnt.label, cnt.n_rows, tr.trace, TRUE AS qe_below_trace
    FROM cnt JOIN tr ON tr.label = cnt.label
    """,
    desc="per-group SOM training via applyInPandas (one model per label), pinned by per-group count + variance-trace anchors under full oracle",
)
def som_per_label_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'millions of small models' Spark pattern, instantiated with
    the reference's own algorithm: `groupBy(label).applyInPandas` fits
    an INDEPENDENT 3x3 SOM per label group, entirely inside one task
    per group — the shape for per-tenant / per-category models, where
    the cluster parallelizes ACROSS models instead of within one.  The
    group fit reuses the exact distributed-kernel module
    (`som/kernel.py`: grid_distances / temperature / neighborhood /
    partial_aggregate / smooth_update), so the local and distributed
    training paths cannot drift apart.

    Determinism: rows are sorted by vec_id inside each group before
    the seeded with-replacement init (group arrival order is
    partitioning-dependent; the sort pins it), so the fitted maps are
    reproducible across cluster layouts.

    FULL-hash contract: every label's audited row count and variance
    trace come from the parquet (DuckDB recomputes both), and each
    trained map's quantization error must be BELOW the trace — the QE
    of the degenerate one-cell map at the group mean — so a fit that
    diverges, drops rows, or trains on the wrong group's data breaks
    the hash."""
    import numpy as np
    import pandas as pd

    from sparkml_som_spark.som import kernel as K

    h = w = 3
    iters = 8

    def fit_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        label = int(pdf["label"].iloc[0])
        rng = np.random.default_rng(42)
        cb = X[rng.choice(len(X), h * w, replace=True)].copy()
        grid_d = K.grid_distances(h, w, "rectangular")
        for it in range(iters):
            temp = K.temperature(it, iters, 3.0, 0.5, "exponential")
            sums, counts, _cost = K.partial_aggregate(X, cb, h * w)
            cb = K.smooth_update(cb, sums, counts, K.neighborhood(grid_d, temp, "gaussian"))
        _bmu, d2 = K.find_bmu(X, cb)
        qe = float(d2.mean())
        trace = float(X.var(axis=0).sum())
        # a degenerate group (single row / all-identical embeddings) has
        # trace == 0 and qe == 0 — correct, but the strict inequality
        # only applies when there is variance to beat
        return pd.DataFrame(
            {
                "label": [label],
                "n_rows": [len(X)],
                "trace": [round(trace, 4)],
                "qe_below_trace": [qe < trace or trace == 0.0],
            }
        )

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return emb.groupBy("label").applyInPandas(
        fit_group, "label int, n_rows long, trace double, qe_below_trace boolean"
    )
