"""End-to-end tests of the SOM Estimator/Model on Spark (local)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.som import SOM, SOMModel


@pytest.fixture(scope="module")
def small_df(spark):
    rng = np.random.default_rng(42)
    pts = rng.random((400, 3))
    return spark.createDataFrame(
        [(row.tolist(),) for row in pts], "features array<double>"
    ).repartition(4)


def test_fit_transform_roundtrip(spark, small_df):
    som = SOM(height=3, width=3, maxIter=5, seed=7)
    model = som.fit(small_df)
    assert model.prototypes.shape == (9, 3)
    preds = model.transform(small_df)
    assert preds.count() == 400  # count preservation
    stats = preds.agg(
        F.min("prediction").alias("mn"), F.max("prediction").alias("mx")
    ).first()
    assert 0 <= stats["mn"] and stats["mx"] < 9  # prediction in [0, H*W)
    assert dict(preds.dtypes)["prediction"] == "int"


def test_objective_history_trends_down(spark, small_df):
    # temperature sized to the grid (max grid dist = 4): with an oversized
    # tMax the first smoothing step pulls every prototype to the global
    # mean and cost legitimately rises, so use tMax=3 here.
    som = SOM(height=3, width=3, maxIter=8, seed=3, tMax=3.0, tMin=0.5)
    model = som.fit(small_df)
    hist = model.summary.objective_history
    assert len(hist) >= 2
    assert hist[-1] <= hist[0]
    # once the neighborhood tightens the objective should be non-increasing
    tail = hist[len(hist) // 2 :]
    for a, b in zip(tail, tail[1:]):
        assert b <= a * 1.01


def test_seed_determinism(spark, small_df):
    m1 = SOM(height=2, width=2, maxIter=3, seed=99).fit(small_df)
    m2 = SOM(height=2, width=2, maxIter=3, seed=99).fit(small_df)
    np.testing.assert_allclose(m1.prototypes, m2.prototypes)


def test_compute_cost_matches_summary(spark, small_df):
    som = SOM(height=2, width=2, maxIter=4, seed=5, tol=0.0)
    model = som.fit(small_df)
    cost = model.compute_cost(small_df)
    assert cost > 0
    # compute_cost is the sum of transform's distanceCol, bit for bit; a
    # null row keeps a null distance and adds nothing to the cost
    with_null = small_df.union(spark.createDataFrame([(None,)], "features array<double>"))
    model.setDistanceCol("d2")
    total = model.transform(with_null).agg(F.sum("d2")).first()[0]
    model.setDistanceCol("")
    assert model.compute_cost(with_null).hex() == total.hex()
    # invariant: cost equals sum of min squared distances computed locally
    local = np.stack([r["features"] for r in small_df.collect()])
    d2 = ((local[:, None, :] - model.prototypes[None, :, :]) ** 2).sum(axis=2)
    assert cost == pytest.approx(d2.min(axis=1).sum(), rel=1e-9)


def test_one_iteration_equals_hand_update(spark):
    """4 fixed points, 2x2 map, 1 iteration: new codebook == W@S/(W@n)
    computed by hand (FIXTURES.md A2)."""
    pts = [[0.0, 0.0], [0.0, 1.0], [1.0, 0.0], [1.0, 1.0]]
    df = spark.createDataFrame([(p,) for p in pts], "features array<double>")
    som = SOM(height=2, width=2, maxIter=1, seed=11, tMax=1.0, tMin=1.0)
    model = som.fit(df)

    from sparkml_som_spark.som import kernel as K

    init = som._init_codebook(
        df.select(F.col("features").cast("array<double>").alias("__features"))
    )
    idx, _ = K.find_bmu(np.asarray(pts), init)
    sums = np.zeros((4, 2))
    np.add.at(sums, idx, np.asarray(pts))
    counts = np.bincount(idx, minlength=4)
    W = K.neighborhood(K.grid_distances(2, 2), 1.0, "gaussian")
    expected = K.smooth_update(init, sums, counts, W)
    np.testing.assert_allclose(model.prototypes, expected, rtol=1e-12)


def test_vector_udt_input(spark):
    from pyspark.ml.linalg import Vectors

    df = spark.createDataFrame(
        [(Vectors.dense([0.0, 0.0]),), (Vectors.sparse(2, [(1, 1.0)]),)], ["features"]
    )
    model = SOM(height=2, width=2, maxIter=2, seed=1).fit(df)
    out = model.transform(df)
    assert out.count() == 2


def test_rectangular_kernel_linear_decay(spark, small_df):
    som = SOM(
        height=2, width=2, maxIter=3, seed=2,
        neighborhoodKernel="rectangular", temperatureDecay="linear",
    )
    model = som.fit(small_df)
    assert model.prototypes.shape == (4, 3)


def test_empty_prediction_col_disables_output(spark, small_df):
    model = SOM(height=2, width=2, maxIter=2, seed=1).fit(small_df)
    model.setPredictionCol("")
    out = model.transform(small_df)
    assert out.columns == small_df.columns


def test_save_load_roundtrip(spark, small_df, tmp_path):
    model = SOM(height=2, width=3, maxIter=2, seed=8).fit(small_df)
    path = str(tmp_path / "som_model")
    model.save(path)
    loaded = SOMModel.load(spark, path)
    np.testing.assert_allclose(loaded.prototypes, model.prototypes)
    assert loaded.getHeight() == 2 and loaded.getWidth() == 3
    p1 = model.transform(small_df).select("prediction").collect()
    p2 = loaded.transform(small_df).select("prediction").collect()
    assert p1 == p2


def test_warm_start(spark, small_df):
    m0 = SOM(height=2, width=2, maxIter=2, seed=4).fit(small_df)
    som = SOM(height=2, width=2, maxIter=1, seed=4, tMax=1.0, tMin=1.0)
    som.setInitialModel(m0)
    m1 = som.fit(small_df)
    assert m1.prototypes.shape == m0.prototypes.shape
    assert not np.allclose(m1.prototypes, m0.prototypes) or True  # moved or converged


def test_distance_col_extension(spark, small_df):
    import numpy as np

    model = SOM(height=2, width=2, maxIter=2, seed=1, distanceCol="bmu_dist").fit(small_df)
    rows = model.transform(small_df.limit(20)).collect()
    assert all(r["bmu_dist"] >= 0 for r in rows)
    # distance agrees with a local recompute against the prototypes
    for r in rows[:5]:
        x = np.asarray(r["features"])
        d2 = ((model.prototypes - x) ** 2).sum(axis=1)
        assert r["prediction"] == int(d2.argmin())
        assert r["bmu_dist"] == pytest.approx(float(d2.min()), rel=1e-9)
    # disabling the prediction col but keeping distance still works
    model.setPredictionCol("")
    cols = model.transform(small_df).columns
    assert "bmu_dist" in cols and "prediction" not in cols


def test_transform_null_features_yields_null_prediction(spark, small_df):
    model = SOM(height=2, width=2, maxIter=2, seed=1).fit(small_df)
    with_null = small_df.limit(3).union(
        spark.createDataFrame([(None,)], "features array<double>")
    )
    rows = model.transform(with_null).collect()
    assert len(rows) == 4  # count preserved
    preds = [r["prediction"] for r in rows]
    assert preds.count(None) == 1
    assert all(p is not None for p, r in zip(preds, rows) if r["features"] is not None)
    # compute_cost must not crash either; nulls contribute zero
    assert model.compute_cost(with_null) >= 0.0


def test_warm_start_dim_mismatch_raises(spark, small_df):
    m0 = SOM(height=2, width=2, maxIter=1, seed=4).fit(small_df)  # 3-d
    five_d = spark.createDataFrame(
        [([0.1, 0.2, 0.3, 0.4, 0.5],) for _ in range(8)], "features array<double>"
    )
    som = SOM(height=2, width=2, maxIter=1, seed=4)
    som.setInitialModel(m0)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dimension"):
        som.fit(five_d)


def test_warm_start_shape_mismatch_raises(spark, small_df):
    m0 = SOM(height=2, width=2, maxIter=1, seed=4).fit(small_df)
    with pytest.raises(ValueError):
        SOM(height=3, width=3).setInitialModel(m0)


def test_param_validation(spark, small_df):
    with pytest.raises(ValueError):
        SOM(height=0).fit(small_df)
    with pytest.raises(ValueError):
        SOM(tMin=5.0, tMax=1.0).fit(small_df)
    with pytest.raises(ValueError):
        SOM(neighborhoodKernel="bogus").fit(small_df)


def test_pipeline_compat(spark, small_df):
    from pyspark.ml import Pipeline

    pipe = Pipeline(stages=[SOM(height=2, width=2, maxIter=2, seed=1)])
    pm = pipe.fit(small_df)
    assert pm.transform(small_df).count() == 400


def test_local_and_distributed_fit_paths_agree(spark):
    """The small-data driver-local loop must produce the same model as
    the distributed aggregate path (identical kernel math; only the
    float summation grouping differs): prototypes to 1e-12, the same
    trained row count and the same predictions."""
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(row.tolist(),) for row in rng.random((400, 4))], "features array<double>"
    ).repartition(4).cache()
    df.count()

    kwargs = dict(height=3, width=3, maxIter=8, seed=11)
    local = SOM(**kwargs).fit(df)

    class DistributedSOM(SOM):
        _LOCAL_FIT_BYTES = 0  # force the aggregate/treeAggregate path

    dist = DistributedSOM(**kwargs).fit(df)
    try:
        assert np.abs(local.prototypes - dist.prototypes).max() <= 1e-12
        assert np.allclose(
            local.summary.objective_history, dist.summary.objective_history, atol=1e-9
        )
        assert local.summary.n_samples == dist.summary.n_samples == 400

        def predictions(model):
            rows = model.transform(df).select("features", "prediction").collect()
            return sorted((tuple(r.features), r.prediction) for r in rows)

        assert predictions(local) == predictions(dist)
    finally:
        df.unpersist()


def test_pipeline_model_persistence(spark, tables, tmp_path):
    """PipelineModel.save/load round-trip with a SOM stage (MLWritable/
    MLReadable wiring) — predictions identical after reload; the bare
    Pipeline (unfitted estimator) round-trips too."""
    from pyspark.ml import Pipeline, PipelineModel

    from sparkml_som_spark.operators.text_pipeline import build_text_som_pipeline

    docs = tables["documents"].limit(200)
    pipe = build_text_som_pipeline(n_features=64, height=2, width=2, seed=9)

    pipe_path = str(tmp_path / "som_pipeline")
    pipe.write().overwrite().save(pipe_path)
    pipe2 = Pipeline.load(pipe_path)
    assert pipe2.getStages()[-1].getHeight() == 2

    fitted = pipe.fit(docs)
    model_path = str(tmp_path / "som_pipeline_model")
    fitted.write().overwrite().save(model_path)
    reloaded = PipelineModel.load(model_path)

    a = fitted.transform(docs).select("doc_id", "topic_cell").orderBy("doc_id").collect()
    b = reloaded.transform(docs).select("doc_id", "topic_cell").orderBy("doc_id").collect()
    assert a == b

def test_hexagonal_topology_end_to_end(spark, small_df):
    """Hexagonal grid (the topology the reference declares as planned
    but absent, SOMParams.scala:63) fits, predicts into the full cell
    range, and trains a genuinely different map than rectangular on the
    same data/seed — the neighborhood metric is load-bearing."""
    hex_m = SOM(height=3, width=3, maxIter=5, seed=7, topology="hexagonal").fit(small_df)
    rect_m = SOM(height=3, width=3, maxIter=5, seed=7).fit(small_df)
    assert hex_m.summary.topology == "hexagonal"
    preds = [r["prediction"] for r in hex_m.transform(small_df).collect()]
    assert all(0 <= p < 9 for p in preds)
    assert not np.allclose(hex_m.prototypes, rect_m.prototypes)


def test_hexagonal_model_save_load(spark, small_df, tmp_path):
    """Topology must survive persistence — a reloaded hex model keeps
    hex neighborhoods (param metadata) and identical predictions."""
    path = str(tmp_path / "hex_model")
    model = SOM(height=2, width=3, maxIter=3, seed=5, topology="hexagonal").fit(small_df)
    model.save(path)
    loaded = SOMModel.load(spark, path)
    assert loaded.getTopology() == "hexagonal"
    np.testing.assert_allclose(loaded.prototypes, model.prototypes)
    a = [r["prediction"] for r in model.transform(small_df).collect()]
    b = [r["prediction"] for r in loaded.transform(small_df).collect()]
    assert a == b


@pytest.fixture(scope="module")
def draw_layouts(spark):
    """Input layouts for the local-draw pins: cached 1/4/7 partitions,
    an uncached round-robin repartition, and a two-key hash layout that
    leaves partitions empty."""
    rng = np.random.default_rng(17)
    base = spark.createDataFrame(
        [(row.tolist(),) for row in rng.random((300, 3))], "features array<double>"
    )
    out = {f"cached{n}": base.repartition(n).cache() for n in (1, 4, 7)}
    out["uncached4"] = base.repartition(4)
    out["empty_part"] = base.repartition(6, F.col("features")[0] > 0.5)
    yield out
    for df in out.values():
        df.unpersist()


@pytest.mark.parametrize("seed", [0, 42, -5])
def test_local_draw_pins_pyspark_take_sample(spark, draw_layouts, seed):
    """The dense local fit draws its init rows on the driver by
    replaying `RDD.takeSample(True, n_cells, seed)` with two private
    PySpark helpers (`RDD._computeFractionForSampleSize`,
    `rddsampler.RDDSampler`).  Pin that replay to the real thing: the
    local codebook equals `_init_codebook` bit for bit on every layout,
    and a local fit equals the same fit warm-started from that
    codebook."""
    from sparkml_som_spark.som.estimator import (
        _collect_dense,
        _features_as_array,
        _take_sample_rows,
    )

    kwargs = dict(height=3, width=4, maxIter=4, seed=seed)
    for name, df in draw_layouts.items():
        feats = _features_as_array(df, "features").persist()
        try:
            x, ranges = _collect_dense(feats)
            if name == "empty_part":
                assert len(ranges) < feats.rdd.getNumPartitions()
            # ranges tile [0, n) in partition order
            assert [r[0] for r in ranges] == sorted({r[0] for r in ranges})
            assert ranges[0][1] == 0 and ranges[-1][2] == len(x) == 300
            assert all(a[2] == b[1] for a, b in zip(ranges, ranges[1:]))
            som = SOM(**kwargs)
            want = som._init_codebook(feats)
            got = x[_take_sample_rows(ranges, len(x), 12, seed)]
            assert got.tobytes() == want.tobytes(), name
        finally:
            feats.unpersist()
        fitted = SOM(**kwargs).fit(df)
        warm = SOM(**kwargs).setInitialModel(SOMModel(prototypes=want)).fit(df)
        assert fitted.prototypes.tobytes() == warm.prototypes.tobytes(), name
        assert fitted.summary.objective_history == warm.summary.objective_history, name


def test_empty_and_all_null_inputs_raise(spark):
    empty = spark.createDataFrame([], "features array<double>")
    nulls = spark.createDataFrame([(None,), (None,)], "features array<double>")
    for df in (empty, nulls):
        with pytest.raises(ValueError, match="cannot fit SOM on an empty dataset"):
            SOM(height=2, width=2, maxIter=2, seed=1).fit(df)


def test_ragged_rows_raise(spark):
    df = spark.createDataFrame(
        [([0.1, 0.2],), ([0.3],), ([0.5, 0.6],)], "features array<double>"
    )
    with pytest.raises(ValueError):
        SOM(height=2, width=2, maxIter=2, seed=1).fit(df)


def test_null_elements_decode_to_nan(spark):
    """A null inside a feature array decodes to NaN on the Arrow ingest,
    as `np.asarray` decodes it on the RDD path."""
    from sparkml_som_spark.som.estimator import _collect_dense, _features_as_array

    df = spark.createDataFrame(
        [([0.1, None],), ([0.3, 0.4],), ([0.5, 0.6],)], "features array<double>"
    ).coalesce(1)
    feats = _features_as_array(df, "features")
    x, _ = _collect_dense(feats)
    rdd_x = np.asarray([r[0] for r in feats.collect()], dtype=np.float64)
    assert np.isnan(x[0, 1]) and np.array_equal(x, rdd_x, equal_nan=True)
    # the local fit and the RDD-block distributed fit agree on such data
    local = SOM(height=1, width=2, maxIter=2, seed=3).fit(df)

    class DistributedSOM(SOM):
        _LOCAL_FIT_BYTES = 0

    dist = DistributedSOM(height=1, width=2, maxIter=2, seed=3).fit(df)
    assert np.array_equal(local.prototypes, dist.prototypes, equal_nan=True)


def test_fit_phase_timings_cover_fit_wall(spark):
    """`summary.timings` splits the fit into ingest / init / iterations /
    summary; the phases never exceed the fit's wall time and account
    for at least 80% of it."""
    import time

    rng = np.random.default_rng(0)
    df = spark.createDataFrame(
        [(row.tolist(),) for row in rng.random((10_000, 3))], "features array<double>"
    ).repartition(4).cache()
    df.count()
    try:
        t0 = time.perf_counter()
        model = SOM(height=10, width=10, maxIter=100, seed=0).fit(df)
        wall = time.perf_counter() - t0
    finally:
        df.unpersist()
    timings = model.summary.timings
    phases = ("ingest_s", "init_s", "iterations_s", "summary_s")
    assert set(timings) == {*phases, "fold_s", "update_s"}
    assert all(v >= 0 for v in timings.values())
    total = sum(timings[k] for k in phases)
    assert 0.8 * wall <= total <= wall


@pytest.mark.parametrize("local_fit_bytes", [SOM._LOCAL_FIT_BYTES, 0], ids=["local", "distributed"])
def test_iterations_split_into_fold_and_update(spark, small_df, local_fit_bytes):
    class PathSOM(SOM):
        _LOCAL_FIT_BYTES = local_fit_bytes

    timings = PathSOM(height=3, width=3, maxIter=5, seed=7).fit(small_df).summary.timings
    assert timings["fold_s"] > 0 and timings["update_s"] > 0
    assert abs(timings["fold_s"] + timings["update_s"] - timings["iterations_s"]) <= 1e-3


def test_warm_start_on_empty_input_keeps_initial_model(spark, small_df):
    """With an initial model there is nothing to draw, so an empty input
    is no error: one iteration over zero rows leaves the codebook as it
    was and records zero cost."""
    m0 = SOM(height=2, width=2, maxIter=1, seed=4).fit(small_df)
    empty = spark.createDataFrame([], "features array<double>")
    m1 = SOM(height=2, width=2, maxIter=3, seed=4).setInitialModel(m0).fit(empty)
    assert m1.prototypes.tobytes() == m0.prototypes.tobytes()
    assert m1.summary.objective_history == [0.0]
    assert m1.summary.n_samples == 0


def test_features_col_type_checked_at_call(spark, small_df):
    """A features column that is neither array<numeric> nor an ml Vector
    fails when transform / compute_cost / fit is called, with the same
    TypeError, not later inside a Spark task."""
    model = SOM(height=2, width=2, maxIter=1, seed=1).fit(small_df)
    bad = spark.createDataFrame([("0.5,0.5,0.5",)], "features string")
    calls = (model.transform, model.compute_cost, SOM(height=2, width=2).fit)
    for call in calls:
        with pytest.raises(TypeError, match="must be array<numeric> or ml Vector"):
            call(bad)


def test_movement_history_records_each_iteration(spark, small_df):
    """`summary.movement_history` holds each iteration's max squared
    prototype displacement: one per iteration, and on a fit stopped by
    `tol` the last one is the value that met tol^2."""
    fixed = SOM(height=2, width=2, maxIter=5, seed=5, tol=0.0).fit(small_df)
    assert len(fixed.summary.movement_history) == fixed.summary.iterations == 5

    tol = 1e-3
    model = SOM(height=2, width=2, maxIter=100, seed=5, tol=tol, tMax=1.0, tMin=0.5).fit(small_df)
    moves = model.summary.movement_history
    assert len(moves) == model.summary.iterations < 100
    assert moves[-1] <= tol * tol
    assert all(m > tol * tol for m in moves[:-1])
