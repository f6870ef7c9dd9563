"""FIXTURES.md A3: sparse and dense encodings of the same values must
produce identical models and predictions (the reference kept separate
sparse kernels, BLAS.scala:73-92 / MLUtils.scala:77-84; this engine
densifies per Arrow batch — agreement is the contract either way)."""

import numpy as np
from pyspark.ml.linalg import Vectors

from sparkml_som_spark.som import SOM


def _twin_dfs(spark, n=60, d=12, seed=3):
    rng = np.random.default_rng(seed)
    dense_rows = rng.random((n, d))
    # sparsify: zero out ~70% of entries, same values in both encodings
    mask = rng.random((n, d)) < 0.7
    vals = np.where(mask, 0.0, dense_rows)
    sparse_df = spark.createDataFrame(
        [
            (Vectors.sparse(d, {i: float(v) for i, v in enumerate(row) if v != 0.0}),)
            for row in vals
        ],
        ["features"],
    )
    dense_df = spark.createDataFrame([(row.tolist(),) for row in vals], "features array<double>")
    return sparse_df, dense_df


def test_sparse_dense_same_model_and_predictions(spark):
    sparse_df, dense_df = _twin_dfs(spark)
    # identical partitioning => identical seeded init => identical fit
    m_sparse = SOM(height=2, width=2, maxIter=4, seed=9, tol=0.0).fit(sparse_df.coalesce(1))
    m_dense = SOM(height=2, width=2, maxIter=4, seed=9, tol=0.0).fit(dense_df.coalesce(1))
    np.testing.assert_allclose(m_sparse.prototypes, m_dense.prototypes, rtol=1e-12)

    p_sparse = [r["prediction"] for r in m_sparse.transform(sparse_df.coalesce(1)).collect()]
    p_dense = [r["prediction"] for r in m_dense.transform(dense_df.coalesce(1)).collect()]
    assert p_sparse == p_dense


def test_sparse_kernel_matches_dense_kernel():
    """CSR bincount kernels == dense GEMM kernels on the same values
    (incl. an all-zero row)."""
    from sparkml_som_spark.som import kernel as K

    rng = np.random.default_rng(1)
    n, d, k = 50, 30, 6
    X = rng.random((n, d))
    X[rng.random((n, d)) < 0.7] = 0.0
    X[3] = 0.0
    cb = rng.random((k, d))

    indptr, idxs, vals = [0], [], []
    for row in X:
        nz = np.flatnonzero(row)
        idxs.append(nz.astype(np.int64))
        vals.append(row[nz])
        indptr.append(indptr[-1] + len(nz))
    block = (np.asarray(indptr, np.int64), np.concatenate(idxs), np.concatenate(vals), n, d)

    i_d, d2_d = K.find_bmu(X, cb)
    i_s, d2_s = K.find_bmu_sparse(block, cb)
    assert (i_d == i_s).all()
    np.testing.assert_allclose(d2_d, d2_s, rtol=1e-12)

    s_d, c_d, co_d = K.partial_aggregate(X, cb, k)
    s_s, c_s, co_s = K.partial_aggregate_sparse(block, cb, k)
    np.testing.assert_allclose(s_d, s_s, rtol=1e-12)
    assert (c_d == c_s).all()
    np.testing.assert_allclose(co_d, co_s, rtol=1e-12)


def test_forced_sparse_path_parity(spark, monkeypatch):
    """With the density threshold forced open, the CSR fit path must
    produce the same model and predictions as the dense path on the twin
    encodings of the same values."""
    from sparkml_som_spark.som import SOM as SOMcls

    sparse_df, dense_df = _twin_dfs(spark)
    monkeypatch.setattr(SOMcls, "_SPARSE_DENSITY_THRESHOLD", 1.1)
    monkeypatch.setattr(SOMcls, "_SPARSE_MIN_DIM", 0)
    m_sparse = SOMcls(height=2, width=2, maxIter=4, seed=9, tol=0.0).fit(sparse_df.coalesce(1))
    assert m_sparse._sparse_inference
    monkeypatch.setattr(SOMcls, "_SPARSE_DENSITY_THRESHOLD", 0.0)
    m_dense = SOMcls(height=2, width=2, maxIter=4, seed=9, tol=0.0).fit(dense_df.coalesce(1))
    assert not m_dense._sparse_inference
    np.testing.assert_allclose(m_sparse.prototypes, m_dense.prototypes, rtol=1e-12)

    p_sparse = [r["prediction"] for r in m_sparse.transform(sparse_df.coalesce(1)).collect()]
    p_dense = [r["prediction"] for r in m_dense.transform(dense_df.coalesce(1)).collect()]
    assert p_sparse == p_dense


def test_forced_sparse_model_stays_sparse_after_save_and_load(spark, monkeypatch, tmp_path):
    """The sparse-inference flag survives `SOMModel.load` and
    `PipelineModel.load`: the reloaded model scores VectorUDT input on the
    CSR path and gives the in-session model's predictions and distances
    bit for bit."""
    from pyspark.ml import Pipeline, PipelineModel

    from sparkml_som_spark.som import SOM as SOMcls
    from sparkml_som_spark.som import SOMModel

    sparse_df, _ = _twin_dfs(spark)
    monkeypatch.setattr(SOMcls, "_SPARSE_DENSITY_THRESHOLD", 1.1)
    monkeypatch.setattr(SOMcls, "_SPARSE_MIN_DIM", 0)
    df = sparse_df.coalesce(1)
    som = SOMcls(height=2, width=2, maxIter=4, seed=9, tol=0.0, distanceCol="d2")
    model = som.fit(df)
    assert model._sparse_inference
    model.save(str(tmp_path / "som"))
    Pipeline(stages=[som]).fit(df).save(str(tmp_path / "pipe"))

    def scores(m):
        return [(r["prediction"], r["d2"].hex()) for r in m.transform(df).collect()]

    want = scores(model)
    loaded = SOMModel.load(str(tmp_path / "som"))
    assert loaded._sparse_inference
    assert scores(loaded) == want
    piped = PipelineModel.load(str(tmp_path / "pipe"))
    assert piped.stages[0]._sparse_inference
    assert scores(piped) == want


def test_forced_sparse_cost_is_sum_of_distances(spark, monkeypatch):
    """On the CSR path too, compute_cost is the sum of transform's
    distanceCol bit for bit; a null vector adds nothing."""
    from pyspark.sql import functions as F

    from sparkml_som_spark.som import SOM as SOMcls

    sparse_df, _ = _twin_dfs(spark)
    monkeypatch.setattr(SOMcls, "_SPARSE_DENSITY_THRESHOLD", 1.1)
    monkeypatch.setattr(SOMcls, "_SPARSE_MIN_DIM", 0)
    df = sparse_df.repartition(3)
    model = SOMcls(height=2, width=2, maxIter=4, seed=9, distanceCol="d2").fit(df)
    assert model._sparse_inference
    with_null = df.union(spark.createDataFrame([(None,)], sparse_df.schema))
    total = model.transform(with_null).agg(F.sum("d2")).first()[0]
    assert model.compute_cost(with_null).hex() == total.hex()


def test_sparse_highdim_hashingtf(spark, tables):
    """d=65536 HashingTF corpus: the densified blocks would be
    500 * 65536 * 8 = 262 MB (over the 256 MB local gate, and at real
    corpus sizes an executor OOM); the CSR path holds ~nnz*12 bytes and
    fits everywhere. End-to-end: fit, transform, cost — all sparse."""
    from pyspark.ml.feature import HashingTF, Tokenizer

    from sparkml_som_spark.som import SOM

    docs = tables["documents"].select("doc_id", "text")
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(docs)
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=65536).transform(toks)

    som = SOM(height=2, width=2, maxIter=2, seed=5, tMax=1.5, tMin=0.5)
    model = som.fit(tf)
    assert model._sparse_inference
    assert model.prototypes.shape == (4, 65536)

    out = model.transform(tf)
    assert out.count() == docs.count()
    preds = out.select("prediction").distinct().collect()
    assert all(0 <= r["prediction"] < 4 for r in preds)
    assert model.compute_cost(tf) > 0.0
