"""Distributed batch Self-Organizing Map, DataFrame-native.

Re-expresses the reference training loop (`SOM.scala:79-267`) in
Spark-first terms:

- The features column is decoded ONCE and each training iteration is
  pure GEMM over the decoded blocks (replacing the per-row
  `findClosest` at `SOM.scala:306-326` with one batched
  `|x|^2+|c|^2-2xC^T` argmin per block).  A dense projection small
  enough for the driver crosses to it in one Arrow pass (`toArrow`)
  and trains there, its init rows drawn locally; the distributed and
  sparse paths decode through RDD `mapPartitions` blocks persisted
  MEMORY_AND_DISK and draw the init with RDD `takeSample`.  Sparse
  vectors become CSR blocks through one builder (`_csr_block`),
- one fold step (`_fold_step`) adds a block's (sums, counts, cost) to
  the iteration's accumulator: the local path reduces it over the
  driver's blocks, the distributed path hands it to ``aggregate`` (or
  ``treeAggregate``, depth 2, past 256 partitions) — the reference's
  mapPartitions combiner and bounded-key `reduceByKey`
  (`SOM.scala:192-212`),
- the codebook is an explicit per-iteration broadcast
  (`SOM.scala:182`), destroyed afterwards,
- cost comes out of the same reduce rather than an accumulator
  (accumulators can double-count on task retries; a reduce cannot),
- scoring has one path, as the reference's single `findClosest` serves
  both `transform` and `computeCost` (`SOMModel.scala:79-97`): one
  Arrow-vectorized pandas_udf (`SOMModel._bmu`) yields each row's
  (prediction, distance), `transform` appends its fields and
  `compute_cost` sums its distance, so inference stays in the
  DataFrame API and composes with any downstream plan.

Scale notes (100 TB north star): per-iteration driver traffic is one
(n_cells, dim) float64 array per tree-combine leg — independent of data
size, growing only with grid size. Broadcast size is
height*width*d*8 bytes (a 20x20 map on 1024-d embeddings is ~3 MB).
"""

from __future__ import annotations

import os
import random
import sys
import time
from functools import partial, reduce
from typing import Union

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark import RDD, keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.functions import vector_to_array
from pyspark.ml.util import (
    DefaultParamsReadable,
    DefaultParamsReader,
    DefaultParamsWritable,
    DefaultParamsWriter,
    MLReader,
    MLWritable,
    MLWriter,
)
from pyspark.rddsampler import RDDSampler
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from sparkml_som_spark.session import local_frame
from sparkml_som_spark.som import kernel as K
from sparkml_som_spark.som.params import SOMParams
from sparkml_som_spark.som.summary import SOMTrainingSummary
from sparkml_som_spark.sources import read_parquet

def _is_vector(df: DataFrame, col: str) -> bool:
    return df.schema[col].dataType.typeName() in ("vector", "vectorudt")


def _features_expr(df: DataFrame, col: str) -> Column:
    """The features column as array<double>.

    Accepts array<float/double> (preferred, Arrow-friendly) or
    ml VectorUDT (adapter via vector_to_array) — the reference only
    accepted ml.linalg.Vector (`SOM.scala:84-86`).  Any other type
    raises TypeError here, before a job runs.
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.ArrayType):
        return F.col(col).cast(T.ArrayType(T.DoubleType()))
    if _is_vector(df, col):
        return vector_to_array(F.col(col)).cast(T.ArrayType(T.DoubleType()))
    raise TypeError(
        f"featuresCol {col!r} must be array<numeric> or ml Vector, got {dtype.simpleString()}"
    )


def _features_as_array(df: DataFrame, col: str) -> DataFrame:
    """The non-null features as one array<double> column `__features`."""
    feats = df.select(_features_expr(df, col).alias("__features"))
    return feats.filter(F.col("__features").isNotNull())


def _batch_matrix(series: pd.Series) -> np.ndarray:
    """pandas Series of array<double> -> (n, d) float64 C-contiguous."""
    return np.asarray(np.stack(series.to_numpy()), dtype=np.float64)


def _collect_dense(feats: DataFrame) -> tuple[np.ndarray, list[tuple[int, int, int]]]:
    """The dense projection in ONE Arrow pass: the (n, d) float64 matrix
    in the order `feats.rdd` iterates (partition, then row), and the
    (partition id, start, end) row range of every non-empty partition.
    Null elements become NaN, as `np.asarray` made them; ragged rows
    raise ValueError, as `np.asarray` did."""
    tbl = feats.select(F.spark_partition_id().alias("pid"), "__features").toArrow()
    pid = tbl.column("pid").to_numpy()
    if np.any(np.diff(pid) < 0):
        raise RuntimeError("toArrow returned partitions out of order")
    col = tbl.column("__features")
    lengths = pc.list_value_length(col).to_numpy()
    dim = int(lengths[0]) if lengths.size else 0
    if np.any(lengths != dim):
        raise ValueError(
            f"feature rows differ in length ({int(lengths.min())} to {int(lengths.max())})"
        )
    x = pc.list_flatten(col).to_numpy(zero_copy_only=False).reshape(len(pid), dim)
    starts = np.flatnonzero(np.diff(pid, prepend=-1))
    ends = np.append(starts[1:], len(pid))
    ranges = [(int(pid[a]), int(a), int(b)) for a, b in zip(starts, ends)]
    return x, ranges


def _take_sample_rows(
    ranges: list[tuple[int, int, int]], n_rows: int, num: int, seed: int
) -> np.ndarray:
    """Row indices that `RDD.takeSample(True, num, seed)` returns over
    partitions holding the given row ranges, drawn on the driver with
    PySpark's own algorithm: the same sample fraction, the same
    per-partition `RDDSampler` streams (seeded by ``seed ^ partition``),
    the same reseed loop and final shuffle."""
    rand = random.Random(seed)
    fraction = RDD._computeFractionForSampleSize(num, n_rows, True)

    def draw(s: int) -> list[int]:
        sampler = RDDSampler(True, fraction, s)
        rows: list[int] = []
        for split, lo, hi in ranges:
            rows.extend(sampler.func(split, iter(range(lo, hi))))
        return rows

    samples = draw(seed)
    while len(samples) < num:
        samples = draw(rand.randint(0, sys.maxsize))
    rand.shuffle(samples)
    return np.asarray(samples[:num], dtype=np.int64)


def _sparse_rows_df(df: DataFrame, col: str) -> DataFrame:
    """VectorUDT column -> its underlying (type, size, indices, values)
    struct fields via unwrap_udt — Arrow-friendly (nnz-sized transfer),
    where vector_to_array would densify every row."""
    return (
        df.where(F.col(col).isNotNull())
        .select(F.unwrap_udt(F.col(col)).alias("u"))
        .select("u.*")
    )


def _row_dense(r, dim: int) -> np.ndarray:
    """Unwrapped vector row -> dense float64 vector, values as stored.
    Not a `_csr_block` round trip: that drops a dense row's zeros, so a
    stored -0.0 would come back +0.0 and change the init codebook."""
    if r["type"] == 1:
        return np.asarray(r["values"], dtype=np.float64)
    v = np.zeros(dim, dtype=np.float64)
    v[np.asarray(r["indices"], dtype=np.int64)] = np.asarray(r["values"], dtype=np.float64)
    return v


def _csr_block(types, sizes, indices, values, dim: int | None = None):
    """Unwrapped vector columns (type, size, indices, values) -> (CSR
    block tuple (kernel.SparseBlock) over the non-null rows, positions
    of those rows).

    type 1 = dense encoding (its nonzeros are kept), type 0 = sparse
    encoding (its stored entries are kept as they are); a null type is
    a null vector and is skipped.  ``dim`` defaults to the widest row."""
    indptr = [0]
    idx_chunks = [np.empty(0, dtype=np.int64)]
    val_chunks = [np.empty(0, dtype=np.float64)]
    valid: list[int] = []
    width = 0
    for i, (t, s, ix, v) in enumerate(zip(types, sizes, indices, values)):
        if pd.isna(t):
            continue
        v = np.asarray(v, dtype=np.float64)
        if t == 1:
            width = max(width, len(v))
            ix = np.flatnonzero(v)
            v = v[ix]
        else:
            width = max(width, int(s))
        idx_chunks.append(np.asarray(ix, dtype=np.int64))
        val_chunks.append(v)
        indptr.append(indptr[-1] + len(v))
        valid.append(i)
    block = (
        np.asarray(indptr, dtype=np.int64),
        np.concatenate(idx_chunks),
        np.concatenate(val_chunks),
        len(valid),
        width if dim is None else dim,
    )
    return block, np.asarray(valid, dtype=np.int64)


def _fold_step(acc, block, bc=None, codebook=None):
    """One training iteration's fold step ``(acc, block) -> acc``: add
    the block's (sums, counts, cost) against the codebook — held
    directly, or through the broadcast `bc` — to the accumulator."""
    cb = np.ascontiguousarray(bc.value if bc is not None else codebook)
    cn2 = np.einsum("ij,ij->i", cb, cb)
    s, c, co = K.aggregate_block(block, cb, len(cb), cn2)
    return (acc[0] + s, acc[1] + c, acc[2] + co)


def _combine(a, b):
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2])


class SOM(Estimator, SOMParams, DefaultParamsWritable, DefaultParamsReadable):
    """Spark ML Estimator for Kohonen's batch SOM (reference `SOM.scala:38`).

    Params-only state, so `DefaultParamsWritable/Readable` give full
    `Pipeline.save`/`Pipeline.load` compatibility (a warm-start
    `setInitialModel` is deliberately not serialized — persist the model
    itself instead)."""

    # Training matrices at or below this size are collected to the driver
    # once and iterated locally (same kernel, no per-iteration Spark job).
    # Class attribute so tests can force either path.
    _LOCAL_FIT_BYTES: int = 256 << 20

    @keyword_only
    def __init__(self, **kwargs) -> None:
        super().__init__()
        self._initial_model: SOMModel | None = None
        self._set(**kwargs)

    @keyword_only
    def setParams(self, **kwargs) -> "SOM":
        self._set(**kwargs)
        return self

    # fluent setters, mirroring SOM.scala:54-77
    def setFeaturesCol(self, v: str) -> "SOM":
        return self._set(featuresCol=v)

    def setPredictionCol(self, v: str) -> "SOM":
        return self._set(predictionCol=v)

    def setDistanceCol(self, v: str) -> "SOM":
        return self._set(distanceCol=v)

    def setHeight(self, v: int) -> "SOM":
        return self._set(height=v)

    def setWidth(self, v: int) -> "SOM":
        return self._set(width=v)

    def setTMax(self, v: float) -> "SOM":
        return self._set(tMax=v)

    def setTMin(self, v: float) -> "SOM":
        return self._set(tMin=v)

    def setMaxIter(self, v: int) -> "SOM":
        return self._set(maxIter=v)

    def setTol(self, v: float) -> "SOM":
        return self._set(tol=v)

    def setTopology(self, v: str) -> "SOM":
        return self._set(topology=v)

    def setNeighborhoodKernel(self, v: str) -> "SOM":
        return self._set(neighborhoodKernel=v)

    def setTemperatureDecay(self, v: str) -> "SOM":
        return self._set(temperatureDecay=v)

    def setSeed(self, v: int) -> "SOM":
        return self._set(seed=v)

    def setInitialModel(self, model: "SOMModel") -> "SOM":
        """Warm start (reference `SOM.scala:122-131`; its shape `require`s
        compared Ints to Param objects and never fired — here the check is
        real and runs against the grid params now and the data dim at fit)."""
        if model.prototypes.shape[0] != self.getHeight() * self.getWidth():
            raise ValueError(
                f"initial model has {model.prototypes.shape[0]} cells, "
                f"estimator grid is {self.getHeight()}x{self.getWidth()}"
            )
        self._initial_model = model
        return self

    # Inputs denser than this ratio of nonzeros — or narrower than the
    # min dimension — take the dense path; only sparse AND wide inputs
    # (e.g. HashingTF/CountVectorizer TF-IDF at d=2^14+) keep CSR blocks
    # end-to-end.  Below the dim floor the densified blocks are small
    # and one GEMM per iteration beats the CSR bincount kernels ~2x
    # (measured at d=256: dense 1.7 s vs sparse 3.7 s for the same fit);
    # above it, densification is what OOMs executors and CSR wins on
    # memory AND time.  Class attrs so tests can force either path.
    _SPARSE_DENSITY_THRESHOLD: float = 0.2
    _SPARSE_MIN_DIM: int = 2048
    _SPARSE_SAMPLE_ROWS: int = 256

    def _sparse_stats(self, dataset: DataFrame, col: str) -> tuple[int, float] | None:
        """(dim, density) estimated from a bounded sample of a VectorUDT
        column; None for array columns (always dense)."""
        if not _is_vector(dataset, col):
            return None
        rows = _sparse_rows_df(dataset, col).limit(self._SPARSE_SAMPLE_ROWS).collect()
        if not rows:
            return None
        (indptr, _, _, n, dim), _ = _csr_block(*zip(*rows))
        return dim, (int(indptr[-1]) / (n * dim) if dim else 1.0)

    def _init_codebook(self, feats: DataFrame, sparse_dim: int | None = None) -> np.ndarray:
        """Random init: height*width samples WITH replacement, seeded
        (reference `initRandom`, `SOM.scala:295-298`). RDD takeSample keeps
        the with-replacement + seeded semantics a DataFrame
        orderBy(rand).limit cannot express.

        Note: like the reference, the sample (and therefore the fitted
        model) depends on the input's partition layout as well as the
        seed — identical seed + identical partitioning => identical
        model; repartitioning changes the draw. Pin `setInitialModel`
        for layout-independent reproducibility.  The dense local fit
        draws the same rows on the driver (`_take_sample_rows`)."""
        n_cells = self.getHeight() * self.getWidth()
        seed = self.getOrDefault(self.seed)
        if sparse_dim is not None:
            sample = feats.rdd.takeSample(True, n_cells, seed=seed)
            if not sample:
                raise ValueError("cannot fit SOM on an empty dataset (no non-null feature rows)")
            # codebook is dense from the start (the weighted-mean update
            # densifies it after one iteration anyway)
            return np.stack([_row_dense(r, sparse_dim) for r in sample])
        sample = feats.rdd.map(lambda r: r[0]).takeSample(True, n_cells, seed=seed)
        if not sample:
            raise ValueError("cannot fit SOM on an empty dataset (no non-null feature rows)")
        return np.asarray(sample, dtype=np.float64)

    def _fit(self, dataset: DataFrame) -> "SOMModel":
        t0 = time.perf_counter()
        self._validate()
        spark = dataset.sparkSession
        sc = spark.sparkContext
        h, w = self.getHeight(), self.getWidth()
        n_cells = h * w
        max_iter = self.getOrDefault(self.maxIter)
        tol = self.getOrDefault(self.tol)
        kern = self.getNeighborhoodKernel()
        decay = self.getTemperatureDecay()
        t_max, t_min = self.getTMax(), self.getTMin()

        feat_col = self.getOrDefault(self.featuresCol)
        # Sparse route (reference parity: sparse-aware BLAS/distance at
        # BLAS.scala:73-92, MLUtils.scala:77-84): VectorUDT inputs whose
        # sampled density is below the threshold keep CSR blocks
        # end-to-end — a d=2^18 TF-IDF corpus never densifies, where the
        # dense path would OOM executors on the decoded blocks.
        stats = self._sparse_stats(dataset, feat_col)
        use_sparse = (
            stats is not None
            and stats[1] < self._SPARSE_DENSITY_THRESHOLD
            and stats[0] >= self._SPARSE_MIN_DIM
        )
        if use_sparse:
            sparse_dim, sparse_density = stats
            feats = _sparse_rows_df(dataset, feat_col)
        else:
            feats = _features_as_array(dataset, feat_col)
        # Persist the narrow feature projection unconditionally (the
        # reference's "iff caller didn't" guard, SOM.scala:82,88-90,
        # checked the input dataset — but fit makes several passes over
        # the *projection* (sizing aggregate, then the Arrow collect, or
        # the seeded takeSample and block build), and each pass re-decodes
        # rows unless feats itself is cached; the cache also pins the
        # partition layout the seeded draw depends on).
        feats.persist(StorageLevel.MEMORY_AND_DISK)

        # Sparse and distributed paths decode each partition to ONE NumPy
        # block (dense ndarray or CSR tuple): per-iteration work is then
        # pure GEMM / bincount over those cached blocks with no
        # Arrow/pickle decode in the loop (the "treeAggregate on NumPy
        # blocks" variant from SURVEY.md §3 — DataFrame mapInPandas paid
        # ~2x per-iteration overhead re-decoding the same rows).
        if use_sparse:
            def _to_block(rows, _d=sparse_dim):
                cols = list(zip(*rows))
                if cols:
                    yield _csr_block(*cols, dim=_d)[0]
        else:
            def _to_block(rows):
                buf = [r[0] for r in rows]
                if buf:
                    yield np.asarray(buf, dtype=np.float64)

        # Small-data fast path: when the full training matrix fits easily
        # on the driver, it crosses to the driver ONCE and every
        # iteration runs as pure local NumPy — the math is the identical
        # kernel call; what disappears is max_iter job launches, each a
        # fixed scheduling cost that dominates sub-second aggregations.
        # Above the threshold the distributed aggregate/treeAggregate
        # path below runs unchanged (the 100 TB path; per-iteration
        # driver traffic stays one (n_cells, dim) array either way).
        local_blocks: list | None = None
        blocks = None
        codebook = None
        if self._initial_model is not None:
            codebook = self._initial_model.prototypes.astype(np.float64).copy()
        try:
            # One JVM aggregate sizes a dense input: the row count and the
            # row width, so the path choice and the warm-start check need
            # no Python-worker job.
            if use_sparse:
                n_rows = feats.count()
                data_dim = sparse_dim
            else:
                n_rows, data_dim = feats.agg(
                    F.count(F.lit(1)), F.coalesce(F.max(F.size("__features")), F.lit(0))
                ).first()
            if codebook is not None and n_rows and data_dim != codebook.shape[1]:
                raise ValueError(
                    f"initial model dimension {codebook.shape[1]} does not match "
                    f"data dimension {data_dim}"
                )
            if codebook is None and n_rows == 0:
                raise ValueError("cannot fit SOM on an empty dataset (no non-null feature rows)")
            est_bytes = (
                int(n_rows * sparse_density * data_dim * 12)
                if use_sparse
                else n_rows * data_dim * 8
            )
            local = 0 < n_rows and est_bytes <= self._LOCAL_FIT_BYTES
            if local and not use_sparse:
                # dense: one Arrow pass to ONE matrix (single GEMM per
                # iteration), init rows drawn from it on the driver
                x, ranges = _collect_dense(feats)
                local_blocks = [x]
            t_ingest = time.perf_counter()
            if codebook is None:
                if local_blocks is not None:
                    seed = self.getOrDefault(self.seed)
                    codebook = x[_take_sample_rows(ranges, n_rows, n_cells, seed)]
                else:
                    codebook = self._init_codebook(feats, sparse_dim if use_sparse else None)
            t_init = time.perf_counter()
        except BaseException:
            feats.unpersist()
            raise
        dim = codebook.shape[1]
        if local and use_sparse:
            # sparse blocks stay a list — concatenation buys nothing for
            # the bincount kernels
            local_blocks = feats.rdd.mapPartitions(_to_block).collect() or None
        if local_blocks is None:
            # Right-size parallelism to the data: each training job pays a
            # fixed per-task scheduling cost, so datasets spread over many
            # small partitions are overhead-bound. Coalesce (no shuffle)
            # toward ~100k rows per block; large data keeps its layout.
            blocks = feats.rdd.mapPartitions(_to_block)
            n_parts = blocks.getNumPartitions()
            target = max(1, min(n_parts, n_rows // 100_000 + 1))
            if target < n_parts:
                blocks = blocks.coalesce(target)
            blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
        t_blocks = time.perf_counter()

        grid_d = K.grid_distances(h, w, self.getTopology())
        history: list[float] = []
        movement: list[float] = []
        it = 0
        converged = False
        # Small codebooks ride the task closure (cheaper than creating and
        # destroying a broadcast every iteration); big ones broadcast once
        # per iteration so executors fetch them a single time.
        use_broadcast = codebook.nbytes >= 1 << 20

        # Partial aggregation per block (reference mapPartitions,
        # SOM.scala:192-209) + combine (the bounded reduceByKey analog,
        # SOM.scala:209-212).  Single-stage aggregate while the driver
        # fan-in is small; tree combine (depth 2, O(sqrt(P)) fan-in) once
        # the partition count would swamp the driver — the extra stage
        # costs a full job-launch latency, so it must not be paid on
        # small clusters.
        if blocks is None:
            fold = None
        elif blocks.getNumPartitions() <= 256:
            fold = blocks.aggregate
        else:
            fold = partial(blocks.treeAggregate, depth=2)
        # the fold step and the combine return new arrays, never mutate
        # their inputs, so one zero serves every iteration
        zero = (np.zeros((n_cells, dim), dtype=np.float64), np.zeros(n_cells, dtype=np.int64), 0.0)

        n_samples_trained = -1
        # fold_s: the block fold (BMU + scatter, local or one Spark job);
        # update_s: neighborhood, smooth update and movement
        fold_s = update_s = 0.0
        t_iters = t_blocks
        while it < max_iter and not converged:
            temp = K.temperature(it, max_iter, t_max, t_min, decay)
            bc = sc.broadcast(codebook) if fold is not None and use_broadcast else None
            step = partial(_fold_step, bc=bc, codebook=None if bc is not None else codebook)
            if fold is None:
                sums, counts, cost = reduce(step, local_blocks, zero)
            else:
                sums, counts, cost = fold(zero, step, _combine)
            if bc is not None:
                bc.destroy()
            t_fold = time.perf_counter()
            fold_s += t_fold - t_iters

            weights = K.neighborhood(grid_d, temp, kern)
            new_codebook = K.smooth_update(codebook, sums, counts, weights)
            movement.append(K.max_movement2(codebook, new_codebook))
            converged = movement[-1] <= tol * tol
            codebook = new_codebook
            history.append(cost)
            # conservation anchor: every BMU assignment lands in exactly
            # one cell, so the per-cell count total IS the row count the
            # distributed aggregation consumed this iteration
            n_samples_trained = int(counts.sum())
            it += 1
            t_iters = time.perf_counter()
            update_s += t_iters - t_fold

        model = SOMModel(prototypes=codebook)
        model._resetUid(self.uid)
        self._copyValues(model)
        # inference stays sparse when training was sparse (the transform
        # UDF then receives nnz-sized Arrow batches, never dense rows)
        model._sparse_inference = use_sparse
        predictions = model.transform(dataset)
        model.summary = SOMTrainingSummary(
            predictions=predictions,
            prediction_col=self.getOrDefault(self.predictionCol),
            features_col=self.getOrDefault(self.featuresCol),
            height=h,
            width=w,
            t_max=t_max,
            t_min=t_min,
            max_iter=max_iter,
            tol=tol,
            topology=self.getTopology(),
            neighborhood_kernel=kern,
            temperature_decay=decay,
            training_cost=history[-1] if history else float("nan"),
            objective_history=history,
            movement_history=movement,
            n_samples=n_samples_trained,
            # wall seconds per fit phase; a sparse or distributed fit's
            # block build after the init counts as ingest
            timings={
                "ingest_s": (t_ingest - t0) + (t_blocks - t_init),
                "init_s": t_init - t_ingest,
                "iterations_s": t_iters - t_blocks,
                "fold_s": fold_s,
                "update_s": update_s,
            },
        )
        if blocks is not None:
            blocks.unpersist()
        feats.unpersist()
        model.summary.timings["summary_s"] = time.perf_counter() - t_iters
        return model


class _SOMModelWriter(MLWriter):
    """ML-format writer: params via DefaultParamsWriter metadata + the
    codebook as a parquet table — so `PipelineModel.save` containing a
    SOM stage works out of the box.  The metadata also carries
    ``sparseInference``, so a sparse-trained model scores sparse after a
    reload."""

    def __init__(self, instance: "SOMModel") -> None:
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        DefaultParamsWriter.saveMetadata(
            self.instance,
            path,
            self.sc,
            extraMetadata={"sparseInference": self.instance._sparse_inference},
        )
        self.instance.prototypes_df(self.sparkSession).write.mode("overwrite").parquet(
            os.path.join(path, "prototypes")
        )


class _SOMModelReader(MLReader):
    def __init__(self, cls) -> None:
        super().__init__()
        self._clazz = cls

    def load(self, path: str) -> "SOMModel":
        metadata = DefaultParamsReader.loadMetadata(path, self.sc)
        rows = (
            read_parquet(self.sparkSession, os.path.join(path, "prototypes"))
            .orderBy("cell")
            .collect()
        )
        prototypes = np.asarray([r["vector"] for r in rows], dtype=np.float64)
        model = self._clazz(prototypes=prototypes)
        model._resetUid(metadata["uid"])
        DefaultParamsReader.getAndSetParams(model, metadata)
        # absent from saves that predate the key: those scored dense
        model._sparse_inference = bool(metadata.get("sparseInference", False))
        return model


class SOMModel(Model, SOMParams, MLWritable):
    """Fitted SOM (reference `SOMModel.scala:27-98`) + save/load, which the
    reference lacks (`README.md:91`).  Implements MLWritable/MLReadable so
    both the model alone and a `PipelineModel` containing it persist via
    the standard `save`/`load` surface."""

    def __init__(self, prototypes: np.ndarray | None = None) -> None:
        super().__init__()
        self.prototypes = (
            np.asarray(prototypes, dtype=np.float64) if prototypes is not None else None
        )
        self.summary: SOMTrainingSummary | None = None
        # set by SOM._fit when training ran on CSR blocks (and kept by
        # save/load); keeps inference nnz-sized for VectorUDT inputs
        self._sparse_inference: bool = False

    def setFeaturesCol(self, v: str) -> "SOMModel":
        return self._set(featuresCol=v)

    def setPredictionCol(self, v: str) -> "SOMModel":
        return self._set(predictionCol=v)

    def setDistanceCol(self, v: str) -> "SOMModel":
        return self._set(distanceCol=v)

    def has_summary(self) -> bool:
        return self.summary is not None

    def _bmu(self, dataset: DataFrame) -> Column:
        """Each row's BMU as a (prediction, distance) struct column — the
        one scoring path behind `transform` and `compute_cost`, like the
        reference's single `findClosest` (`SOMModel.scala:79-97`).  The
        codebook rides an explicit broadcast (the reference shipped it
        in the UDF closure per task).  A sparse-trained model scores a
        VectorUDT column from its unwrap_udt struct, so Arrow moves nnz
        entries and the kernel is the CSR bincount path — a d=2^18
        TF-IDF batch never densifies.  Null features yield a null
        struct field pair (fit drops nulls; scoring must not crash and
        must keep the row)."""
        bc = dataset.sparkSession.sparkContext.broadcast(self.prototypes)
        col = self.getOrDefault(self.featuresCol)
        if self._sparse_inference and _is_vector(dataset, col):
            dim = int(self.prototypes.shape[1])
            feats, find = F.unwrap_udt(F.col(col)), K.find_bmu_sparse

            def decode(u):
                return _csr_block(u["type"], u["size"], u["indices"], u["values"], dim)

        else:
            feats, find = _features_expr(dataset, col), K.find_bmu

            def decode(arrs):
                valid = arrs.notna().to_numpy()
                x = _batch_matrix(arrs[valid]) if valid.any() else None
                return x, np.flatnonzero(valid)

        # typing.Union: pandas_udf reads the hint and recognizes Union,
        # not the `X | Y` form
        @F.pandas_udf("prediction int, distance double")
        def predict_udf(batch: Union[pd.Series, pd.DataFrame]) -> pd.DataFrame:
            cb = np.ascontiguousarray(bc.value)
            block, rows = decode(batch)
            pred = np.zeros(len(batch), dtype=np.int32)
            dist = np.zeros(len(batch), dtype=np.float64)
            missing = np.ones(len(batch), dtype=bool)
            if rows.size:
                pred[rows], dist[rows] = find(block, cb, np.einsum("ij,ij->i", cb, cb))
                missing[rows] = False
            return pd.DataFrame(
                {
                    "prediction": pd.arrays.IntegerArray(pred, missing),
                    "distance": pd.arrays.FloatingArray(dist, missing),
                }
            )

        return predict_udf(feats)

    def _transform(self, dataset: DataFrame) -> DataFrame:
        """Append the BMU index column (reference `SOMModel.scala:76-81`)
        and the optional distanceCol (an extension: the squared distance
        to the BMU from the same kernel pass)."""
        pred_col = self.getOrDefault(self.predictionCol)
        dist_col = self.getDistanceCol()
        if not pred_col and not dist_col:
            # empty names disable output (SchemaUtils.scala:90)
            return dataset
        out = dataset.withColumn("__bmu", self._bmu(dataset))
        if pred_col:
            out = out.withColumn(pred_col, F.col("__bmu.prediction"))
        if dist_col:
            out = out.withColumn(dist_col, F.col("__bmu.distance"))
        return out.drop("__bmu")

    def predict(self, features) -> int:
        """Single-vector convenience (reference `SOMModel.scala:88-90`)."""
        x = np.asarray(features, dtype=np.float64)[None, :]
        idx, _ = K.find_bmu(x, self.prototypes)
        return int(idx[0])

    def compute_cost(self, dataset: DataFrame) -> float:
        """Sum of squared distances to BMU (reference `SOMModel.scala:92-97`):
        the sum of `transform`'s distances, from the same UDF; null
        features add nothing.  Map + global sum: no shuffle."""
        cost = F.coalesce(F.sum(self._bmu(dataset)["distance"]), F.lit(0.0))
        return float(dataset.select(cost).first()[0])

    computeCost = compute_cost  # reference-style alias

    def prototypes_df(self, spark: SparkSession) -> DataFrame:
        """Codebook as a DataFrame (cell, row, col, vector) — joins against
        per-cell aggregates; always broadcastable (height*width rows)."""
        w = self.getWidth()
        rows = [
            (int(i), int(i // w), int(i % w), [float(v) for v in vec])
            for i, vec in enumerate(self.prototypes)
        ]
        return local_frame(spark, rows, "cell int, row int, col int, vector array<double>")

    # --- persistence (closes the reference's stated gap, README.md:91) ---
    def write(self) -> MLWriter:
        return _SOMModelWriter(self)

    @classmethod
    def read(cls) -> _SOMModelReader:
        return _SOMModelReader(cls)

    def save(self, path: str) -> None:
        """Overwriting save; the writer carries its own SparkSession, so
        this works from any thread (no getActiveSession dependency)."""
        self.write().overwrite().save(path)

    @classmethod
    def load(cls, *args) -> "SOMModel":
        """`load(path)` (MLReadable surface) or the legacy
        `load(spark, path)` — the session argument is accepted and
        ignored (the reader resolves its own)."""
        if not args or len(args) > 2:
            raise TypeError("load expects (path) or (spark, path)")
        return cls.read().load(args[-1])
