"""Training summary record (reference: `SOMTrainingSummary.scala:5-18`)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class SOMTrainingSummary:
    predictions: DataFrame
    prediction_col: str
    features_col: str
    height: int
    width: int
    t_max: float
    t_min: float
    max_iter: int
    tol: float
    topology: str
    neighborhood_kernel: str
    temperature_decay: str
    training_cost: float
    objective_history: list[float] = field(default_factory=list)
    # max squared prototype displacement of each iteration (the value the
    # `tol` stop compares with tol^2), one per objective_history entry
    movement_history: list[float] = field(default_factory=list)
    # rows the final training aggregation actually consumed (sum of
    # per-cell BMU counts) — a data-derived conservation anchor for
    # oracle checks; -1 when no iteration ran (maxIter=0)
    n_samples: int = -1
    # wall seconds of each fit phase: ingest_s (projection, sizing and
    # decode), init_s (codebook draw), iterations_s, summary_s (model,
    # lazy predictions, cache release); iterations_s splits into fold_s
    # (the block fold: BMU + scatter, local or one Spark job per
    # iteration) and update_s (neighborhood, smooth update, movement)
    timings: dict[str, float] = field(default_factory=dict)

    @property
    def iterations(self) -> int:
        return len(self.objective_history)
