"""The benchmark's workloads: what each op calls and how its output is
checked.

An op returns its phase times (``build`` and ``collect``, plus finer
phases for the SOM op) and an output that ``check`` compares against an
expectation computed before any timing starts.  A wrong answer is a
failure, never a fast op.
"""

from __future__ import annotations

import math
import struct
from collections import Counter
from decimal import Decimal

import numpy as np

# Registry entries of the `llm_stream` workload: a read-side LLM-data
# operator, then the write side (streaming state, Python DataSource
# writer).  README.md beside this file says why these three and which
# entries were left out.
LLM_STREAM = [
    "semdedup_som_cells",
    "stream_dedup_exact",
    "source_python_datasource_writer",
]
WORKLOADS = {"som_fit": [], "llm_stream": LLM_STREAM}


SOM_POINTS = 10_000
SOM_DIM = 3
SOM_PARAMS = {"height": 10, "width": 10, "maxIter": 100, "seed": 0}


# --- registry ops --------------------------------------------------------
# Strict value canon of the repository's oracle gate: floats compared at
# bit level, NaN folded to one token, Decimals as the nearest double.


def norm_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack("<d", v)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("T", " ")
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def row_multiset(rows, colnames: list[str]) -> Counter:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(norm_value(r[i]) for i in order) for r in rows)


class RegistryOp:
    """One registry entry: ``fn(spark, sf_dir)`` then ``.collect()``,
    checked against the entry's DuckDB ``oracle_sql()`` twin."""

    def __init__(self, spec, sf_dir: str) -> None:
        self.name = spec.name
        self.spec = spec
        self.sf_dir = sf_dir
        self.expected: tuple[list[str], Counter] | None = None

    def expect(self, con) -> None:
        res = con.execute(self.spec.sql)
        cols = [d[0].lower() for d in res.description]
        self.expected = (sorted(cols), row_multiset(res.fetchall(), cols))

    def run(self, spark, tracer, op_id: int):
        with tracer.span(self.name, op=op_id) as op:
            with tracer.span("build") as b:
                df = self.spec.fn(spark, self.sf_dir)
            with tracer.span("collect") as c:
                cols = [x.lower() for x in df.columns]
                rows = df.collect()
        return op, {"build": b["dur"], "collect": c["dur"]}, (cols, rows)

    def check(self, output) -> str | None:
        cols, rows = output
        want_cols, want = self.expected
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != {want_cols}"
        if len(rows) != sum(want.values()):
            return f"{len(rows)} rows, oracle has {sum(want.values())}"
        got = row_multiset(rows, cols)
        if got != want:
            return f"values differ: spark-only {list((got - want).items())[:2]}"
        return None

    @staticmethod
    def rows_out(output) -> int:
        return len(output[1])


# --- SOM op --------------------------------------------------------------


def som_points(seed: int) -> np.ndarray:
    return np.random.default_rng(seed).random((SOM_POINTS, SOM_DIM))


def brute_d2(x: np.ndarray, protos: np.ndarray) -> np.ndarray:
    """(n, k) squared distances by explicit differences (no GEMM identity)."""
    diff = x[:, None, :] - protos[None, :, :]
    return np.einsum("nkd,nkd->nk", diff, diff)


class SomFitOp:
    """The reference ``Main``: fit a 10x10 Gaussian/exponential map for
    100 iterations, then ``transform().collect()`` and ``computeCost``.
    Checked against a brute-force NumPy BMU search."""

    name = "som_fit"

    def __init__(self, points: np.ndarray) -> None:
        self.points = points
        self.df = None
        self.prototypes: np.ndarray | None = None

    def prepare(self, spark) -> None:
        import pandas as pd

        pdf = pd.DataFrame({"features": list(self.points)})
        self.df = (
            spark.createDataFrame(pdf, "features array<double>").repartition(4).cache()
        )
        self.df.count()

    def fit(self, spark, max_iter: int):
        from sparkml_som_spark.som import SOM

        return SOM(**{**SOM_PARAMS, "maxIter": max_iter}).fit(self.df)

    def run(self, spark, tracer, op_id: int):
        with tracer.span(self.name, op=op_id) as op:
            with tracer.span("fit") as f:
                model = self.fit(spark, SOM_PARAMS["maxIter"])
            with tracer.span("transform") as t:
                rows = model.transform(self.df).select("features", "prediction").collect()
            with tracer.span("cost") as c:
                cost = model.computeCost(self.df)
        phases = {
            "build": f["dur"],
            "collect": t["dur"] + c["dur"],
            "transform": t["dur"],
            "cost": c["dur"],
        }
        return op, phases, (model, rows, cost)

    def check(self, output) -> str | None:
        model, rows, cost = output
        if model.summary.n_samples != SOM_POINTS:
            return f"summary.n_samples {model.summary.n_samples} != {SOM_POINTS}"
        if len(rows) != SOM_POINTS:
            return f"transform returned {len(rows)} rows"
        protos = model.prototypes
        if self.prototypes is None:
            self.prototypes = protos.copy()
        elif not np.array_equal(protos, self.prototypes):
            return "prototypes differ from the run's first fit"
        x = np.asarray([r[0] for r in rows], dtype=np.float64)
        pred = np.asarray([r[1] for r in rows])
        d2 = brute_d2(x, protos)
        best = d2.min(axis=1)
        # ties allowed: the chosen cell only has to be as close as the best
        chosen = d2[np.arange(len(pred)), pred]
        if not np.all(chosen <= best + 1e-9):
            return f"{int(np.sum(chosen > best + 1e-9))} BMUs are not the nearest cell"
        want = float(brute_d2(self.points, protos).min(axis=1).sum())
        if not math.isclose(cost, want, rel_tol=1e-9):
            return f"computeCost {cost} != brute-force {want}"
        return None

    @staticmethod
    def rows_out(output) -> int:
        return 0
