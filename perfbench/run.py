"""Benchmark of the sparkml_som_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload som_fit --seed 1 --seconds 8 --trace 0

One process, one closed-loop client on ``local[4]``: each op starts after
the previous op's last row is collected.  The untraced run (``--trace
0``) prints the end-to-end metrics; the traced run (``--trace 1``)
repeats the untraced measurement, restarts the session with the Spark
event log on, measures again with spans recorded, and prints the
per-layer metrics and the tracing overhead.  The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402
from spans import SPARK_METRICS, STREAMING_METRICS, Tracer, attribute, read_events  # noqa: E402

CORES = 4
WATCHED_CONF = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
KERNEL_REPS = 30
# an untimed-phase median needs at least three passes; the traced phase
# only feeds per-op medians and runs one
MIN_PASSES = 3
PROBE_METRICS = (
    "som.kernel.find_bmu_ms",
    "som.kernel.aggregate_block_ms",
    "som.kernel.update_ms",
    "som.kernel.bytes_per_iter",
    "som.estimator.fit_fixed_s",
    "som.estimator.iterations",
    "som.estimator.iter_ms",
    "som.estimator.fit_residue_s",
)
# passes the current dense kernel makes over its n x k float64 distance
# matrix per iteration: x_norms + c_norms (write), X @ C.T (write),
# 2.0 * G (read, write), subtract (2 reads, write), clamp in place (read,
# write), argmin (read) = 10
DIST_MATRIX_PASSES = 10


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(root: str, state: str) -> None:
    """Pin the session shape and keep every file Spark or its Python
    workers write inside the checkout.  Must run before pyspark starts
    its JVM."""
    tmp = os.path.join(state, "tmp")
    for d in (tmp, os.path.join(state, "local")):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    env["SPARK_GRAFT_SHUFFLE"] = str(CORES)
    env.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    # Python workers import the engine from here, whatever the cwd
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    tempfile.tempdir = None
    env["SPARK_LOCAL_DIRS"] = os.path.join(state, "local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(state, "warehouse")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # spark-submit's own launcher JVM too, which would write hsperfdata files
    # to the system temp dir
    env["SPARK_LAUNCHER_OPTS"] = java_opts
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _times_one(v):
    # no annotations: `from __future__ import annotations` would turn the
    # pandas_udf type hints into strings Spark cannot read
    return v * 1.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One benchmark run: the session, the ops and what was measured."""

    def __init__(self, args, root: str, state: str, sf_dir: str) -> None:
        import numpy as np

        self.args = args
        self.root = root
        self.state = state
        self.sf_dir = sf_dir
        self.scratch = os.path.join(root, ".scratch", os.path.basename(sf_dir))
        self.rng = np.random.default_rng([args.seed, 1])
        self.tracer = Tracer()
        self.attempted = 0
        self.failed: list[str] = []
        self.spark = None
        self.ops: list = []

    # --- ops and their expectations --------------------------------------
    def load_ops(self) -> None:
        """Import the engine's code for the workload (part of set-up)."""
        if self.args.workload == "som_fit":
            self.ops = [W.SomFitOp(W.som_points(self.args.seed))]
            return
        from sparkml_som_spark.operators.registry import load_all

        reg = load_all()
        self.ops = [W.RegistryOp(reg[n], self.sf_dir) for n in W.WORKLOADS[self.args.workload]]

    def expect(self) -> None:
        """Run the registry ops' DuckDB twins (outside every timed region)."""
        registry_ops = [op for op in self.ops if isinstance(op, W.RegistryOp)]
        if not registry_ops:
            return
        import duckdb

        from sparkml_som_spark.sources import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for op in registry_ops:
                op.expect(con)
        finally:
            con.close()

    # --- session ---------------------------------------------------------
    def start_session(self) -> dict:
        """Session start, warm scan of every table, workload inputs."""
        from sparkml_som_spark.session import get_spark
        from sparkml_som_spark.sources import TABLE_NAMES, load_table

        with self.tracer.span("session.get_spark") as s:
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("sources.warm_scan") as w:
            for t in TABLE_NAMES:
                load_table(self.spark, self.sf_dir, t).count()
        with self.tracer.span("inputs") as i:
            for op in self.ops:
                if hasattr(op, "prepare"):
                    op.prepare(self.spark)
        return {"session.start_s": s["dur"], "sources.warm_scan_s": w["dur"], "setup.inputs_s": i["dur"]}

    def restart_traced(self, elog_dir: str) -> None:
        """Stop the context and start a new one with the event log on."""
        self.spark.stop()
        shutil.rmtree(elog_dir, ignore_errors=True)
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = elog_dir
        self.start_session()

    def _hygiene(self):
        sc = self.spark.sparkContext
        return sc._jsc.getPersistentRDDs().size(), [self.spark.conf.get(k) for k in WATCHED_CONF]

    def _scratch_bytes_since(self, t0: float) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.scratch):
            for name in files:
                try:
                    st = os.stat(os.path.join(root, name))
                except FileNotFoundError:
                    continue
                if st.st_mtime >= t0:
                    total += st.st_size
        return total

    # --- ops ------------------------------------------------------------
    def call(self, op, op_id: int) -> dict:
        """Run one op; every failure is caught here, named and counted."""
        rdds0, conf0 = self._hygiene()
        self.attempted += 1
        rec = {"name": op.name, "op": op_id}
        t0 = time.time()
        try:
            span, phases, output = op.run(self.spark, self.tracer, op_id)
        except Exception as e:  # boundary: the run must go on and report it
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
            return rec
        rdds1, conf1 = self._hygiene()
        rec.update(
            phases=phases,
            start=span["start"],
            end=span["end"],
            output=output,
            leaked_rdds=rdds1 - rdds0,
            conf_changed=sum(a != b for a, b in zip(conf0, conf1)),
            scratch_bytes=self._scratch_bytes_since(t0) if self.tracer.enabled else 0,
        )
        return rec

    def check(self, op, rec: dict) -> bool:
        if "error" not in rec:
            try:
                err = op.check(rec["output"])
            except Exception as e:  # a checker crash is a failed op too
                err = f"check raised {type(e).__name__}: {e}"
            if err:
                rec["error"] = err
            else:
                rec["rows_out"] = op.rows_out(rec["output"])
        rec.pop("output", None)
        if "error" in rec:
            self.failed.append(op.name)
            print(f"FAILED {op.name}: {rec['error']}", flush=True)
            return False
        return True

    def warm_pass(self) -> list[tuple]:
        """One untimed call of every op; returns (op, record) pairs for
        ``check``."""
        return [(op, self.call(op, -1 - i)) for i, op in enumerate(self.ops)]

    def timed_passes(self, seconds: float, min_passes: int) -> list[dict]:
        """Passes over the op list in seeded orders until ``seconds``
        have gone by and ``min_passes`` are done.  Outputs are checked
        after each pass, outside its wall time."""
        passes = []
        deadline = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < deadline:
            order = self.rng.permutation(len(self.ops))
            p0 = time.perf_counter()
            recs = [self.call(self.ops[i], len(passes) * 1000 + int(i)) for i in order]
            wall = time.perf_counter() - p0
            ok = all([self.check(self.ops[i], r) for i, r in zip(order, recs)])
            passes.append({"wall": wall, "ok": ok, "recs": recs})
        return passes

    # --- host canary -----------------------------------------------------
    def canary(self) -> dict:
        """Two fixed micro-workloads, sized for 4 cores: a
        codegen fold in the JVM and an Arrow pandas_udf round trip."""
        from pyspark.sql import functions as F

        ident = F.pandas_udf(_times_one, "double")

        def jvm():
            self.spark.range(20_000_000).selectExpr("sum(id * 2651 % 97)").collect()

        def udf():
            self.spark.range(200_000).repartition(CORES).select(
                ident(F.col("id").cast("double")).alias("v")
            ).selectExpr("sum(v)").collect()

        def timed(fn):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

        return {"jvm": timed(jvm), "udf": timed(udf)}

    def shutdown(self) -> None:
        """Stop the context and wait for the JVM (and with it the Python
        workers it started) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(int(jvm_pid))

    # --- SOM layer probes (traced run of som_fit only) --------------------
    def som_layer_probes(self, fit_med: float) -> dict:
        """Fixed fit cost (maxIter=1) and direct calls into som.kernel on
        the workload's matrix and a fitted codebook."""
        from sparkml_som_spark.som import kernel as K

        op = self.ops[0]
        fixed = []
        for _ in range(3):
            with self.tracer.span("som.estimator.fit_fixed", op=-100) as s:
                model = op.fit(self.spark, 1)
            fixed.append(s["dur"])
        model = op.fit(self.spark, W.SOM_PARAMS["maxIter"])
        iters = model.summary.iterations
        x = op.points
        cb = model.prototypes
        n_cells = cb.shape[0]
        cn2 = (cb * cb).sum(axis=1)
        grid = K.grid_distances(W.SOM_PARAMS["height"], W.SOM_PARAMS["width"], model.getTopology())

        def timed_ms(name, fn):
            ts = []
            for _ in range(KERNEL_REPS):
                with self.tracer.span(name, op=-101) as s:
                    fn()
                ts.append(s["dur"] * 1e3)
            return median(ts)

        sums, counts, _ = K.aggregate_block(x, cb, n_cells, cn2)
        temp = K.temperature(iters // 2, iters, model.getTMax(), model.getTMin(), model.getTemperatureDecay())
        kern = model.getNeighborhoodKernel()
        agg_ms = timed_ms("som.kernel.aggregate_block", lambda: K.aggregate_block(x, cb, n_cells, cn2))
        fixed_s = median(fixed)
        return {
            "som.kernel.find_bmu_ms": timed_ms("som.kernel.find_bmu", lambda: K.find_bmu(x, cb, cn2)),
            "som.kernel.aggregate_block_ms": agg_ms,
            "som.kernel.update_ms": timed_ms(
                "som.kernel.update",
                lambda: K.smooth_update(cb, sums, counts, K.neighborhood(grid, temp, kern)),
            ),
            "som.kernel.bytes_per_iter": float(len(x) * n_cells * 8 * DIST_MATRIX_PASSES),
            "som.estimator.fit_fixed_s": fixed_s,
            "som.estimator.iterations": float(iters),
            "som.estimator.iter_ms": (fit_med - fixed_s) / max(1, iters - 1) * 1e3,
            "som.estimator.fit_residue_s": fit_med - fixed_s - iters * agg_ms / 1e3,
        }


# --- reporting ----------------------------------------------------------


def e2e_metrics(passes: list[dict], setup_s: float) -> dict:
    good = [p for p in passes if p["ok"]]
    walls = [p["wall"] for p in good]
    builds = [sum(r["phases"]["build"] for r in p["recs"]) for p in good]
    collects = [sum(r["phases"]["collect"] for r in p["recs"]) for p in good]
    return {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (median(walls), "s", len(walls)),
        "build_p50_s": (median(builds), "s", len(builds)),
        "collect_p50_s": (median(collects), "s", len(collects)),
    }


def per_op_medians(passes: list[dict], engine: dict[int, dict]) -> dict[str, dict]:
    """Median over good passes of each op's phase, hygiene and engine numbers."""
    by_name: dict[str, list[dict]] = {}
    for p in passes:
        if not p["ok"]:
            continue
        for r in p["recs"]:
            row = {f"phase.{k}": v for k, v in r["phases"].items()}
            row.update({k: r[k] for k in ("leaked_rdds", "conf_changed", "scratch_bytes", "rows_out")})
            row.update(engine.get(r["op"], {}))
            by_name.setdefault(r["name"], []).append(row)
    return {
        name: {k: median([row[k] for row in rows]) for k in rows[0]} for name, rows in by_name.items()
    }


def layer_metrics(ops_med: dict[str, dict], setup: dict, probes: dict, traced_walls, untraced_wall) -> dict:
    m = dict(setup)
    for k in PROBE_METRICS:
        m[k] = probes.get(k, 0.0)
    for entry in W.LLM_STREAM:
        row = ops_med.get(entry, {})
        m[f"operators.{entry}.build_s"] = row.get("phase.build", 0.0)
        m[f"operators.{entry}.collect_s"] = row.get("phase.collect", 0.0)
        m[f"operators.{entry}.jobs"] = row.get("jobs", 0)
    registry_rows = [row for name, row in ops_med.items() if name in W.LLM_STREAM]
    for k in ("rows_out", "leaked_rdds", "conf_changed"):
        m[f"operators.{k}"] = sum(row[k] for row in registry_rows)
    for k in STREAMING_METRICS:
        m[f"streaming.{k}"] = sum(row.get(k, 0) for row in ops_med.values())
    m["streaming.scratch_bytes"] = sum(row["scratch_bytes"] for row in ops_med.values())
    for k in SPARK_METRICS:
        m[f"spark.{k}"] = sum(row.get(k, 0) for row in ops_med.values())
    som = ops_med.get("som_fit", {})
    m["som.estimator.transform_s"] = som.get("phase.transform", 0.0)
    m["som.estimator.cost_s"] = som.get("phase.cost", 0.0)
    m["trace.wall_s"] = median(traced_walls)
    m["trace.overhead_s"] = median(traced_walls) - untraced_wall
    return m


def layer_unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix in ("_s", "_ms", "_mb"):
        if name.endswith(suffix):
            return {"_mb": "MB"}.get(suffix, suffix[1:])
    return "count"


def print_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


def run_untraced(bench: Bench, args) -> tuple[dict, dict, list[dict]]:
    """Set-up, canaries and timed passes; prints the end-to-end lines."""
    t_setup = time.perf_counter()
    bench.load_ops()
    setup = bench.start_session()
    t_warm = time.perf_counter()
    warm = bench.warm_pass()
    setup_s = time.perf_counter() - t_setup
    setup["setup.warm_pass_s"] = time.perf_counter() - t_warm
    bench.expect()
    for op, rec in warm:
        bench.check(op, rec)

    canary_before = bench.canary()
    passes = bench.timed_passes(args.seconds, MIN_PASSES)
    canary_after = bench.canary()
    e2e = e2e_metrics(passes, setup_s)
    setup["driver.peak_rss_mb"] = bench.peak_rss_mb()

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} ops={len(bench.ops)}")
    for k in ("jvm", "udf"):
        print(f"host.{k}_canary_s before={canary_before[k]:.4f} after={canary_after[k]:.4f}")
    print("setup: " + " ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    for name, (v, unit, n) in e2e.items():
        print(f"{name} = {v:.4f} {unit} (n={n})")
    if args.workload == "som_fit":
        print("  (som_fit: build_p50_s is fit_p50_s, collect_p50_s is score_p50_s)")
    print(f"driver.peak_rss_mb = {setup['driver.peak_rss_mb']:.1f} MB (not gated)")
    print(f"failed_ratio = {len(bench.failed) / bench.attempted:.4f} ({len(bench.failed)}/{bench.attempted})")
    for name, row in sorted(per_op_medians(passes, {}).items()):
        print(f"op {name}: build={row['phase.build']:.4f} collect={row['phase.collect']:.4f}")
    print("pass walls: " + " ".join(f"{p['wall']:.3f}" for p in passes))
    return e2e, setup, passes


def run_traced(bench: Bench, args, setup: dict, untraced_wall: float) -> dict:
    """The same passes in a fresh context with the event log on and
    spans recorded; prints per-op lines and returns the layer metrics."""
    elog_dir = os.path.join(bench.state, "eventlog", f"{args.workload}-{args.seed}")
    bench.restart_traced(elog_dir)
    for op, rec in bench.warm_pass():
        bench.check(op, rec)
    bench.tracer.enabled = True
    traced = bench.timed_passes(args.seconds, 1)
    fits = [r["phases"]["build"] for p in traced if p["ok"] for r in p["recs"] if r["name"] == "som_fit"]
    probes = bench.som_layer_probes(median(fits)) if args.workload == "som_fit" else {}
    bench.spark.stop()  # closes the event log
    windows = {
        s["op"]: (s["start"], s["end"]) for s in bench.tracer.spans if s["parent"] is None and s["op"] >= 0
    }
    ops_med = per_op_medians(traced, attribute(read_events(elog_dir), windows))
    layers = layer_metrics(ops_med, setup, probes, [p["wall"] for p in traced if p["ok"]], untraced_wall)
    trace_path = os.path.join(bench.state, "traces", f"{args.workload}-{args.seed}.json")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    bench.tracer.write(trace_path)

    print(f"spans: {len(bench.tracer.spans)} written to {os.path.relpath(trace_path, bench.root)}")
    for name, row in sorted(ops_med.items()):
        print(f"op {name}: " + " ".join(f"{k}={v:.4g}" for k, v in row.items()))
    print(
        f"tracing overhead: traced wall_s {layers['trace.wall_s']:.4f} - untraced {untraced_wall:.4f}"
        f" = {layers['trace.overhead_s']:.4f} s"
    )
    if probes:
        print(
            f"fit accounting: fit_p50_s {median(fits):.4f} = fit_fixed_s {probes['som.estimator.fit_fixed_s']:.4f}"
            f" + {probes['som.estimator.iterations']:.0f} x aggregate_block_ms {probes['som.kernel.aggregate_block_ms']:.3f}"
            f" + residue {probes['som.estimator.fit_residue_s']:.4f} s (bytes_per_iter is computed, not measured)"
        )
    return layers


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkml_som_spark", "__init__.py")):
        print("perfbench: sparkml_som_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    configure_env(root, state)
    sys.path.insert(0, root)

    sf_dir = datagen.ensure_tables(os.path.join(state, "data"))
    # every run starts from the same (empty) program scratch state
    shutil.rmtree(os.path.join(root, ".scratch", os.path.basename(sf_dir)), ignore_errors=True)
    bench = Bench(args, root, state, sf_dir)
    try:
        e2e, setup, _passes = run_untraced(bench, args)
        if args.trace:
            layers = run_traced(bench, args, setup, e2e["wall_s"][0])
            metrics = {k: (v, layer_unit(k)) for k, v in layers.items()}
        else:
            metrics = {k: (v, u) for k, (v, u, _n) in e2e.items()}
    finally:
        bench.shutdown()
    print_result(not bench.failed, bench.attempted, len(bench.failed), metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
