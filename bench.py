"""Benchmark harness: runs every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Also runs the reference `Main` parity workload (10k x 3-d vectors,
10x10 map — `SOM.scala:397-431`).  After the timed series, one labeled
pass runs every entry once with the Spark event log on and writes each
entry's layer row (jobs, driver gap, Python time, shuffle, ...) to
BENCH_DETAIL.json, attributed by `perfbench/spans.py`.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO_DIR = os.path.dirname(os.path.abspath(__file__))
# the labeled pass's event log (git-ignored; rewritten every run)
EVENTLOG_DIR = os.path.join(REPO_DIR, ".bench", "eventlog")
# stdout name lists are capped so the line stays inside its budget
NAMES_ON_STDOUT = 6


def _warm_udf():
    # built lazily so pyspark/pandas import cost stays inside main();
    # annotation-free pandas_udf (future-annotations stringifies hints,
    # and a function-local `pd` would break type-hint resolution)
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    def _identity(v):
        return v * 1.0

    return F.pandas_udf(_identity, "double")


def _warm(spark) -> None:
    """Warm the JVM, the file cache, the Python-worker/Arrow path and
    the SOM fit's paths outside any timed or labeled region."""
    from pyspark.sql import functions as F

    from sparkml_som_spark.som import SOM as _SOM
    from sparkml_som_spark.sources import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, SF_DIR, t).count()

    # the first pandas_udf in a session pays worker spawn + Arrow init
    # (~5 s across 32 cores), which otherwise lands on whichever query
    # happens to run first
    spark.range(1024).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).select(
        _warm_udf()(F.col("id").cast("double"))
    ).count()

    # ... and the paths the SOM fit exercises (sizing aggregate, toArrow
    # collect, pandas_udf transform): a 2x2 fit on 256 rows keeps
    # first-query JIT out of the flagship's measurement
    _wdf = spark.range(256).selectExpr(
        "array(cast(id % 7 as double), cast(id % 5 as double)) as features"
    )
    _SOM(height=2, width=2, maxIter=2, seed=1).fit(_wdf)


def _layer_pass(spark, queries) -> tuple[dict[str, dict], int]:
    """Stop ``spark``, restart the context with the event log on, run
    every entry once and attribute the log to the entries' windows.

    Returns ``({name: layer row}, jobs started over the pass)``.  A row
    holds the entry's window ``wall_s``, the engine metrics of
    ``perfbench.spans.attribute`` and, for a failed entry, ``error``.
    The pass is warm for scratch artifacts and in-process caches built
    by the timed series, which survive the restart; first-call costs of
    the new context (Python workers, Python DataSource planners) are paid
    again, so a row's ``wall_s`` is not the entry's steady time.  The
    context is stopped on return."""
    from perfbench.spans import attribute, read_events
    from sparkml_som_spark.session import get_spark

    spark.stop()
    shutil.rmtree(EVENTLOG_DIR, ignore_errors=True)
    os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = EVENTLOG_DIR
    spark = get_spark("sparkml-som-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)

    windows: dict[str, tuple[float, float]] = {}
    errors: dict[str, str] = {}
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs0 = scheduler.nextJobId()
    for name, fn in queries.items():
        t0 = time.time()
        try:
            fn(spark, SF_DIR).collect()
        except Exception as e:  # a failed entry is named in its row
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            print(f"BENCH ERROR (layer pass) {name}: {e}", file=sys.stderr)
        windows[name] = (t0, time.time())
    jobs_started = scheduler.nextJobId() - jobs0
    spark.stop()  # flushes the event log

    rows: dict[str, dict] = {}
    for name, metrics in attribute(read_events(EVENTLOG_DIR), windows).items():
        row = {"wall_s": windows[name][1] - windows[name][0], **metrics}
        rows[name] = {k: round(v, 3) if isinstance(v, float) else v for k, v in row.items()}
        if name in errors:
            rows[name]["error"] = errors[name]
    return rows, jobs_started


def main() -> None:
    import __spark_entry__ as entrymod
    from sparkml_som_spark.session import get_spark

    spark = get_spark("sparkml-som-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)

    from pyspark.sql import functions as F

    # Host canaries: two fixed synthetic workloads (pure-JVM codegen
    # fold; Arrow/pandas_udf round-trip) timed best-of-3 (after the
    # untimed warm above) before and after the suite.  Round-10 lesson: a controlled re-run of eight
    # queries that benched at 1.0x of their frozen best in r9 measured
    # 1.4-1.9x in a later session — the HOST, not the queries, moves
    # by that much between sessions.  The canary pair tells a reader
    # whether the host was slow during the suite.
    def _timed(fn) -> float:
        t0 = time.time()
        fn()
        return time.time() - t0

    _canary_udf = _warm_udf()

    def _canary() -> dict[str, float]:
        def jvm_run():
            spark.range(400_000_000).selectExpr("sum(id * 2651 % 97)").collect()

        def udf_run():
            spark.range(2_000_000).repartition(
                int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            ).select(_canary_udf(F.col("id").cast("double")).alias("v")).selectExpr(
                "sum(v)"
            ).collect()

        jvm_run()  # untimed warm pass: first-touch codegen/JIT is not host speed
        udf_run()
        jvm = min(_timed(jvm_run) for _ in range(3))
        udf = min(_timed(udf_run) for _ in range(3))
        return {"jvm_sec": round(jvm, 3), "udf_sec": round(udf, 3)}

    canary_pre = _canary()

    # Cold-scratch visibility: some entries build artifacts under
    # .scratch/<sf>/ once per process (`sources.build_once`) on their
    # first run and reuse them afterwards, so their recorded min-of-reps
    # seconds amortize the build cost out.  An entry is flagged when its
    # FIRST suite run added or rewrote `_SUCCESS` markers (a new mtime;
    # a warm checkout's markers already exist) that its retime runs left
    # untouched (same mtime): a build-once artifact.  A per-run sink or
    # state dir writes its marker the first time too, but every later
    # run rewrites it.  A file walk outside the timed region, no Spark
    # cost.
    _scratch_root = os.path.join(REPO_DIR, ".scratch")

    def _scratch_markers() -> dict[str, int]:
        # scratch dir holding a `_SUCCESS` marker -> the marker's mtime
        return {
            os.path.relpath(root, _scratch_root): os.stat(os.path.join(root, "_SUCCESS")).st_mtime_ns
            for root, _dirs, files in os.walk(_scratch_root)
            if "_SUCCESS" in files
        }

    written_markers: dict[str, dict[str, int]] = {}

    timings: dict[str, float] = {}
    queries = entrymod.queries()
    for name, fn in queries.items():
        _marks0 = _scratch_markers()
        t0 = time.time()
        try:
            fn(spark, SF_DIR).collect()
            timings[name] = round(time.time() - t0, 3)
        except Exception as e:  # a failed query must be visible, not silent
            timings[name] = -1.0
            print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
        _written = {p: m for p, m in _scratch_markers().items() if _marks0.get(p) != m}
        if _written:
            written_markers[name] = _written

    # This host shows ±2-4 s scheduling jitter (same query, idle
    # machine, minutes apart), which made round-over-round bench diffs
    # unattributable: r5->r6 showed ~10 apparent >=25% regressions on
    # queries with zero code change.  Best-of-2 for EVERY query: the
    # min of two runs estimates the query's actual cost, the max
    # estimates the host's mood.  When the two samples still DISAGREE
    # by >25% the query is jitter-prone — take a third run so one
    # noisy sample can never set the recorded number.  Cost: one extra
    # suite pass (~the suite's own total, mostly sub-second queries) —
    # the price of numbers a round-over-round diff can trust.
    #
    # Round-8 refinement (the r7 "Python-worker regression" diagnosis,
    # `git show 8747789:PERF_DIAG_r08.md`): a query's first run AFTER
    # ~65+ other registry queries deterministically re-pays a ~1-2 s
    # JVM re-warm (measured: 0.85 s steady -> 2.3 s de-warmed for
    # source_python_datasource;
    # reproducible, survives forced GC and a 1 GiB code cache, gone on
    # the immediately-following run — JIT re-profiling of the Python-
    # runner/Arrow paths, not noise, not query code).  Suite-separated
    # best-of-2 therefore measured TWO de-warmed runs for entries whose
    # warm state other queries evict.  Fix: the retime pass runs each
    # query TWICE back-to-back — the second sample is steady-state by
    # construction, so the recorded number is the query's actual cost,
    # not its suite-position accident.
    def _retime(name: str) -> float | None:
        t0 = time.time()
        try:
            queries[name](spark, SF_DIR).collect()
            return round(time.time() - t0, 3)
        except Exception:
            return None  # prior timing stands

    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        if t < 0:
            continue
        t2 = _retime(name)
        if t2 is None:
            continue
        t2b = _retime(name)  # back-to-back: steady-state sample
        # three samples (one suite-order cold-ish, two consecutive) —
        # the min is the steady-state cost; no further runs needed
        timings[name] = min(s for s in (t, t2, t2b) if s is not None)

    _marks = _scratch_markers()
    cold_scratch: dict[str, list[str]] = {}
    for name, written in written_markers.items():
        reused = sorted(d for d, m in written.items() if _marks.get(d) == m)
        if reused and timings[name] > 0:
            cold_scratch[name] = reused

    import numpy as np

    from sparkml_som_spark.som import SOM

    rng = np.random.default_rng(0)
    pts = rng.random((10_000, 3))
    df = spark.createDataFrame(
        [(r.tolist(),) for r in pts], "features array<double>"
    ).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).cache()
    df.count()
    t0 = time.time()
    model = SOM(height=10, width=10, maxIter=100, seed=0).fit(df)
    timings["som_main_workload"] = round(time.time() - t0, 3)
    timings["som_main_iters"] = float(model.summary.iterations)
    fit = model.summary
    som_main = {"timings": {k: round(v, 3) for k, v in fit.timings.items()}, "iterations": fit.iterations}
    som_main["movement_last"] = fit.movement_history[-1] if fit.movement_history else None

    # `value_common` is the apples-to-apples total vs the frozen round-1
    # baseline: the registry GROWS every round, so the all-queries total
    # alone would read as a perf regression when it's really added
    # coverage.  It sums only queries present in BASELINE_QUERIES.json.
    base_q: dict = {}
    baseline_path = os.path.join(REPO_DIR, "BASELINE_QUERIES.json")
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            base_q = json.load(f)

    # Frozen per-query baselines for post-round-1 entries, kept SEPARATE
    # from the round-1 common subset that defends the 2x budget:
    # `first_sec` is the first recorded measurement (frozen — never
    # overwritten, so future rounds can flag a regression against it),
    # `best_sec` ratchets down to the best time ever observed.  New
    # queries self-register on their first bench run.
    # Times are only comparable at the canonical bench scale — a
    # smoke run at sf0.01 must not ratchet the baselines down.
    canonical = SF_DIR.rstrip("/").endswith("sf0.1")
    ext: dict = {}
    ext_path = os.path.join(REPO_DIR, "BASELINE_QUERIES_EXT.json")
    if canonical and os.path.exists(ext_path):
        with open(ext_path) as f:
            ext = json.load(f)

    # A failed entry must never read as a speedup: at the canonical
    # scale, where every entry has a frozen reference, it is charged
    # that reference in both sums; elsewhere it is only named
    failed = sorted(k for k, v in timings.items() if v < 0)
    charged = {k: v for k, v in timings.items() if k != "som_main_iters" and v > 0}
    if canonical:
        for k in failed:
            charged[k] = base_q[k] if k in base_q else ext.get(k, {}).get("first_sec", 0.0)
    total = round(sum(charged.values()), 3)
    value_common = round(sum(v for k, v in charged.items() if k in base_q), 3) if base_q else None

    if canonical:
        for k, v in timings.items():
            if k in base_q or k in ("som_main_iters", "som_main_workload") or v <= 0:
                continue
            if k not in ext:
                ext[k] = {"first_sec": v, "best_sec": v}
            elif v < ext[k]["best_sec"]:
                ext[k]["best_sec"] = v
        # Persist the query ratchets NOW — if the post-suite canary
        # below crashes or hangs, the session's bests are already on
        # disk.  The file is rewritten once more after the host-canary
        # bests ratchet into the same dict.
        with open(ext_path, "w") as f:
            json.dump(ext, f, indent=1, sort_keys=True)
    try:
        sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = SF_DIR  # non-standard dir name: report the path, don't crash

    canary_post = _canary()

    # The canary pair is itself baselined (ratcheting bests under the
    # reserved "__host_canary__" key of the EXT file, sf0.1 sessions
    # only), which gives each session a host-speed ratio per canary
    # workload vs the fastest host ever observed.
    canary_ratios = None
    if canonical:
        cb = ext.setdefault("__host_canary__", {})
        canary_ratios = {}
        for leg in ("jvm", "udf"):
            sec = min(canary_pre[f"{leg}_sec"], canary_post[f"{leg}_sec"])
            cb[f"{leg}_best"] = min(cb.get(f"{leg}_best", sec), sec)
            canary_ratios[leg] = round(sec / cb[f"{leg}_best"], 3)
        with open(ext_path, "w") as f:
            json.dump(ext, f, indent=1, sort_keys=True)

    # the labeled pass runs last, so the timed series, the SOM fit and
    # both canaries keep the session config they have always had
    try:
        layers, layer_jobs = _layer_pass(spark, queries)
    except Exception as e:  # boundary: the timed record is still printed
        traceback.print_exc(file=sys.stderr)
        layers, layer_jobs = {"__layer_pass__": {"error": f"{type(e).__name__}: {e}"[:300]}}, None
    layers_failed = sorted(k for k, row in layers.items() if "error" in row)

    detail = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "value_common_vs_r01": value_common,
        "failed": failed,
        # entry -> scratch dirs (under .scratch/) its first run built and
        # its retimes reused: its recorded time excludes that build
        "cold_scratch": cold_scratch,
        # fixed synthetic workloads timed before/after the suite: the
        # session's host-speed reference (see
        # `git show 8747789:PERF_DIAG_r10.md`)
        "host_canary": {
            "pre": canary_pre,
            "post": canary_post,
            # this session's speed per canary workload (jvm codegen /
            # pandas_udf round-trip; they move independently) vs the
            # fastest session on record; None below the sf0.1 scale
            "ratio_vs_best": canary_ratios,
        },
        # the flagship fit's SOMTrainingSummary: phase seconds,
        # iterations and the last iteration's max squared movement
        "som_main": som_main,
        # entry -> where its time went, from the labeled pass
        "layers": layers,
        "layers_failed": layers_failed,
        # Spark jobs started over the labeled pass (DAGScheduler
        # nextJobId delta): the rows' `jobs` sum to it when the time
        # windows saw every job
        "layers_jobs_started": layer_jobs,
        # standing per-query annotations (kept in bench.py so every
        # BENCH_DETAIL rewrite carries them)
        "notes": {
            "layers": (
                "a warm pass: one run per entry after the timed series, in a "
                "context restarted with the event log on; scratch artifacts "
                "and in-process caches survive the restart, first-call costs "
                "of the new context do not, so wall_s is not the steady time. "
                "A job belongs to the entry whose window holds its submission "
                "(perfbench/spans.py)."
            ),
            "feature_scale_lineitem": (
                "plan-optimal (single scan + one-row stats broadcast, no "
                "shuffle on the data path — PLAN_AUDIT r8); its wall time "
                "is dominated by collect()ing a lineitem-sized scaled "
                "output through the bench harness, a harness artifact, "
                "not a plan cost. VERDICT r8 ask #7: noted and left."
            ),
        },
    }
    with open(os.path.join(REPO_DIR, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # stdout line: the detail file's scalars, capped name lists and the
    # slowest queries first, as many as fit the budget — the driver's
    # 2000-char stdout-tail buffer records parsed=null on a cut line
    # (round-1 lesson: 87 queries serialized to ~2.7 KB and got cut)
    scalars = ("metric", "value", "unit", "sf", "n_queries", "value_common_vs_r01", "host_canary")
    compact = {k: detail[k] for k in scalars}
    compact.update(n_failed=len(failed), layers_n_failed=len(layers_failed), cold_scratch_n=len(cold_scratch))
    for key, names in (("failed", failed), ("layers_failed", layers_failed), ("cold_scratch", cold_scratch)):
        compact[key] = sorted(names)[:NAMES_ON_STDOUT]
    budget = 1800
    kept: dict[str, float] = {}
    by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
    base = json.dumps({**compact, "queries": {}, "detail": "BENCH_DETAIL.json"}, separators=(",", ":"))
    used = len(base)
    for k, v in by_cost:
        entry_len = len(json.dumps({k: v}, separators=(",", ":")))
        if used + entry_len > budget:
            break
        kept[k] = v
        used += entry_len
    compact["queries"] = kept
    compact["detail"] = "BENCH_DETAIL.json"
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
