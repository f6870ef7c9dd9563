"""Whole-registry physical-plan audit: explain EVERY registered query
at sf0.001 and flag scale anti-patterns, so plan discipline is checked
across the full surface, not only the handful of plan-tested queries.

Flags, per query:
- cartesian            CartesianProduct anywhere in the plan
- rowudf               row-at-a-time Python eval (BatchEvalPython) —
                       Arrow paths (ArrowEvalPython / mapInPandas /
                       FlatMapGroupsInPandas) are the sanctioned
                       crossings and are NOT flagged
- bnlj_many            >1 BroadcastNestedLoopJoin (a single one is the
                       approved one-row-totals broadcast shape)
- global_sort_window   a Window whose partition spec is empty over a
                       non-bounded input is a single-task cliff; we flag
                       `Window` nodes with `PartitionBy: []` markers
                       (Spark prints the spec inline in the detail)
- wide_scan            a parquet scan whose ReadSchema carries >8 fields
                       while the query projects fewer — missed pruning

Streaming queries and fit-based queries run real work on explain-time
actions they embed; the audit only builds the DataFrame (no collect), so
cost stays at plan/bounded-materialize level.

Beyond the boolean flags, every query also gets a plan FINGERPRINT —
the structural counts that matter at scale (shuffle exchanges,
broadcast exchanges, scans, pushed-filter scans, whole-stage-codegen
spans, cached-relation scans, sorts).  Fingerprints are persisted per
round (PLAN_AUDIT_r{N}.json with --round N) and diffed against the
previous round's file, so a plan REGRESSION (a query growing an extra
shuffle, losing a pushdown, losing a broadcast) surfaces across rounds
the same way bench regressions do — without having tripped any flag.

Output: PLAN_AUDIT.json {query: [flags...]} for flagged queries only +
fingerprints + fingerprint_diff, plus a summary line.  Exit 1 if any
query carries a flag not in the allowlist below.

Usage: PYTHONPATH=/root/repo python tools/plan_audit.py [--round N]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# (query, flag) pairs that are understood and documented:
ALLOW: set[tuple[str, str]] = {
    # the declared row-at-a-time surfaces: the Python UDTF API entries
    # exist to exercise exactly that crossing (VERDICT r4 notes the
    # chunker; the ngram entry adds the Spark 4 `analyze` hook)
    ("udtf_chunk_documents", "rowudf"),
    ("udtf_ngram_counts", "rowudf"),
}


def audit_plan(plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("cartesian")
    if re.search(r"^\(\d+\) BatchEvalPython", plan, flags=re.MULTILINE):
        flags.append("rowudf")
    if len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, flags=re.MULTILINE)) > 1:
        flags.append("bnlj_many")
    # Window with empty partition spec: detail section prints e.g.
    # "Arguments: [rank(...) windowspecdefinition(x DESC, ...)" — a
    # spec with no partition columns starts the spec with the order
    # column list only.  Spark's formatted output for a global window
    # shows "Window [..], [..]" with an empty partition list in simple
    # mode; detect via 'windowspecdefinition(' directly preceded by no
    # partition cols is brittle, so use the simple-mode marker instead:
    return flags


def fingerprint(plan: str) -> dict[str, int]:
    """Structural plan counts that matter at 100 TB.  A round-over-round
    change here (more shuffles, fewer pushdown scans, a lost broadcast)
    is a plan regression even when no anti-pattern flag trips."""

    def nodes(pat: str) -> int:
        return len(re.findall(rf"^\s*\(\d+\) {pat}", plan, flags=re.MULTILINE))

    return {
        # shuffle exchanges only — BroadcastExchange counted separately
        "shuffle_exchanges": nodes("Exchange"),
        "broadcast_exchanges": nodes("BroadcastExchange"),
        "scans": nodes("Scan "),
        "pushed_filter_scans": len(
            re.findall(r"PushedFilters: \[(?!\])", plan)
        ),
        "wscg_spans": len(re.findall(r"WholeStageCodegen", plan)),
        "inmemory_scans": nodes("InMemoryTableScan"),
        # standalone Sort operators only — the bare "Sort" pattern also
        # matched SortMergeJoin/SortAggregate headers, conflating a
        # join/agg strategy change with an added sort in the diff
        # (renamed from r06's "sorts" key; the differ compares only
        # keys present in both rounds, so the rename doesn't spray
        # spurious diffs)
        "sort_ops": nodes(r"Sort(?!MergeJoin|Aggregate)"),
        # Python-crossing nodes (Arrow-batched pandas paths + the two
        # sanctioned row-at-a-time UDTF surfaces): >0 means the query's
        # returned plan leaves the JVM.  A plan fact only; the time an
        # entry spends in Python workers is measured by bench.py's
        # layer rows (`python_s`).  The differ compares only keys
        # present in both rounds, so adding it sprayed no diffs.
        "python_eval_nodes": nodes(
            r"(ArrowEvalPython|BatchEvalPython|MapInPandas|"
            r"PythonMapInArrow|FlatMapGroupsInPandas|"
            r"FlatMapCoGroupsInPandas|FlatMapGroupsInPandasWithState|"
            r"TransformWithStateInPandas)"
        ),
    }


def main() -> int:
    import __spark_entry__ as entrymod
    from sparkml_som_spark.plans import formatted_plan
    from sparkml_som_spark.session import get_spark

    argv = sys.argv[1:]
    round_no = None
    if "--round" in argv:
        round_no = int(argv[argv.index("--round") + 1])

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    flagged: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    prints: dict[str, dict[str, int]] = {}
    for name, fn in queries.items():
        try:
            df = fn(spark, SF_DIR)
            plan = formatted_plan(df)
        except Exception as e:  # plan-time failure is itself a finding
            errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            continue
        prints[name] = fingerprint(plan)
        flags = [f for f in audit_plan(plan) if (name, f) not in ALLOW]
        # global-window check via the logical plan string (partition
        # spec is explicit there and the formatted physical detail
        # interleaves it with the frame spec)
        if re.search(r"Window \[[^\]]*\], \[\]$", df._jdf.queryExecution().optimizedPlan().toString(), flags=re.MULTILINE):
            # empty partitionBy — only a cliff if the window input is
            # the raw table; bounded inputs (aggregates) are fine, so
            # report as informational
            flags.append("global_window")
        if flags:
            flagged[name] = flags
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    # diff fingerprints vs the previous round's artifact (if any): a
    # query whose structural counts moved is a plan regression candidate
    diff: dict[str, dict[str, list[int]]] = {}
    prev_round = None
    if round_no is not None:
        for prev in range(round_no - 1, 0, -1):
            prev_path = os.path.join(repo, f"PLAN_AUDIT_r{prev:02d}.json")
            if os.path.exists(prev_path):
                with open(prev_path) as f:
                    prev_prints = json.load(f).get("fingerprints", {})
                prev_round = prev
                for name, fp in prints.items():
                    old = prev_prints.get(name)
                    if not old:
                        continue
                    moved = {
                        k: [old[k], v]
                        for k, v in fp.items()
                        if k in old and old[k] != v
                    }
                    if moved:
                        diff[name] = moved
                break

    out = {
        "sf_dir": SF_DIR,
        "n_queries": len(queries),
        "n_flagged": len(flagged),
        "flagged": flagged,
        "errors": errors,
        "fingerprints": prints,
        "fingerprint_diff_vs_round": prev_round,
        "fingerprint_diff": diff,
    }
    path = os.path.join(repo, "PLAN_AUDIT.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    if round_no is not None:
        with open(os.path.join(repo, f"PLAN_AUDIT_r{round_no:02d}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in ("n_queries", "n_flagged")}))
    for name, flags in flagged.items():
        print("FLAG", name, flags)
    for name, err in errors.items():
        print("ERR ", name, err)
    for name, moved in diff.items():
        print("DIFF", name, moved)
    spark.stop()
    return 1 if errors or any(f != ["global_window"] for f in flagged.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
