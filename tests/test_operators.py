"""Operator-surface tests at sf0.001 (fast). Full oracle parity runs in
tools/check_oracle.py at sf0.01; these tests assert structural
invariants + spot values so pytest stays quick."""

import os
import re

import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_all_queries_run_and_have_stable_schema(spark, registry, assert_session_unchanged):
    """Every registered query must execute and produce a deterministic,
    non-degenerate schema at the smallest scale factor, and leave the
    session as it found it once the next entry starts: no persisted
    RDD left behind, no watched conf key changed."""
    slow = {"som_cluster_summary", "som_count_invariant", "ann_ivf_som", "dedup_simhash"}
    for name, spec in registry.items():
        if name in slow:
            continue  # covered by dedicated tests
        df = spec.fn(spark, SF)
        assert len(df.columns) > 0, name
        assert df.count() >= 0, name
        assert_session_unchanged(name)


def test_q1_aggregate_values(spark, registry):
    rows = registry["q1_pricing_summary"].fn(spark, SF).collect()
    assert len(rows) == 6  # 3 returnflags x 2 linestatuses
    total = sum(r["count_order"] for r in rows)
    assert total > 5000  # nearly all of the 6000 lineitems pass the filter


def test_topk_is_deterministic(spark, registry):
    a = registry["sort_topk_lineitems"].fn(spark, SF).collect()
    b = registry["sort_topk_lineitems"].fn(spark, SF).collect()
    assert a == b and len(a) == 15


def test_asof_attribution_semantics(spark, registry):
    df = registry["asof_join_signup_attribution"].fn(spark, SF)
    rows = df.collect()
    # every attributed signup must be at or before the event
    for r in rows:
        if r["signup_ts"] is not None:
            assert r["signup_ts"] <= r["ts"]
    # and some events must be unattributed or attributed (non-degenerate)
    assert len(rows) > 0


def test_session_window_counts_sum_to_events(spark, registry):
    df = registry["session_window_events"].fn(spark, SF)
    total = df.agg(F.sum("n_events")).first()[0]
    from sparkml_som_spark.sources import load_table

    assert total == load_table(spark, SF, "events").count()


def test_dedup_ngram_finds_planted_pairs(spark, registry):
    rows = registry["dedup_ngram_jaccard"].fn(spark, SF).collect()
    assert all(r["jaccard"] >= 0.8 for r in rows)


def test_minhash_matches_exhaustive(spark, registry):
    exact = {
        (r["a_id"], r["b_id"]) for r in registry["dedup_ngram_jaccard"].fn(spark, SF).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"]) for r in registry["dedup_minhash_lsh"].fn(spark, SF).collect()
    }
    assert lsh == exact  # verification removes FPs; recall ~1 at thr 0.8


def test_ann_bruteforce_topk_shape(spark, registry):
    rows = registry["ann_topk_bruteforce"].fn(spark, SF).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == {0, 1, 2, 3, 4}
    for q, rs in by_query.items():
        assert len(rs) == 10
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_ann_ivf_recall_guard(spark, registry, assert_session_unchanged):
    """ann_ivf_som now RETURNS its recall guard (same contract as
    ann_lsh_hyperplane): k results per query, all inside the exact
    brute-force top-2k."""
    from sparkml_som_spark.operators.similarity import N_QUERIES, TOP_K

    rows = registry["ann_ivf_som"].fn(spark, SF).collect()
    assert_session_unchanged("ann_ivf_som")
    assert len(rows) == N_QUERIES
    for r in rows:
        assert r["k_returned"] == TOP_K
        assert r["n_outside_bf_top2k"] == 0


def test_simhash_detects_near_dups(spark, registry, assert_session_unchanged):
    ngram_pairs = {
        (r["a_id"], r["b_id"]) for r in registry["dedup_ngram_jaccard"].fn(spark, SF).collect()
    }
    simhash_pairs = {
        (r["a_id"], r["b_id"]) for r in registry["dedup_simhash"].fn(spark, SF).collect()
    }
    assert_session_unchanged("dedup_simhash")
    # simhash (hamming<=3) should overlap heavily with high-jaccard pairs
    if ngram_pairs:
        overlap = len(ngram_pairs & simhash_pairs) / len(ngram_pairs)
        assert overlap >= 0.5, f"simhash overlap {overlap}"


def test_langid_shape_and_determinism(spark, registry):
    df = registry["text_langid_ngram"].fn(spark, SF)
    rows = df.collect()
    assert len(rows) == 500  # one prediction per doc
    assert set(df.columns) == {"doc_id", "predicted_lang", "score"}


def test_sessionize_conserves_events_and_durations(spark, registry):
    df = registry["sessionize_lag_gaps"].fn(spark, SF)
    rows = df.collect()
    from sparkml_som_spark.sources import load_table

    assert sum(r["n_events"] for r in rows) == load_table(spark, SF, "events").count()
    assert all(r["dur_s"] >= 0 for r in rows)
    # single-event sessions must have zero duration
    assert all(r["dur_s"] == 0 for r in rows if r["n_events"] == 1)


def test_two_phase_sessionize_equals_single_window(spark, registry):
    """The skew-resilient two-phase sessionizer must reproduce the
    single-window lag/cumsum sessions EXACTLY — on the real events
    table (both registered entries share one oracle SQL) and on a
    synthetic 90%-hot-user corpus with sessions spanning day-bucket
    boundaries (the merge path the events table may not exercise)."""
    lag_rows = sorted(
        tuple(r) for r in registry["sessionize_lag_gaps"].fn(spark, SF).collect()
    )
    tp_rows = sorted(
        tuple(r) for r in registry["sessionize_two_phase"].fn(spark, SF).collect()
    )
    assert lag_rows == tp_rows

    from pyspark.sql import Window

    from sparkml_som_spark.operators.relational3 import two_phase_sessionize

    # hot user owns 90% of events; 20-min spacing crosses midnight
    # boundaries mid-session (merge path), with a >30-min break every
    # 50 ids (many sessions)
    i = F.col("id")
    ev = spark.range(4000).select(
        i.alias("event_id"),
        F.when(i % 10 < 9, F.lit(7)).otherwise(100 + i % 13).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + i * 1200 + (i / 50).cast("long") * 2400
        ).alias("ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flag = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    want = (
        ev.withColumn(
            "sess_id",
            F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .groupBy("user_id", "sess_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
                "dur_s"
            ),
        )
    )
    got = two_phase_sessionize(ev)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # the synthetic really does cross bucket boundaries mid-session:
    # otherwise this test wouldn't cover the merge path
    n_days = ev.select(F.date_trunc("day", "ts")).distinct().count()
    assert n_days > 1


def test_gapfill_spine_is_complete(spark, registry):
    rows = registry["gapfill_daily_revenue"].fn(spark, SF).collect()
    assert len(rows) == 90  # Jan 1 .. Mar 31 1995, no gaps
    days = sorted(r["day"] for r in rows)
    assert (days[-1] - days[0]).days == 89
    # gap-filled days carry zeros, not nulls
    assert all(r["revenue"] is not None and r["n_orders"] is not None for r in rows)


def test_nullsafe_join_keeps_null_group(spark, registry):
    rows = registry["nullsafe_join_flags"].fn(spark, SF).collect()
    keys = {r["k"] for r in rows}
    assert None in keys  # the whole point: NULL == NULL under <=>
    assert len(rows) == 3  # A, R, and the nulled-out N group


def test_except_all_multiset_arithmetic(spark, registry):
    """exceptAll row count must equal sum over q of max(0, cnt_R - cnt_A)."""
    from sparkml_som_spark.sources import load_table

    li = load_table(spark, SF, "lineitem")
    q = F.col("l_quantity").cast("int").alias("q")
    cnt = (
        li.groupBy(q, "l_returnflag")
        .count()
        .groupBy("q")
        .pivot("l_returnflag", ["R", "A"])
        .sum("count")
        .fillna(0)
        .collect()
    )
    expected = sum(max(0, r["R"] - r["A"]) for r in cnt)
    got = registry["set_except_all_qty"].fn(spark, SF).count()
    assert got == expected


def test_trailing_window_includes_current_row(spark, registry):
    rows = registry["window_trailing_7d"].fn(spark, SF).limit(500).collect()
    # trailing sum always includes the current order -> strictly positive
    assert all(r["trailing_7d"] > 0 for r in rows)


def test_lsh_hyperplane_recall_guard(spark, registry):
    """The LSH query now RETURNS its recall guard: k results per query,
    all inside the exact brute-force top-2k (full-oracle contract)."""
    from sparkml_som_spark.operators.similarity import N_QUERIES, TOP_K

    rows = registry["ann_lsh_hyperplane"].fn(spark, SF).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert r["k_returned"] == TOP_K
        assert r["n_outside_bf_top2k"] == 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user (few -> dense histories)
            st.integers(min_value=0, max_value=200_000), # offset seconds (~2.3 days)
        ),
        min_size=1,
        max_size=120,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_two_phase_sessionize_property(spark, events):
    """For ANY event set — duplicate timestamps, bucket-boundary
    spanning sessions, single-event users — the two-phase sessionizer
    must equal the single-window lag/cumsum form row for row."""
    from pyspark.sql import Window

    from sparkml_som_spark.operators.relational3 import two_phase_sessionize

    ev = spark.createDataFrame(
        [(i, u, 1_700_000_000 + off) for i, (u, off) in enumerate(events)],
        "event_id long, user_id long, secs long",
    ).select("event_id", "user_id", F.timestamp_seconds("secs").alias("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flag = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    want = sorted(
        tuple(r)
        for r in (
            ev.withColumn(
                "sess_id",
                F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
            )
            .groupBy("user_id", "sess_id")
            .agg(
                F.count("*").alias("n_events"),
                (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("dur_s"),
            )
            .collect()
        )
    )
    got = sorted(tuple(r) for r in two_phase_sessionize(ev).collect())
    assert got == want


def test_priority_window_integrity(registry):
    """Every _PRIORITY name must resolve to a registered query: load_all
    silently SKIPS unknown names when ordering, so a typo in the
    rotation edit would shrink the driver's 50-slot correctness window
    without any error.  Pin the contract here."""
    from sparkml_som_spark.operators.registry import _PRIORITY

    assert len(_PRIORITY) == 50
    assert len(set(_PRIORITY)) == 50, "duplicate slot"
    missing = [n for n in _PRIORITY if n not in registry]
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    assert list(registry)[:50] == list(_PRIORITY)


def test_every_registry_entry_is_documented(registry):
    """COVERAGE.md is the judge-facing map from SURVEY §2 components to
    registry entries; an entry registered without a COVERAGE row is
    invisible coverage and a doc-drift bug.  Keep the map total."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cov = open(os.path.join(repo, "COVERAGE.md")).read()
    # word-boundary match, not substring: `source_python_datasource`
    # must not be satisfied by `source_python_datasource_writer`'s row
    missing = [n for n in registry if not re.search(rf"\b{re.escape(n)}\b", cov)]
    assert not missing, f"registry entries absent from COVERAGE.md: {missing}"


def test_engine_env_knobs_allowlist():
    """The engine reads exactly these SPARK_GRAFT_* variables.  A new
    name here means a new hidden code path: ship one behaviour and
    record any A/B in the docs instead of behind an env flag."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "sparkml_som_spark")
    names = set()
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                src = open(os.path.join(root, f)).read()
                names |= set(re.findall(r"SPARK_GRAFT_([A-Z0-9_]+)", src))
    assert names == {
        "CPUS",
        "SHUFFLE",
        "MAX_PARTITION_BYTES",
        "DRIVER_MEM",
        "WAREHOUSE",
        "EVENTLOG_DIR",
    }


def test_engine_create_dataframe_allowlist():
    """Driver-held rows go back to Spark through one helper,
    `session.local_frame` (an Arrow `LocalRelation`).  A list passed to
    `createDataFrame` anywhere else plans as a Python-RDD scan that
    starts a Python-worker job on every read."""
    import ast

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "sparkml_som_spark")
    sites = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                tree = ast.parse(open(os.path.join(root, f)).read())
                funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                    ):
                        owners = [
                            fn.name for fn in funcs if fn.lineno <= node.lineno <= fn.end_lineno
                        ]
                        sites.append((f, owners[-1] if owners else None))
    assert sites == [("session.py", "local_frame")]


def test_engine_parquet_read_allowlist():
    """Parquet goes through one reader, `sources.read_parquet`, which
    infers a path's schema once per process.  A direct `.read.parquet`
    anywhere else starts a footer-reading Spark job on every read."""
    import ast

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "sparkml_som_spark")

    def reads(node):
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    sites = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                tree = ast.parse(open(os.path.join(root, f)).read())
                funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "parquet"
                        and reads(node.func.value)
                    ):
                        owners = [
                            fn.name for fn in funcs if fn.lineno <= node.lineno <= fn.end_lineno
                        ]
                        rel = os.path.relpath(os.path.join(root, f), pkg)
                        sites.append((rel, owners[-1] if owners else None))
    assert sites and set(sites) == {(os.path.join("sources", "__init__.py"), "read_parquet")}, sites
