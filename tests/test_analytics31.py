"""Round-9 fourth wave (analytics31) — semantic laws beyond the DuckDB
oracle: stream-equals-batch for the quantile sketch, a literal Python
reference scan for the row-pattern matcher, and the candidate-subset
partial order of the LSH tuning grid."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# stream_quantile_merge


def test_stream_quantiles_equal_batch_build(spark, sf_dir):
    """THE merge law: the micro-batch-merged sketch reads off exactly
    the quantiles of a single-pass batch histogram, on every call: each
    call starts from an empty driver-held sketch and leaves no state
    dir behind."""
    import os
    import shutil

    from pyspark.sql import Window

    from sparkml_som_spark.operators.analytics31 import (
        _SQ_BIN_W,
        _SQ_PS,
        stream_quantile_merge,
    )
    from sparkml_som_spark.sources import load_table, scratch_dir

    cells_dir = scratch_dir(sf_dir, "squant_cells")
    # a dir an older engine left must not decide the check below
    shutil.rmtree(cells_dir, ignore_errors=True)
    first = stream_quantile_merge(spark, sf_dir).collect()
    second = stream_quantile_merge(spark, sf_dir).collect()
    assert first == second  # ordered by event_type
    assert not os.path.exists(cells_dir)
    got = {r["event_type"]: r for r in second}

    ev = load_table(spark, sf_dir, "events")
    merged = ev.groupBy(
        "event_type", F.floor(F.col("value") / _SQ_BIN_W).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    cum = merged.withColumn("cum_n", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_all)
    )
    want = {
        r["event_type"]: r
        for r in cum.groupBy("event_type")
        .agg(
            F.max("total").cast("long").alias("n_events"),
            *[
                F.min(
                    F.when(
                        F.col("cum_n") >= F.lit(p) * F.col("total"),
                        F.round(F.col("bin") * _SQ_BIN_W, 2),
                    )
                ).alias(f"approx_{nm}")
                for nm, p in _SQ_PS
            ],
        )
        .collect()
    }
    assert set(got) == set(want)
    for et in got:
        assert got[et]["n_events"] == want[et]["n_events"]
        for nm, _p in _SQ_PS:
            assert got[et][f"approx_{nm}"] == want[et][f"approx_{nm}"]
        assert got[et]["approx_p50"] <= got[et]["approx_p90"] <= got[et]["approx_p99"]


# ---------------------------------------------------------------------------
# match_recognize_funnel


def test_match_recognize_agrees_with_reference_scan(spark, sf_dir):
    """Differential test: a literal Python scan of each user's ordered
    event sequence (the NFA the SQL compiles away) produces the same
    match set and measures."""
    from sparkml_som_spark.operators.analytics31 import match_recognize_funnel
    from sparkml_som_spark.sources import load_table

    got = {
        (r["user_id"], r["match_id"]): (
            r["n_views"],
            r["first_view_ts"],
            r["purchase_ts"],
        )
        for r in match_recognize_funnel(spark, sf_dir).collect()
    }

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        mid = 0
        i = 0
        while i < len(rows):
            if rows[i]["event_type"] == "view":
                j = i
                while j < len(rows) and rows[j]["event_type"] == "view":
                    j += 1
                if j < len(rows) and rows[j]["event_type"] == "purchase":
                    mid += 1
                    want[(uid, mid)] = (j - i, rows[i]["ts"], rows[j]["ts"])
                    i = j + 1  # AFTER MATCH SKIP PAST LAST ROW
                    continue
                i = j
            else:
                i += 1
    assert got == want


def test_match_recognize_shape(spark, sf_dir):
    from sparkml_som_spark.operators.analytics31 import match_recognize_funnel

    rows = match_recognize_funnel(spark, sf_dir).collect()
    assert rows
    per_user: dict = {}
    for r in rows:
        assert r["n_views"] >= 1
        assert r["purchase_ts"] > r["first_view_ts"]
        assert r["secs_to_purchase"] >= 0
        per_user.setdefault(r["user_id"], []).append(r["match_id"])
    for mids in per_user.values():
        assert sorted(mids) == list(range(1, len(mids) + 1))


# ---------------------------------------------------------------------------
# lsh_tuning_curve


@pytest.fixture(scope="module")
def lsh_rows(spark, sf_dir):
    from sparkml_som_spark.operators.analytics31 import lsh_tuning_curve

    return {
        (r["bands"], r["rows_per_band"]): r
        for r in lsh_tuning_curve(spark, sf_dir).collect()
    }


def test_lsh_grid_shape_and_theory(lsh_rows):
    from sparkml_som_spark.operators.analytics31 import _LSH_GRID, _LSH_N, _LSH_TAU

    assert set(lsh_rows) == set(_LSH_GRID)
    for (b, r), row in lsh_rows.items():
        assert b * r == _LSH_N
        assert 0 <= row["tp"] <= row["n_candidates"]
        assert row["tp"] <= row["n_true_pairs"]
        assert 0.0 <= row["precision"] <= 1.0
        assert 0.0 <= row["recall"] <= 1.0
        want_theory = round(1.0 - (1.0 - _LSH_TAU**r) ** b, 4)
        assert row["theory_recall_at_tau"] == pytest.approx(want_theory, abs=1e-4)


def test_lsh_candidate_subset_partial_order(lsh_rows):
    """Sharing an aligned coarser band implies sharing its finer
    sub-bands, so along aligned chains the candidate and true-positive
    counts are monotone: (1,12) <= (2,6) <= (4,3) <= (12,1) and
    (1,12) <= (3,4) <= (6,2) <= (12,1)."""
    chains = [
        [(1, 12), (2, 6), (4, 3), (12, 1)],
        [(1, 12), (3, 4), (6, 2), (12, 1)],
    ]
    for chain in chains:
        for lo, hi in zip(chain, chain[1:]):
            assert lsh_rows[lo]["n_candidates"] <= lsh_rows[hi]["n_candidates"]
            assert lsh_rows[lo]["tp"] <= lsh_rows[hi]["tp"]
            assert lsh_rows[lo]["recall"] <= lsh_rows[hi]["recall"]
