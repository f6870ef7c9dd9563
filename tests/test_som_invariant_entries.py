"""Round-6 upgrade: the six formerly rows-only SOM/ML entries now
surface engine invariants under the FULL value hash (the
som_hex_occupancy pattern).  These tests assert (a) the rich
per-cell/per-component views the entries used to return — kept as
helpers — and (b) the hashable verdict rows the registry now exposes,
so a regression in either surface fails here before the oracle gate.
"""

import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


@pytest.fixture(scope="module")
def n_emb(spark):
    return load_table(spark, SF, "embeddings").count()


def test_som_cluster_summary_verdict(spark, registry, n_emb, assert_session_unchanged):
    emb = load_table(spark, SF, "embeddings")
    want_checksum = emb.agg(F.sum("vec_id")).first()[0]
    row = registry["som_cluster_summary"].fn(spark, SF).collect()
    assert_session_unchanged("som_cluster_summary")
    assert len(row) == 1
    r = row[0]
    assert r["n_rows"] == n_emb
    assert r["sum_vec_id"] == want_checksum
    assert r["n_outside_grid"] == 0
    assert r["n_cells_missing_dominant"] == 0


def test_som_count_invariant_entry(spark, registry, n_emb, assert_session_unchanged):
    rows = registry["som_count_invariant"].fn(spark, SF).collect()
    assert_session_unchanged("som_count_invariant")
    assert [r["n_rows"] for r in rows] == [n_emb]


def test_som_cell_summary_view(spark, n_emb):
    from sparkml_som_spark.operators.som_queries import som_cell_summary

    rows = som_cell_summary(spark, SF).collect()
    assert 1 <= len(rows) <= 25
    assert sum(r["n_rows"] for r in rows) == n_emb
    assert all(0 <= r["cell"] < 25 for r in rows)


def test_som_quantization_error_verdict(spark, registry, n_emb):
    r = registry["som_quantization_error"].fn(spark, SF).collect()[0]
    assert r["n_rows"] == n_emb
    assert r["n_cells_inconsistent"] == 0
    assert r["cost_paths_agree"] is True


def test_som_cell_quantization_view(spark, n_emb):
    from sparkml_som_spark.operators.som_queries import som_cell_quantization

    rows = som_cell_quantization(spark, SF).collect()
    assert sum(r["n_rows"] for r in rows) == n_emb
    for r in rows:
        assert 0.0 <= r["avg_d2"] <= r["max_d2"] + 1e-9


def test_som_umatrix_verdict_and_cells(spark, registry, n_emb):
    r = registry["som_umatrix"].fn(spark, SF).collect()[0]
    assert (
        r["n_cells"],
        r["n_directed_neighbor_pairs"],
        r["n_asymmetric_pairs"],
        r["n_invalid_u"],
    ) == (25, 80, 0, 0)
    # the data-derived anchor: the final training aggregation consumed
    # exactly the table's rows
    assert r["n_train_rows"] == n_emb
    from sparkml_som_spark.operators.som_queries import som_umatrix_cells

    cells = som_umatrix_cells(spark, SF).collect()
    assert len(cells) == 25
    # rectangular 5x5: corners have 2 neighbors, edges 3, interior 4
    assert sorted(c["n_neighbors"] for c in cells).count(2) == 4
    assert sum(c["n_neighbors"] for c in cells) == 80
    assert all(c["u_height"] >= 0 for c in cells)


def test_som_topographic_error_verdict_and_value(spark, registry, n_emb):
    r = registry["som_topographic_error"].fn(spark, SF).collect()[0]
    assert r["n_samples"] == n_emb
    assert r["n_top2_equal"] == 0
    assert r["te_in_01"] is True
    from sparkml_som_spark.operators.som_queries import som_topographic_error_value

    te = som_topographic_error_value(spark, SF)
    assert 0.0 <= te <= 1.0


def test_embedding_pca_verdict_and_profile(spark, registry):
    r = registry["embedding_pca_variance"].fn(spark, SF).collect()[0]
    assert r["n_components"] == 8
    assert r["n_out_of_range"] == 0
    assert r["ratios_nonincreasing"] is True
    assert r["total_at_most_1"] is True
    # the trace anchor is a real variance total, not a placeholder
    assert r["total_variance"] > 0
    from sparkml_som_spark.operators.similarity import embedding_pca_ratios

    ev = embedding_pca_ratios(spark, SF)
    assert len(ev) == 8
    assert ev == sorted(ev, reverse=True)
    assert 0.0 < sum(ev) <= 1.0 + 1e-9


def test_text_som_topics_verdict_and_cells(spark, registry):
    docs = load_table(spark, SF, "documents")
    n_docs, want_checksum = docs.agg(
        F.count("*"), F.sum("doc_id")
    ).first()
    r = registry["text_som_topics"].fn(spark, SF).collect()[0]
    assert r["n_docs"] == n_docs
    assert r["sum_doc_id"] == want_checksum
    assert r["n_outside_grid"] == 0
    assert r["n_cells_missing_dominant"] == 0
    from sparkml_som_spark.operators.text_pipeline import text_som_topic_cells

    cells = text_som_topic_cells(spark, SF).collect()
    assert 1 <= len(cells) <= 9
    assert sum(c["n_docs"] for c in cells) == n_docs


def test_stream_som_inference_verdict(spark, registry, n_emb):
    r = registry["stream_som_inference"].fn(spark, SF).collect()[0]
    assert r["n_rows"] == n_emb
    assert r["n_cells_mismatched_vs_batch"] == 0


def test_som_outlier_audit_quota_contract(spark, registry, n_emb):
    r = registry["som_outlier_audit"].fn(spark, SF).collect()[0]
    assert r["n_rows"] == n_emb
    assert r["n_cells_over_quota"] == 0
    assert r["n_flags_below_threshold"] == 0
    assert r["flag_rate_within_5pct"] is True


def test_som_per_label_models_deterministic_and_grounded(spark, registry, n_emb):
    a = sorted(tuple(r) for r in registry["som_per_label_models"].fn(spark, SF).collect())
    b = sorted(tuple(r) for r in registry["som_per_label_models"].fn(spark, SF).collect())
    assert a == b  # sorted-group seeded init -> layout-independent
    assert sum(r[1] for r in a) == n_emb
    for label, n_rows, trace, qe_ok in a:
        assert n_rows > 0 and trace > 0 and qe_ok is True
