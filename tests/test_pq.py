"""Product-quantization mechanics: deterministic codebooks, in-range
codes, reconstruction quality vs the mean baseline, and the ADC ==
distance-to-reconstruction identity surfaced by the registered entry."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all, query_scope
from sparkml_som_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_pq_codebooks_deterministic(spark):
    from sparkml_som_spark.operators import similarity as S

    S._PQ_CACHE.clear()
    a = S.pq_codebooks(spark, SF)
    S._PQ_CACHE.clear()
    b = S.pq_codebooks(spark, SF)
    assert a.shape == (S._PQ_M, S._PQ_K, 64 // S._PQ_M)
    assert np.array_equal(a, b)


def test_pq_encode_codes_and_recon(spark):
    from sparkml_som_spark.operators import similarity as S

    emb = S.emb_v(load_table(spark, SF, "embeddings"))
    cbs = S.pq_codebooks(spark, SF)
    with query_scope(spark):
        rows = S.pq_encode(emb, cbs).select("vec_id", "codes", "recon_se").collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["codes"]) == S._PQ_M
        assert all(0 <= c < S._PQ_K for c in r["codes"])
        assert r["recon_se"] >= 0
    # spot-check one row against a NumPy replay of encode
    v = np.asarray(emb.where(F.col("vec_id") == rows[0]["vec_id"]).first()["v"])
    sub = 64 // S._PQ_M
    for j in range(S._PQ_M):
        d2 = ((v[j * sub : (j + 1) * sub] - cbs[j]) ** 2).sum(axis=1)
        assert rows[0]["codes"][j] == int(d2.argmin())


def test_pq_entry_verdicts(spark, registry):
    enc = registry["embedding_pq_encode"].fn(spark, SF).collect()[0]
    assert enc["n_codes_out_of_range"] == 0
    assert enc["recon_mse_below_trace"] is True
    assert enc["total_variance"] > 0
    adc = registry["ann_pq_adc"].fn(spark, SF).collect()
    assert len(adc) == 5
    for r in adc:
        assert r["k_returned"] == 10
        assert r["n_adc_recon_mismatch"] == 0
        assert r["top1_matches_recon_argmin"] is True
