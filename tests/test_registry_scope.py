"""The registry's resource scope, conf override and stream drain: what an
entry holds stays valid for its lazy result and is released when the
next entry starts (or at once when the entry raises); nested entries
share one scope; a conf override and a stream never outlive the entry."""

from __future__ import annotations

import math
import struct
import time
from collections import Counter
from decimal import Decimal

import pytest

from sparkml_som_spark.operators.registry import (
    broadcast,
    drain_stream,
    load_all,
    query_scope,
    session_conf,
)


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _rdd_ids(spark):
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def _n_cached(spark):
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _boundary(spark):
    with query_scope(spark):
        pass


@query_scope
def _pinning_entry(spark, n):
    """A scoped builder holding one of each kind: an eager local
    checkpoint, a Dataset cache its caller's collect fills, and a
    broadcast its lazy result reads."""
    from pyspark.sql import functions as F

    ckpt = spark.range(n).localCheckpoint(eager=True)
    cached = spark.range(n).withColumn("sq", F.col("id") * F.col("id")).persist()
    bc = broadcast(spark, 1000)
    plus = F.udf(lambda x: x + bc.value, "long")
    return ckpt.join(cached, "id").select("id", "sq", plus("id").alias("shifted")), bc


def test_result_collectable_then_released_at_next_entry(spark):
    _boundary(spark)
    rdds0, cached0 = _rdd_ids(spark), _n_cached(spark)
    df, bc = _pinning_entry(spark, 20)
    rows = sorted(df.collect())
    assert rows == [(i, i * i, i + 1000) for i in range(20)]
    held = _rdd_ids(spark) - rdds0
    assert len(held) == 2, held  # the checkpoint and the filled cache
    assert _n_cached(spark) == cached0 + 1
    assert bc._jbroadcast.isValid()

    _boundary(spark)  # the next entry starts
    assert _rdd_ids(spark) == rdds0
    assert _n_cached(spark) == cached0
    assert not bc._jbroadcast.isValid()


def test_raising_builder_releases_at_once(spark):
    _boundary(spark)
    rdds0, cached0 = _rdd_ids(spark), _n_cached(spark)
    seen = {}

    @query_scope
    def failing(spark):
        spark.range(10).persist().count()
        spark.range(10).localCheckpoint(eager=True)
        seen["bc"] = broadcast(spark, [1, 2, 3])
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError, match="builder failed"):
        failing(spark)
    assert _rdd_ids(spark) == rdds0
    assert _n_cached(spark) == cached0
    assert not seen["bc"]._jbroadcast.isValid()


def test_with_block_releases_at_exit_and_nested_scopes_join(spark):
    _boundary(spark)
    rdds0 = _rdd_ids(spark)
    with query_scope(spark):
        df, bc = _pinning_entry(spark, 5)  # joins the running block
        assert len(df.collect()) == 5
        _boundary(spark)  # a nested boundary releases nothing
        assert len(_rdd_ids(spark) - rdds0) == 2
        assert bc._jbroadcast.isValid()
    assert _rdd_ids(spark) == rdds0
    assert not bc._jbroadcast.isValid()


def _canon(rows, cols):
    def norm(v):
        if isinstance(v, Decimal):
            v = float(v)
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else struct.pack("<d", v)
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize(
    "outer, inner",
    [("kappa_langid_agreement", "text_langid_ngram"), ("rerank_cross_features", "hybrid_rrf_fusion")],
)
def test_nested_entries_leave_nothing_and_match_oracle(
    spark, sf_dir, registry, assert_session_unchanged, outer, inner
):
    """An entry that calls another entry joins its scope: the inner
    entry's holdings outlive the inner call (the outer plan reads
    them), and nothing is left once the next entry starts.  The rows
    still equal the DuckDB oracle twin under the strict canon."""
    import duckdb

    df = registry[outer].fn(spark, sf_dir)
    cols = [c.lower() for c in df.columns]
    got = _canon(df.collect(), cols)
    assert_session_unchanged(outer)

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    res = con.execute(registry[outer].sql)
    assert sorted(cols) == sorted(d[0].lower() for d in res.description)
    assert got == _canon(res.fetchall(), [d[0].lower() for d in res.description]), inner


def test_sql_script_entry_leaves_scripting_conf(spark, sf_dir, registry):
    key = "spark.sql.scripting.enabled"
    before = (spark.conf.get(key), spark.conf.get(key, None))
    assert len(registry["sql_script_price_band_report"].fn(spark, sf_dir).collect()) == 3
    assert (spark.conf.get(key), spark.conf.get(key, None)) == before


def test_session_conf_restores_explicit_and_unset_keys(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with session_conf(spark, key, "3"):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == prev

    unset_key = "spark.sql.scripting.enabled"  # the session never sets it
    assert spark.conf.get(unset_key, None) is None
    default = spark.conf.get(unset_key)
    with session_conf(spark, unset_key, "false"):
        assert spark.conf.get(unset_key) == "false"
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(unset_key) == default


def test_drain_stream_raises_on_timeout_and_stops(spark, tmp_path):
    def slow(batch_df, batch_id):
        time.sleep(5)

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    q = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.foreachBatch(slow)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(TimeoutError, match="slow_entry: availableNow stream did not drain"):
        drain_stream(q, "slow_entry", timeout_s=1)
    assert spark.streams.active == []
