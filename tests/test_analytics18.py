"""analytics18 mechanics: cogroup reconciliation vs a relational
replay, and per-batch manifest protocol for the streaming sink."""

import glob
import json
import os

from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _registry():
    return load_all()


def test_cogroup_matches_relational_join(spark):
    """The cogrouped-map rollup must equal the plain join + aggregate
    computed directly."""
    reg = _registry()
    got = {r["status"]: r for r in reg["cogroup_order_reconcile"].fn(spark, SF).collect()}
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    net = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("net")
    )
    want = {
        r["o_orderstatus"]: r
        for r in (
            o.join(net, o.o_orderkey == net.l_orderkey, "left")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.count(F.when(F.col("net").isNull(), 1)).alias("n_without_items"),
                F.round(F.sum("o_totalprice"), 4).alias("header_total"),
                F.round(F.sum(F.coalesce("net", F.lit(0.0))), 4).alias("items_net_total"),
            )
            .collect()
        )
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s]["n_orders"] == want[s]["n_orders"], s
        assert got[s]["n_without_items"] == want[s]["n_without_items"], s
        assert abs(got[s]["header_total"] - want[s]["header_total"]) < 1e-4, s
        assert abs(got[s]["items_net_total"] - want[s]["items_net_total"]) < 1e-2, s


def test_stream_writer_batch_manifests(spark):
    """After the streamed write, every batch has its own manifest, the
    manifests' row totals sum to the source slice, and all listed
    files exist."""
    reg = _registry()
    reg["source_python_stream_writer"].fn(spark, SF).collect()
    from sparkml_som_spark.sources import scratch_dir

    sink = scratch_dir(SF, "events_psw_sink")
    manifests = sorted(glob.glob(os.path.join(sink, "_MANIFEST-*.json")))
    assert len(manifests) >= 2, "expected multiple micro-batches"
    total = 0
    for mp in manifests:
        m = json.load(open(mp))
        assert all(os.path.isfile(p) for p in m["files"])
        total += m["n_rows"]
    want = (
        load_table(spark, SF, "events").where(F.col("event_id") <= 2000).count()
    )
    assert total == want
