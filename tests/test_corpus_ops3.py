"""corpus_ops3 mechanics: distributed global ranking balance, mixture
weight algebra, negative-pair bijection."""

import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.corpus_ops3 import (
    _N_SHARDS,
    corpus_mixture_weights,
    negative_sampling_pairs,
    shard_assignment_balanced,
)
from sparkml_som_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_shard_assignment_balanced_and_complete(spark):
    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    total_chars = docs.agg(F.sum("n_chars")).first()[0]

    out = shard_assignment_balanced(spark, SF).collect()
    assert len(out) == _N_SHARDS
    # completeness: every doc assigned exactly once
    assert sum(r["n_docs"] for r in out) == n_docs
    assert sum(r["sum_chars"] for r in out) == total_chars
    # balance: round-robin by length rank keeps shard sizes within a few
    # of each other in docs, and within ~2 max-doc-lengths in chars
    n_per = [r["n_docs"] for r in out]
    assert max(n_per) - min(n_per) <= 1
    max_len = docs.agg(F.max("n_chars")).first()[0]
    sums = [r["sum_chars"] for r in out]
    assert max(sums) - min(sums) <= 2 * max_len


def test_mixture_weights_flatten_to_uniform(spark):
    rows = corpus_mixture_weights(spark, SF).collect()
    n_groups = len(rows)
    # shares sum to 1; weight * share == 1/n_groups for every domain
    assert sum(r["token_share"] for r in rows) == pytest.approx(1.0, abs=1e-3)
    for r in rows:
        assert r["sample_weight"] * r["token_share"] == pytest.approx(
            1.0 / n_groups, rel=5e-3
        )


def test_negative_pairs_bijection(spark):
    n = load_table(spark, SF, "embeddings").count()
    rows = negative_sampling_pairs(spark, SF).collect()
    # the stride map is a bijection: every vector appears exactly once
    # as anchor, so pair counts sum to N and cosine stays in [-1, 1]
    assert sum(r["n_pairs"] for r in rows) == n
    for r in rows:
        assert -1.0001 <= r["avg_cos"] <= 1.0001


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=5),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distributed_global_rank_matches_window(spark, lengths, n_parts):
    """The two-phase rank must equal row_number() OVER (ORDER BY ...) for
    any data and any partition fan-out — duplicates broken by the id
    tiebreaker, so the order is total."""
    from pyspark.sql import Window

    from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank
    from sparkml_som_spark.operators.registry import query_scope

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(lengths)], "id long, v long"
    )
    with query_scope(spark):  # 10 hypothesis examples x persist would leak cache
        got = {
            r["id"]: r["rank"]
            for r in distributed_global_rank(
                df, [F.col("v").desc(), F.col("id").asc()], n_parts=n_parts
            ).collect()
        }
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = {
        r["id"]: r["rank"] - 1
        for r in df.withColumn("rank", F.row_number().over(w)).collect()
    }
    assert got == want


def test_distributed_global_rank_single_range_shuffle(spark):
    """The partitioned+sorted intermediate must be pinned before the
    count pass: the assign pass reads the SAME cached relation
    (InMemoryTableScan over the one persisted child — one
    RangePartitioner instance for both passes), which is what
    guarantees the broadcast offsets match the partitions mapInPandas
    actually sees.  An unpinned plan would re-plan the range exchange
    per action and could draw different sampled bounds."""
    from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank
    from sparkml_som_spark.operators.registry import query_scope

    df = spark.createDataFrame([(i, i % 7) for i in range(100)], "id long, v long")
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    with query_scope(spark):
        out = distributed_global_rank(
            df, [F.col("v").asc(), F.col("id").asc()], n_parts=4
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        # the count pass filled exactly one cached relation, and the
        # assign pass reads that same relation instead of a second one
        pinned = set(rdds().keySet()) - before
        assert len(pinned) == 1, pinned
        out.collect()
        assert set(rdds().keySet()) - before == pinned
    assert set(rdds().keySet()) == before


def test_rank_total_out_matches_count(spark, tables):
    from pyspark.sql import functions as F

    from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank
    from sparkml_som_spark.operators.registry import query_scope

    df = tables["documents"].select("doc_id", "n_chars")
    total: list = []
    with query_scope(spark):
        ranked = distributed_global_rank(
            df, [F.col("n_chars").desc(), F.col("doc_id").asc()], total_out=total
        )
        n = ranked.count()
    assert total == [n]
