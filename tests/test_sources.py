"""Source/sink coverage: generic readers and writers round-trip."""

from pyspark.sql import functions as F

from sparkml_som_spark.sources import load_table, read_any, write_any

SF = "/root/testdata/sf0.001"


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    out = str(tmp_path / "orders_by_status")
    write_any(orders, out, fmt="parquet", partition_by=["o_orderstatus"])
    back = read_any(spark, out)
    assert back.count() == orders.count()
    # partition pruning: filtering on the partition column must prune files
    pruned = back.where(F.col("o_orderstatus") == "F")
    assert pruned.count() == orders.where(F.col("o_orderstatus") == "F").count()


def test_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    out = str(tmp_path / "nation_csv")
    write_any(nation, out, fmt="csv")
    back = read_any(spark, out, fmt="csv")
    assert back.count() == 25
    assert {r["n_name"] for r in back.collect()} == {
        r["n_name"] for r in nation.collect()
    }


def test_json_roundtrip(spark, tmp_path):
    region = load_table(spark, SF, "region")
    out = str(tmp_path / "region_json")
    write_any(region, out, fmt="json")
    back = read_any(spark, out, fmt="json")
    assert back.count() == 5


def test_orc_roundtrip(spark, tmp_path):
    supplier = load_table(spark, SF, "supplier")
    out = str(tmp_path / "supplier_orc")
    write_any(supplier, out, fmt="orc")
    back = read_any(spark, out, fmt="orc")
    assert back.count() == supplier.count()
    assert back.schema == supplier.schema


def test_read_any_infers_format(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    out = str(tmp_path / "emb.parquet")
    write_any(emb, out)
    assert read_any(spark, out).count() == emb.count()


def test_python_datasource_partition_independence(spark):
    """The custom DataSource must yield identical rows for ANY partition
    count — the correctness contract of a sharded source (each split
    derives its range independently; no overlap, no gaps)."""
    from sparkml_som_spark.sources.pydatasource import ensure_registered

    ensure_registered(spark)

    def rows(parts):
        df = (
            spark.read.format("synthdocs")
            .option("n", 997)  # prime: uneven split boundaries
            .option("partitions", parts)
            .load()
        )
        assert df.rdd.getNumPartitions() == parts
        return sorted(tuple(r) for r in df.collect())

    a, b, c = rows(1), rows(4), rows(13)
    assert a == b == c and len(a) == 997


def test_python_stream_datasource_matches_batch(spark):
    """The streaming reader must drain the exact rows the batch reader
    yields, for any partition fan-out — the replayable-offset contract
    of a custom streaming connector."""
    from pyspark.sql import functions as F

    from sparkml_som_spark.sources.pydatasource import ensure_registered

    ensure_registered(spark)
    want = (
        spark.read.format("synthdocs")
        .option("n", 500).option("partitions", 4).load()
        .agg(F.count("*"), F.sum("n_tokens"), F.sum("doc_id")).first()
    )
    for parts in (1, 3):
        stream = (
            spark.readStream.format("synthdocs")
            .option("n", 500).option("partitions", parts).load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(f"t_pyds_{parts}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        got = spark.table(f"t_pyds_{parts}").agg(
            F.count("*"), F.sum("n_tokens"), F.sum("doc_id")
        ).first()
        assert tuple(got) == tuple(want), parts


def _next_job_id(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_second_load_table_starts_no_job(spark):
    first = load_table(spark, SF, "events")
    before = _next_job_id(spark)
    again = load_table(spark, SF, "events")
    assert _next_job_id(spark) == before
    assert again.sameSemantics(first)


def test_read_parquet_reuses_schema_until_the_path_changes(spark, tmp_path):
    from sparkml_som_spark.sources import read_parquet

    path = str(tmp_path / "t")
    write_any(spark.range(6).withColumn("k", F.col("id") % 2), path, partition_by=["k"])
    first = read_parquet(spark, path)
    before = _next_job_id(spark)
    again = read_parquet(spark, path)
    assert _next_job_id(spark) == before
    assert again.sameSemantics(first)
    assert sorted(again.collect()) == sorted(first.collect())

    # a rewrite with another schema is read with the new one
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(path)
    back = read_parquet(spark, path)
    assert back.columns == ["id", "twice"]
    assert sorted(r["twice"] for r in back.collect()) == [0, 2, 4]
