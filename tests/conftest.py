import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sparkml_som_spark.session import get_spark

    spark = get_spark("sparkml-som-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from sparkml_som_spark.sources import load_tables

    return load_tables(spark, sf_dir)


# Session conf keys a registry entry must leave as it found them, both
# the effective and the explicit value.
WATCHED_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.scripting.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


def _session_state(spark):
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    rdds = {int(i) for i in ids.split(",") if i}
    return rdds, [(k, spark.conf.get(k), spark.conf.get(k, None)) for k in WATCHED_CONF]


@pytest.fixture
def assert_session_unchanged(spark):
    """``check(name)`` after an entry's result is collected: crosses the
    registry's scope boundary (which releases the entry's holdings) and
    asserts the persistent RDDs and the watched conf keys are as they
    were when the test started."""
    from sparkml_som_spark.operators.registry import query_scope

    def boundary():
        with query_scope(spark):
            pass

    boundary()  # release what an earlier test's last entry still holds
    before = _session_state(spark)

    def check(name):
        boundary()
        assert _session_state(spark) == before, name

    return check
