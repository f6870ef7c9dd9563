"""`local_frame`: driver-held rows go back to Spark as an Arrow
`LocalRelation` — same values as the list path, no Spark job to read."""

import datetime
import decimal
import struct

import pyarrow as pa
import pytest

from sparkml_som_spark.operators.registry import materialize_small
from sparkml_som_spark.session import local_frame

SCHEMA = (
    "l long, i int, d double, b boolean, s string, dt date, ts timestamp, "
    "dec decimal(12,3), arr array<double>"
)
ROWS = [
    (
        1,
        2,
        float("nan"),
        True,
        "héllo ☃ 日本",
        datetime.date(2020, 1, 2),
        datetime.datetime(2021, 3, 4, 5, 6, 7, 891011),
        decimal.Decimal("12.345"),
        [1.0, -0.0, float("nan")],
    ),
    (
        -(2**63),
        -(2**31),
        -0.0,
        False,
        "",
        datetime.date(1969, 12, 31),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 1),
        decimal.Decimal("-0.001"),
        [],
    ),
    (
        2**63 - 1,
        2**31 - 1,
        float("inf"),
        True,
        "x",
        datetime.date(9999, 12, 31),
        datetime.datetime(2021, 7, 4, 5, 6, 7, tzinfo=datetime.timezone.utc),
        decimal.Decimal("999999999.999"),
        [float("inf"), float("-inf")],
    ),
    (0, 0, float("-inf"), None, None, None, None, None, [None, 2.5]),
    (None, None, None, None, None, None, None, None, None),
]


def _canon(v):
    """Value with its type; floats by their IEEE bits (NaN payload, -0.0)."""
    if isinstance(v, float):
        return ("float", struct.pack("<d", v))
    if isinstance(v, list):
        return ("list", tuple(_canon(x) for x in v))
    return (type(v).__name__, v)


def _rows(df):
    return [tuple(_canon(v) for v in r) for r in df.collect()]


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("n", [len(ROWS), 0])
def test_round_trip_bit_equal_to_list_path(spark, n):
    got = local_frame(spark, ROWS[:n], SCHEMA)
    want = spark.createDataFrame(ROWS[:n], SCHEMA)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    # the timestamps, to the microsecond, as Spark stores them
    q = "unix_micros(ts) AS us"
    assert got.selectExpr(q).collect() == want.selectExpr(q).collect()


def test_arrow_table_input_keeps_schema(spark):
    want = spark.createDataFrame(ROWS, SCHEMA)
    got = local_frame(spark, want.toArrow(), want.schema)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_plans_as_local_relation_and_reads_with_no_job(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    plan = _optimized(df)
    assert plan.startswith("LocalRelation"), plan
    before = _jobs(spark)
    assert len(df.collect()) == len(ROWS)
    assert _jobs(spark) == before


def test_value_arrow_cannot_carry_raises(spark):
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [(2**31,)], "i int")
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [("not a number",)], "d double")


def test_materialize_small_ships_at_most_cap_plus_one(spark, monkeypatch):
    big = spark.range(1000)
    cls = type(big)
    shipped = []
    to_arrow = cls.toArrow

    def recording(self):
        t = to_arrow(self)
        shipped.append(t.num_rows)
        return t

    monkeypatch.setattr(cls, "toArrow", recording)
    with pytest.raises(ValueError, match="exceeds the 10-row bound"):
        materialize_small(big, max_rows=10)
    assert shipped == [11]
    out = materialize_small(big.where("id < 10"), max_rows=10)
    assert shipped == [11, 10]
    assert sorted(r.id for r in out.collect()) == list(range(10))


def test_materialize_small_keeps_timestamps_and_is_local(spark):
    src = spark.createDataFrame(ROWS, SCHEMA).selectExpr("*", "ts + INTERVAL 1 DAY AS ts2")
    out = materialize_small(src)
    assert out.schema == src.schema
    assert _optimized(out).startswith("LocalRelation")
    q = ["unix_micros(ts) AS a", "unix_micros(ts2) AS b"]
    assert out.selectExpr(*q).collect() == src.selectExpr(*q).collect()
    want = _rows(src)
    before = _jobs(spark)
    assert _rows(out) == want
    assert _jobs(spark) == before
