"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the config choices below are the
ones that matter on a real cluster too (AQE, Arrow, partition sizing),
so the same builder is used in tests, bench, and the driver contract.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType


def get_spark(app_name: str = "sparkml-som-spark", cores: int | str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
    - Arrow on: every pandas_udf / mapInPandas crossing is vectorized.
    - shuffle partitions: ``SPARK_GRAFT_SHUFFLE``, else the host's core
      count; on a real cluster AQE coalesces from a higher initial
      number, so this is a floor not a hand-tuned constant.
    - Python workers run under the engine's daemon,
      ``sparkml_som_spark.worker_daemon``: a task no longer re-reads every
      zip archive on the workers' path.  The directory that holds
      ``sparkml_som_spark`` goes on every worker's ``PYTHONPATH``
      (``spark.executorEnv.PYTHONPATH``), so the daemon and engine UDFs
      pickled by reference import from any cwd.
    - warehouse: ``SPARK_GRAFT_WAREHOUSE``, else a dir of this process's
      own (``default_warehouse``).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", os.cpu_count() or 8))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter pruning for large joins: the build side
        # pushes a bloom filter into the probe side's scan, cutting the
        # shuffled probe rows before the join — a pure win for the
        # fact-fact joins (orders x lineitem) at 100 TB
        # NOTE: runtimeFilter.semiJoinReduction hangs this Spark build on a
        # bare parquet count (optimizer loop) — verified by bisection; do
        # not enable it.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)),
        )
        # codec, SMJ preference, SHJ threshold: Spark defaults (OPTIMIZATION_r15.md §3/§3a)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet columns read as long (load_table converts
        # them); set here, not per read, so an inferred schema never depends
        # on which read came first
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Python workers fork from the engine's daemon, which spares each
        # task a re-read of every zip archive on the workers' path
        .config("spark.python.daemon.module", "sparkml_som_spark.worker_daemon")
        # Spark merges this into each worker's path, the daemon's too
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE") or default_warehouse())
    )
    # opt-in event log, read by perfbench/spans.py (`read_events`): task
    # metrics are only readable from the event log with the UI disabled.
    # One plain JSON-lines file per application; Spark 4's defaults
    # write a rolled, zstd-compressed log that reader cannot open
    _elog = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if _elog:
        os.makedirs(_elog, exist_ok=True)  # Spark requires the dir to exist
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", _elog)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return builder.getOrCreate()


@functools.cache
def default_warehouse() -> str:
    """This process's own warehouse dir, made on first use and removed at
    exit.  A dir shared between processes lets one process's managed
    table collide with, or be deleted under, another's."""
    path = tempfile.mkdtemp(prefix="sparkml_som_warehouse_")
    atexit.register(shutil.rmtree, path, True)
    return path


def local_frame(spark: SparkSession, data, schema: StructType | str) -> DataFrame:
    """Return driver-held rows (or a ``pyarrow.Table``) as a Spark DataFrame.

    The one way the engine turns driver data back into a frame.  The rows
    go to Spark as an Arrow table, which plans as a ``LocalRelation``:
    reading it starts no Spark job.  A list handed to ``createDataFrame``
    instead becomes a Python-RDD scan, and every read of it starts a
    Python-worker job (collecting one row on a 4-core host: ~0.3 s that
    way, ~0.03 s this way).

    ``data`` is an iterable of tuples (positional, in ``schema`` order) or
    a ``pyarrow.Table`` whose columns are in ``schema`` order.  ``schema``
    is a ``StructType`` or a DDL string.  There is no fallback path: a
    value Arrow cannot carry in its column type raises.  Top-level
    ``timestamp`` values go through Spark's own ``toInternal``, so a
    naive ``datetime`` means local time, as it does on the list path.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        rows = list(data)
        cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
        arrays = [
            _arrow_column(c, f.dataType, a.type)
            for c, f, a in zip(cols, schema.fields, arrow_schema)
        ]
        data = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(data, schema)


def _arrow_column(values, dtype: DataType, arrow_type):
    if isinstance(dtype, TimestampType):
        # pyarrow reads a naive datetime as UTC and drops fixed offsets;
        # Spark's encoder gives the list path's epoch microseconds
        return pa.array([dtype.toInternal(v) for v in values], pa.int64()).cast(arrow_type)
    return pa.array(values, arrow_type)
