"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the config choices below are the
ones that matter on a real cluster too (AQE, Arrow, partition sizing),
so the same builder is used in tests, bench, and the driver contract.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkml-som-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
    - Arrow on: every pandas_udf / mapInPandas crossing is vectorized.
    - shuffle partitions sized to the local core count; on a real cluster
      AQE coalesces from a higher initial number, so this is a floor not
      a hand-tuned constant.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", n))

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
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(tempfile.gettempdir(), "sparkml_som_warehouse")
            ),
        )
    )
    # opt-in event log (perfbench/, tools/parse_eventlog.py): task-level
    # shuffle byte metrics are only readable from the event log with the
    # UI disabled
    _elog = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if _elog:
        os.makedirs(_elog, exist_ok=True)  # Spark requires the dir to exist
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", _elog
        )
    return builder.getOrCreate()
