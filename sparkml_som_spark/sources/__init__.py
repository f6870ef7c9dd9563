"""Table registry for the driver's star schema + generic readers.

``load_tables(spark, sf_dir)`` returns a dict of DataFrames and also
registers each as a temp view so ``spark.sql`` works against the same
names DuckDB uses in the oracle harness.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from sparkml_som_spark.stamp import stat_stamp

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables — always broadcastable in joins.
DIM_TABLES = {"region", "nation", "supplier", "part", "customer"}


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.parquet has shipped with three different physical types for
        # `ts` across testdata generations: TIMESTAMP(NANOS) (read as long:
        # get_spark sets spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP(MICROS)
        # without a timezone (inferred as TIMESTAMP_NTZ by Spark 4), and plain
        # LTZ.  Normalize ALL of them to TIMESTAMP (LTZ) here, in the one place
        # every batch query, stream snapshot, and test fixture loads from:
        # withWatermark()/window() require LTZ, and the session timezone is
        # pinned UTC (session.py) so the cast never shifts wall-clock values.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos read as long; integer div — float would lose precision.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type and ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if spread:
        df = _spread(df)
    return df


# (paths, options) -> (the paths' stat stamps, the schema Spark inferred)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def read_parquet(spark: SparkSession, *paths: str, **options) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)``, inferring the
    schema at most once per process while the paths are unchanged.

    Spark reads parquet footers in a Spark job to infer a schema, on
    every read.  The first read here lets it; the schema is recorded
    with each path's stat stamp (mtime, size, inode), and later reads
    whose stamps all match pass it back with ``.schema``, which starts
    no job.  Spark still lists the files on every read, so files added
    in a partition subdirectory (which leaves the path's stamp alone)
    are still read; a rewritten path has a new stamp and is inferred
    again.  The record lasts as long as the process, like
    ``build_once``'s.  The conf keys that shape an inferred schema
    (``nanosAsLong`` among them) are fixed by ``get_spark``'s builder.
    A path that cannot be stat'ed (a URI, or missing) is never recorded."""
    key = (tuple(os.path.abspath(p) for p in paths), tuple(sorted(options.items())))
    try:
        stamps = tuple(stat_stamp(p) for p in paths)
    except OSError:
        return spark.read.options(**options).parquet(*paths)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamps:
        return spark.read.options(**options).schema(hit[1]).parquet(*paths)
    df = spark.read.options(**options).parquet(*paths)
    _SCHEMAS[key] = (stamps, df.schema)
    return df


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan has fewer splits than the
    cluster has cores.  Single-row-group parquet files arrive as ONE
    input split, which serializes every map-side stage (tokenization,
    hashing, vectorized UDFs) onto one core no matter the cluster size.
    Only use on tables feeding CPU-heavy per-row work: the repartition
    is a full shuffle of the table, which a well-split production layout
    (many files / row groups at 100 TB) would make redundant — the
    partition-count guard makes it a no-op exactly there."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None, register: bool = True
) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


# Repo-local scratch (never under the read-only testdata), .gitignore'd.
# Keyed by the sf dir's basename so runs at two scales in one process
# don't clobber each other.
_SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch"
)
_BUILT: set[str] = set()


def scratch_dir(sf_dir: str, name: str) -> str:
    """``.scratch/<basename(sf_dir)>/<name>`` under the repo root."""
    return os.path.join(_SCRATCH_ROOT, os.path.basename(os.path.normpath(sf_dir)), name)


def build_once(sf_dir: str, name: str, write: Callable[[str], None]) -> str:
    """Path of the scratch artifact ``name``, built by ``write(path)``
    into an emptied dir the first time this process asks for it.

    The one reuse rule for scratch artifacts: reuse lasts only as long
    as the process that built the artifact.  Nothing an earlier process
    left on disk is trusted (a crashed, half-written dir or one built
    from other data looks the same as a good one), and a ``write`` that
    raises is not recorded, so the next call builds again."""
    path = scratch_dir(sf_dir, name)
    if path not in _BUILT:
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        _BUILT.add(path)
    return path


def read_any(spark: SparkSession, path: str, fmt: str | None = None, **options) -> DataFrame:
    """Generic source dispatch: parquet/csv/json/orc/text by extension or fmt."""
    if fmt is None:
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        fmt = {"pq": "parquet", "jsonl": "json", "txt": "text"}.get(ext, ext or "parquet")
    if fmt == "parquet":
        return read_parquet(spark, path, **options)
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    return reader.format(fmt).options(**options).load(path)


def write_any(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
