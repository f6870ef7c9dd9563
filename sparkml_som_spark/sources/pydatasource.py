"""Custom Python Data Source (Spark 4 DataSource API): a deterministic
synthetic-documents generator.

This is the engine's demonstration of the pluggable-source surface —
the same API a user would implement to read a bespoke corpus format
(tar-of-jsonl shards, a proprietary doc store) straight into the
pipeline.  The generator is a pure function of the row id, so:

- the read parallelizes over ``partitions`` InputPartitions with no
  coordination (each partition derives its own [lo, hi) id range);
- the result is independent of the partition count (tested), which is
  the correctness contract any sharded source must satisfy;
- a DuckDB oracle can recompute the identical rows from ``range(n)``,
  putting a CUSTOM SOURCE under the value-hash gate.

At 100 TB the same shape holds: partitions() returns one entry per
shard/file/split, read() streams a shard; Spark schedules the splits
like any other scan.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def _doc_row(d: int) -> tuple:
    # deterministic formulas; mirrored in the DuckDB oracle
    return (d, f"src{d % 20}", 20 + (d * 7) % 180)


class SynthDocsDataSource(DataSource):
    """``spark.read.format("synthdocs").option("n", N).load()``."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return "doc_id bigint, source string, n_tokens int"

    def reader(self, schema) -> "SynthDocsReader":
        return SynthDocsReader(self.options)

    def streamReader(self, schema) -> "SynthDocsStreamReader":
        return SynthDocsStreamReader(self.options)


class SynthDocsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("partitions", 8))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        i = partition.value
        lo = self.n * i // self.parts
        hi = self.n * (i + 1) // self.parts
        for d in range(lo, hi):
            yield _doc_row(d)


def ensure_registered(spark) -> None:
    """Register the source on this session.  Registration is itself
    idempotent (re-registering replaces the entry), so no caching — a
    seen-set keyed by id(spark) would go stale when CPython recycles a
    garbage-collected session's address and silently skip the real
    registration."""
    spark.dataSource.register(SynthDocsDataSource)


# ---------------------------------------------------------------------------
# Streaming half of the same source (Spark 4 DataSourceStreamReader):
# the API a user implements to stream a bespoke feed (queue poller,
# object-store listing, change feed) through Structured Streaming.  The
# generator exposes the SAME deterministic rows as the batch reader, as
# one offset range [0, n): micro-batch planning walks the offset log,
# partitions(start, end) fans the range out, and the drained sink is
# byte-identical to the batch read — so a STREAMING custom source sits
# under the full value-hash oracle too.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


class SynthDocsStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("partitions", 8))

    def initialOffset(self):
        return {"offset": 0}

    def latestOffset(self):
        # the feed's head: everything is available immediately; a real
        # source would poll its upstream here and advance incrementally
        return {"offset": self.n}

    def partitions(self, start, end):
        lo, hi = start["offset"], end["offset"]
        span = hi - lo
        if span <= 0:
            return [RangePartition(lo, lo)]
        bounds = [lo + span * i // self.parts for i in range(self.parts + 1)]
        return [RangePartition(a, b) for a, b in zip(bounds, bounds[1:]) if b > a]

    def read(self, partition):
        for d in range(partition.lo, partition.hi):
            yield _doc_row(d)

    def commit(self, end):
        pass  # nothing to ack for a deterministic generator


class RangePartition(InputPartition):
    def __init__(self, lo, hi):
        self.lo, self.hi = lo, hi


# ---------------------------------------------------------------------------
# Writer half of the custom-source surface (Spark 4 DataSourceWriter):
# the API a user implements to WRITE a bespoke format.  Each task
# serializes its partition to a private jsonl file and returns the
# path in its commit message; only paths the driver receives in
# commit() enter the manifest, so an abandoned task attempt's file is
# never read back — the write side of the exactly-once contract,
# demonstrated end-to-end (write -> manifest -> manifest-driven read)
# under the value-hash oracle.
# ---------------------------------------------------------------------------

import json as _json
import os as _os
import uuid as _uuid
from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@dataclass
class JsonlCommit(WriterCommitMessage):
    path: str
    n_rows: int


def _write_jsonl(root: str, fields: list[str], iterator) -> JsonlCommit:
    """One task's rows to a private per-attempt file under ``root``: a
    retried task writes a NEW uuid, and only the attempt whose message
    reaches commit() is manifest-listed."""
    _os.makedirs(root, exist_ok=True)
    path = _os.path.join(root, f"part-{_uuid.uuid4().hex}.jsonl")
    n = 0
    with open(path, "w") as f:
        for row in iterator:
            f.write(_json.dumps(dict(zip(fields, row))) + "\n")
            n += 1
    return JsonlCommit(path=path, n_rows=n)


def _remove_written(messages) -> None:
    """abort(): delete the files the tasks that did finish wrote (a
    failed task's message is None)."""
    for m in messages:
        if m is None:
            continue
        try:
            _os.remove(m.path)
        except OSError:
            pass


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonlsink").option("path", dir).save()``."""

    @classmethod
    def name(cls) -> str:
        return "jsonlsink"

    def writer(self, schema, overwrite: bool) -> "JsonlSinkWriter":
        return JsonlSinkWriter(self.options, schema)


class JsonlSinkWriter(DataSourceWriter):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.fields = [f.name for f in schema.fields]

    def write(self, iterator) -> JsonlCommit:
        return _write_jsonl(self.path, self.fields, iterator)

    def commit(self, messages) -> None:
        manifest = {
            "files": sorted(m.path for m in messages),
            "n_rows": sum(m.n_rows for m in messages),
        }
        with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            _json.dump(manifest, f)

    def abort(self, messages) -> None:
        _remove_written(messages)


def ensure_sink_registered(spark) -> None:
    spark.dataSource.register(JsonlSinkDataSource)


# ---------------------------------------------------------------------------
# Streaming writer half (Spark 4 DataSourceStreamWriter): the sink a
# user implements to stream into a bespoke system.  Same task-commit
# protocol as the batch writer, but commit() runs once per micro-batch
# with the batchId — the per-batch manifest is what makes replayed
# batches idempotent (a re-run batch REPLACES its manifest instead of
# appending twice).
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamWriter


class JsonlStreamSinkDataSource(DataSource):
    """``df.writeStream.format("jsonlstreamsink").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:
        return "jsonlstreamsink"

    def streamWriter(self, schema, overwrite: bool) -> "JsonlStreamWriter":
        return JsonlStreamWriter(self.options, schema)


class JsonlStreamWriter(DataSourceStreamWriter):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.fields = [f.name for f in schema.fields]

    def write(self, iterator) -> JsonlCommit:
        return _write_jsonl(self.path, self.fields, iterator)

    def commit(self, messages, batchId: int) -> None:
        manifest = {
            "batch_id": batchId,
            "files": sorted(m.path for m in messages if m is not None),
            "n_rows": sum(m.n_rows for m in messages if m is not None),
        }
        # one manifest PER BATCH, keyed by batchId: a replayed batch
        # overwrites its own manifest -> exactly-once read-back
        with open(_os.path.join(self.path, f"_MANIFEST-{batchId}.json"), "w") as f:
            _json.dump(manifest, f)

    def abort(self, messages, batchId: int) -> None:
        _remove_written(messages)


def ensure_stream_sink_registered(spark) -> None:
    spark.dataSource.register(JsonlStreamSinkDataSource)
