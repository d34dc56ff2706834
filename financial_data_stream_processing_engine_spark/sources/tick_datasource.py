"""Custom Python DataSource (Spark 4 DataSource API): synthetic ticks.

The modern, fully-supported way to add a source to Spark from Python —
``spark.dataSource.register(...)`` then
``spark.read.format("ticks").option(...).load()``.  Demonstrates the
extension surface the reference filled with its adapter ABC
(financial_engine.py:113-122), Spark-4-native:

* the source declares a schema (no inference);
* ``partitions()`` splits the generation range so the read is
  PARALLEL — each executor generates its slice independently (this is
  what makes a custom source scale: no driver-side materialization);
* rows are a pure function of the global index, so the exact output is
  reproducible and SQL-expressible (the catalog oracle recomputes it
  with generate_series).

Formula per global index i:
    symbol = SYMBOLS[i mod 5]
    price  = ((i * 7919) mod 100000) / 100.0
    volume = (i * 104729) mod 10000
    ts     = 2024-01-01 00:00:00 + i seconds

The classes are module-level, so they pickle by reference: the Python
workers import this package, which ``session.get_spark`` puts on their
``PYTHONPATH``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

TICK_DS_SCHEMA = "id bigint, symbol string, price double, volume bigint, ts timestamp"

SYMBOLS = ("AAPL", "MSFT", "GOOG", "AMZN", "NVDA")
BASE_TS = dt.datetime(2024, 1, 1)


class RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class TickDataSourceReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("rows", 1000))
        self.n_partitions = int(options.get("partitions", 4))

    def partitions(self):
        step = max(1, self.n_rows // self.n_partitions)
        parts = []
        start = 0
        while start < self.n_rows:
            parts.append(RangePartition(start, min(start + step, self.n_rows)))
            start += step
        return parts

    def read(self, partition: RangePartition):
        for i in range(partition.start, partition.end):
            yield (
                i,
                SYMBOLS[i % len(SYMBOLS)],
                ((i * 7919) % 100000) / 100.0,
                (i * 104729) % 10000,
                BASE_TS + dt.timedelta(seconds=i),
            )


class TickDataSource(DataSource):
    """``spark.read.format("ticks").option("rows", N).load()``"""

    @classmethod
    def name(cls) -> str:
        return "ticks"

    def schema(self) -> str:
        return TICK_DS_SCHEMA

    def reader(self, schema) -> TickDataSourceReader:
        return TickDataSourceReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(TickDataSource)


class ShardCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str) -> None:
        self.tmp_path = tmp_path


class JsonlDirWriter(DataSourceWriter):
    def __init__(self, options: dict) -> None:
        self.path = options["path"]

    @staticmethod
    def _jsonable(v):
        # strict JSON: NaN/±Inf have no token — null, decided here
        # rather than left to the reader's parser
        if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            return None
        return v

    def write(self, rows):
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            for row in rows:
                d = {k: self._jsonable(v) for k, v in row.asDict().items()}
                f.write(json.dumps(d, default=str, allow_nan=False) + "\n")
        return ShardCommit(tmp)

    def commit(self, messages):
        for m in messages:
            os.rename(m.tmp_path, m.tmp_path[: -len(".tmp")])
        # per-file renames are atomic; the loop is not — publish
        # the dataset only once every shard is in place
        with open(os.path.join(self.path, "_SUCCESS"), "w", encoding="utf-8"):
            pass

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class JsonlDirDataSource(DataSource):
    """Custom Python DataSource WRITER (the sink half of the Spark 4
    DataSource API): ``df.write.format("jsonl_dir").option("path", d)
    .save()`` writes each partition as one JSON-lines shard from the
    executor, with task files made visible only on commit.

    Completes the extension surface next to the reader above — the
    reference's only "sink" contract is the observer ABC
    (financial_engine.py:85-110); this is the durable, parallel,
    all-or-nothing version:

    * each task writes ``part-<uuid>.jsonl.tmp`` and reports it in its
      WriterCommitMessage;
    * ``commit()`` (driver, once, after every task succeeded) renames
      the .tmp shards into place and then drops a ``_SUCCESS`` marker.
      Each rename is atomic but the loop as a whole is not — a driver
      crash mid-commit can leave a visible subset, which is why readers
      must key on ``_SUCCESS`` (the same contract Hadoop committers
      publish);
    * ``abort()`` removes the orphaned .tmp files.

    Non-finite doubles (NaN/±Inf) are serialized as JSON ``null`` —
    ``json.dumps`` would otherwise emit bare ``NaN``/``Infinity``
    tokens, which are invalid strict JSON and reader-dependent.
    """

    @classmethod
    def name(cls) -> str:
        return "jsonl_dir"

    def writer(self, schema, overwrite: bool) -> JsonlDirWriter:
        return JsonlDirWriter(self.options)


def register_sink(spark) -> None:
    spark.dataSource.register(JsonlDirDataSource)
