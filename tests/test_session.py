"""Session-factory tests: the local-mode heap default (pure, no Spark)
and the Python workers' import path from a foreign working directory
(a separate driver process)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from financial_data_stream_processing_engine_spark import session

REPO = Path(__file__).resolve().parent.parent


def test_default_driver_mem_parses_local_masters(monkeypatch):
    # 64 detected CPUs and 1 TiB of RAM, so neither the fallback nor the
    # quarter-of-RAM cap hides a mis-parsed slot count
    monkeypatch.setattr(session.os, "cpu_count", lambda: 64)
    monkeypatch.setattr(
        session.os,
        "sysconf",
        lambda name: 4096 if name == "SC_PAGE_SIZE" else (1 << 40) // 4096,
    )
    assert session._default_driver_mem("local[4]") == "4096m"
    # local[N,F]: F is the task-retry count, not a slot count
    assert session._default_driver_mem("local[4,2]") == "4096m"
    assert session._default_driver_mem("local[1,3]") == "1024m"
    assert session._default_driver_mem("local[*]") == f"{64 * 256}m"
    assert session._default_driver_mem("local") == f"{64 * 256}m"


_FOREIGN_CWD_MA = """
import datetime as dt
import sys

sys.path.insert(0, {repo!r})
from financial_data_stream_processing_engine_spark.session import get_spark
from financial_data_stream_processing_engine_spark.streaming.stateful import (
    streaming_moving_average,
)

schema = "id string, symbol string, price double, volume long, ts timestamp, source string"
spark = get_spark("foreign-cwd", master="local[1]")
spark.conf.set("spark.sql.shuffle.partitions", "1")
rows = [
    (f"t{{i}}", "A", float(i), 1, dt.datetime(2024, 1, 1, 0, 0, i), "s")
    for i in range(6)
]
spark.createDataFrame(rows, schema).write.parquet("ticks")
ma = streaming_moving_average(spark.readStream.schema(schema).parquet("ticks"), n=3)
q = ma.writeStream.format("memory").queryName("ma").start()
q.processAllAvailable()
q.stop()
print("MA", sorted(r.moving_average for r in spark.table("ma").collect()
                   if r.moving_average is not None))

# media fixture builders pickle by reference too
import hashlib
import os

from pyspark.sql import functions as F

from financial_data_stream_processing_engine_spark.operators import multimodal
from financial_data_stream_processing_engine_spark.plans import media_fixtures

docs = spark.range(4).withColumnRenamed("id", "doc_id")
media = multimodal.as_media(
    media_fixtures.payload_frame(docs, media_fixtures.png_4x4), id_col="doc_id",
    payload=F.col("payload"), kind="image", mime="image/png",
)
got = {{r.media_id: r.mean_luma
        for r in multimodal.decode_image_features(media, fake=False).collect()}}
want = {{i: sum(hashlib.md5(str(i).encode()).digest()) / 16.0 / 255.0 for i in range(4)}}
print("LUMA", got == want)

# the Python DataSource reader and writer pickle by reference too
from financial_data_stream_processing_engine_spark.sources import tick_datasource

tick_datasource.register(spark)
tick_datasource.register_sink(spark)
ticks = spark.read.format("ticks").option("rows", "10").option("partitions", "2").load()
print("TICKS", sorted((r.id, r.symbol, r.volume) for r in ticks.collect()))
ticks.select("id", "price").write.format("jsonl_dir").option("path", "jsonl").mode("append").save()
print("JSONL", sorted(r.id for r in spark.read.schema("id bigint, price double").json("jsonl").collect()),
      os.path.exists(os.path.join("jsonl", "_SUCCESS")))

# an engine-owned AlphaVantage spool
import time

import pyarrow.parquet as pq

from financial_data_stream_processing_engine_spark.engine import LiveEngine
from financial_data_stream_processing_engine_spark.sources.alpha_vantage import (
    AlphaVantageSource,
)

quote = {{"01. symbol": "IBM", "05. price": "1.0", "06. volume": "1"}}
engine = LiveEngine(
    spark,
    av_source=AlphaVantageSource("test", fetch=lambda url, t: {{"Global Quote": quote}}),
    ws_rows_per_second=0,
    csv_rows_per_second=0,
    keep_recent=0,
)
engine.start()
spool = engine._spool_dir
deadline = time.monotonic() + 60
while not [f for f in os.listdir(spool) if not f.startswith(".")]:
    assert time.monotonic() < deadline, "the poller wrote no spool file"
    time.sleep(0.1)
engine.stop()
print("ARRIVAL", pq.read_table(spool).schema.field("arrival").type)
print("SPOOL", spool)
spark.stop()
"""


def test_stateful_query_runs_from_foreign_cwd(tmp_path):
    """A driver that imports the package through ``sys.path`` (no
    ``PYTHONPATH``) from a working directory outside the repository
    must still run a stateful query, decode a media fixture, and read
    and write through the package's Python DataSources: the update
    function, the fixture builders, the codecs and the DataSource
    classes are pickled by reference to the package, so the Python
    workers have to be able to import it.  The same driver starts and
    stops a ``LiveEngine`` without a ``spool_dir``: the spool it
    creates holds the poll instant as a UTC timestamp and is gone once
    the driver exits."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = textwrap.dedent(_FOREIGN_CWD_MA.format(repo=str(REPO)))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "MA [1.0, 2.0, 3.0, 4.0]" in proc.stdout
    assert "LUMA True" in proc.stdout
    symbols = ("AAPL", "MSFT", "GOOG", "AMZN", "NVDA")
    want_ticks = [(i, symbols[i % 5], (i * 104729) % 10000) for i in range(10)]
    assert f"TICKS {want_ticks}" in proc.stdout
    assert f"JSONL {list(range(10))} True" in proc.stdout
    assert "ARRIVAL timestamp[us, tz=UTC]" in proc.stdout
    (spool,) = [ln[len("SPOOL ") :] for ln in proc.stdout.splitlines() if ln.startswith("SPOOL ")]
    assert not os.path.exists(spool)
