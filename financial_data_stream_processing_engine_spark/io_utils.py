"""Loading the driver test tables.

Parquet is the fixture format; reads go through ``spark.read.parquet``
so Catalyst gets vectorized scans, predicate pushdown and column
pruning for free.  ``events.ts`` is physically timestamp[ns]; Spark
reads it as TIMESTAMP_NTZ(ns→µs) — we normalize to the session-TZ
TIMESTAMP type explicitly so every downstream operator (and the DuckDB
oracle comparison) sees microsecond-precision timestamps.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` that cleans up at interpreter exit.

    Catalog entries materialize fixture feeds / streaming checkpoints /
    index snapshots in scratch directories that must outlive the
    entry's RETURN (the driver collects the returned DataFrame lazily,
    so file-backed plans still read the directory afterwards) — but
    repeated bench/correctness runs were accumulating them in /tmp
    forever.  Deferring removal to ``atexit`` keeps the read-after-
    return contract while bounding the garbage to one process's worth;
    ``ignore_errors`` because cleanup is best-effort by design (a
    vanished tree at exit is success, not a failure).

    Limit: ``atexit`` handlers do not run when the process dies on a
    signal (SIGKILL, or a SIGTERM nothing handles), so such a process
    leaves its scratch directories — the live engine's ``av_spool_*``
    included — in the temp dir.  Nothing sweeps them on a later start:
    a shared temp dir can hold directories of processes in another PID
    namespace, so "its owner is dead" cannot be proven from here."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


#: columns stored as parquet TIMESTAMP(NANOS) (read as int64 via
#: spark.sql.legacy.parquet.nanosAsLong) that must become µs TIMESTAMPs.
_NANOS_COLUMNS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table from ``{sf_dir}/{name}.parquet``."""
    # Pin the session timezone: parquet instants render through the
    # session TZ at collect time, and the DuckDB oracle's timestamps
    # are UTC-naive.  A caller-provided session (the driver harness)
    # may carry the JVM default zone — runtime-set, like nanosAsLong.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _NANOS_COLUMNS:
        # Self-sufficient even on a caller-provided SparkSession (the
        # driver harness builds its own): without this runtime conf,
        # Spark refuses parquet TIMESTAMP(NANOS) outright.
        #
        # CAVEAT (session-wide, sticky): once set, ANY later parquet
        # read in this session silently maps TIMESTAMP(NANOS) columns
        # to bigint — which is why every engine read path routes
        # through load_table, where nanos columns are declared in
        # _NANOS_COLUMNS and converted back below.  A new table with a
        # nanos column MUST be added to that map; reading it via a
        # bare spark.read.parquet would yield epoch-nanos longs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Normalize timestamp physical types to Spark TIMESTAMP (µs, session TZ)
    # so oracle comparisons and window semantics are stable.
    for col in _NANOS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # ns → µs truncation, integer DIV (doubles lose precision at 1e18)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    for field in df.schema.fields:
        if field.dataType.typeName().startswith("timestamp"):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df
