"""SparkSession factory with engine defaults.

Scale posture: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow on (vectorized Python interop), UTC session
timezone (oracle parity with DuckDB's UTC-naive timestamps).  On a real
cluster the same builder is used minus ``master``; shuffle partitions
are left to AQE there.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

from financial_data_stream_processing_engine_spark.config import DEFAULT_CONFIG, EngineConfig


def _default_driver_mem(master: str) -> str:
    """Local-mode JVM heap default: ~256 MiB per task slot (guide §5),
    floored at PySpark's 1 GiB default, capped at a quarter of detected
    physical memory (ADVICE r17 #1).  Non-local masters keep the 1 GiB
    default — there the submit-time flags own sizing and this builder
    conf is inert once a JVM exists."""
    if not master.startswith("local"):
        return "1g"
    slots = os.cpu_count() or 1
    if "[" in master:
        # local[N] or local[N,F] (F = task retries): slots are N
        n = master[master.index("[") + 1 : master.rindex("]")].split(",")[0]
        if n != "*":
            try:
                slots = max(1, int(n))
            except ValueError:
                pass
    # Two heap populations: per-task execution (slot-scaled, 256 MiB/
    # slot) and session-lifetime storage — localCheckpoint blocks,
    # broadcasts, code cache — which is DATA-sized, not slot-sized, so
    # a multi-slot local gets a 4 GiB floor (the r14 GC pathologies
    # were storage-pressure, and a low-core bench run hosts the same
    # blocks as the 32-core run).  Single-slot locals (unit tests)
    # keep the 1 GiB PySpark default.
    mem_mib = max(1024 if slots == 1 else 4096, slots * 256)
    try:
        phys_mib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) // (
            1024 * 1024
        )
        mem_mib = min(mem_mib, max(1024, phys_mib // 4))
    except (ValueError, OSError):  # pragma: no cover - exotic platforms
        pass
    return f"{mem_mib}m"


def _state_partitions(spark: SparkSession) -> int:
    """State partitions of a stateful streaming query: one per task
    slot, ``sparkContext.defaultParallelism`` — N for ``local[N]``, the
    total executor cores on a cluster.  Every micro-batch loads, updates
    and commits each state partition once and makes one Python round
    trip per partition, so above the slot count the extra partitions
    only queue behind the busy slots.  Spark records the count in the
    query's checkpoint (offset log) at its first start and reuses the
    recorded count on every restart, so this rule sizes new checkpoints
    only."""
    return spark.sparkContext.defaultParallelism


def _ship_package_path(spark: SparkSession) -> None:
    """Put the package's parent directory on the Python workers'
    ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, merged with any
    value already set).  The stateful update functions are pickled by
    reference to this package, so a worker that cannot import it fails
    with ``ModuleNotFoundError`` when the driver imported the package
    through ``sys.path`` from another working directory.  The context
    reads ``spark.executorEnv.*`` into ``environment`` once, at start,
    and ships that dict with every Python function, so the merge goes
    there."""
    root = str(Path(__file__).resolve().parent.parent)
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in parts:
        env["PYTHONPATH"] = os.pathsep.join([*parts, root])


def get_spark(
    app_name: str = "financial_data_stream_processing_engine_spark",
    config: EngineConfig = DEFAULT_CONFIG,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
        if master is None:
            cpus = os.environ.get("SPARK_GRAFT_CPUS")
            master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        builder.master(master)
        # Size the local-mode JVM heap to the task slots (guide §5): the
        # 1 GiB PySpark default serves local[32]'s 32 concurrent tasks
        # plus every localCheckpoint/broadcast block through one heap —
        # measured as progressive GC-pressure inflation across a long
        # multi-query session (entries late in a bench run 1.5-2.5×
        # their solo time).  ~256 MiB/slot, DERIVED from the resolved
        # master (ADVICE r17 #1 — a fixed 8g oversized small-slot /
        # small-RAM shapes), floored at the 1 GiB PySpark default,
        # capped at a quarter of detected physical memory, and
        # env-overridable (SPARK_GRAFT_DRIVER_MEM) so other machine
        # shapes stay comparable.  On a real cluster the submit-time
        # sizing flags replace this (the setting is inert once a JVM
        # exists).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(master),
        )
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS),
        # which vanilla Spark refuses (PARQUET_TYPE_ILLEGAL).  Read nanos
        # as raw int64 and convert to µs TIMESTAMP in io_utils.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package_path(spark)
    return spark
