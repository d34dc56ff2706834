"""Streaming sources.

The reference's three pollers (financial_engine.py:124-275) map to:

* ``rate_ticks``      — the mock-WebSocket feed (S2): Spark's rate
                        source drives synthetic raw messages
                        ``{instrument, value, vol, ts}`` at a
                        configurable rows/sec, and batch's
                        ``normalize_websocket`` (N1) shapes them into
                        the tick schema.
* ``csv_replay_ticks``— the cyclic CSV mock (S3): rate source joined to
                        the static CSV rows by ``value % num_rows`` in
                        file order — the reference's modulo replay
                        (financial_engine.py:246, :259) — and
                        normalized by batch's ``normalize_csv``.
* ``_sliced_feed``    — the catalog's file-replay feed: a table
                        shipped as three ``id % 3`` files, one
                        micro-batch each, into a ``foreachBatch`` body;
                        ``_ordered_sliced_feed`` adds the CDC gates'
                        slice-ordering contract on top.

A live AlphaVantage HTTP poller (S1) is a demo-only concern; its
normalization (``normalize_alpha_vantage``) is the part with query
semantics and is fully covered in batch.  SURVEY.md §7 explicitly
scopes live HTTP out of the correctness core.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from financial_data_stream_processing_engine_spark.io_utils import scratch_dir
from financial_data_stream_processing_engine_spark.sources.batch import (
    MOCK_CSV_COLUMNS,
    MOCK_CSV_ROWS,
    normalize_csv,
    normalize_websocket,
)


def rate_ticks(
    spark: SparkSession,
    rows_per_second: int = 10,
    symbols: tuple[str, ...] = ("EURUSD", "GBPUSD", "USDJPY"),
) -> DataFrame:
    """Synthetic tick stream in the unified schema (mock WS feed).

    Deterministic per (value) tick content — price/volume derive from
    hash(value) — so tests can assert exact results.  The rate counter
    ``value`` becomes the tick id ``WebSocketMock_<value>``; it is kept
    as ``__n``, because the message's price field is also ``value``.
    """
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    n = F.col("value")
    raw = rate.select(
        n.alias("__n"),
        F.element_at(
            F.array(*[F.lit(s) for s in symbols]), (n % len(symbols) + 1).cast("int")
        ).alias("instrument"),
        (F.pmod(F.xxhash64(n), 10000) / 100.0 + 1.0).alias("value"),
        F.pmod(F.xxhash64(n, F.lit(1)), 1000).alias("vol"),
        F.col("timestamp").alias("ts"),
    )
    tick_id = F.concat(F.lit("WebSocketMock_"), F.col("__n").cast("string"))
    return normalize_websocket(raw, id_expr=tick_id)


def csv_replay_ticks(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """The reference's cyclic CSV replay as a declarative stream.

    rate.value % num_rows picks the CSV row in file order, the order
    the reference cycles its parsed list in (financial_engine.py:246,
    :259); each emission gets a fresh arrival timestamp (:258) and the
    id ``CSVMock_<value>``.  The rows are numbered here, so starting
    the stream runs no Spark job.  The static side is broadcast — no
    shuffle enters the stream.
    """
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    csv = spark.createDataFrame(
        [(i, *row) for i, row in enumerate(MOCK_CSV_ROWS)], ["__row", *MOCK_CSV_COLUMNS]
    )
    joined = rate.withColumn("__row", F.col("value") % len(MOCK_CSV_ROWS)).join(
        F.broadcast(csv), "__row"
    )
    return normalize_csv(
        joined,
        id_expr=F.concat(F.lit("CSVMock_"), F.col("value").cast("string")),
        ts_expr=F.col("timestamp"),
    )


#: base mtime of the sliced feed's files; slice i is stamped
#: ``_FEED_T0 + 10 * i``.  Only the order matters: the file source
#: ages files against the newest one it has seen, not the wall clock.
_FEED_T0 = 1_000_000_000.0


def _sliced_feed(
    src: DataFrame, id_col: str, on_batch: Callable[[DataFrame, int], None]
) -> None:
    """Replay ``src`` as a live feed of three micro-batches into
    ``foreachBatch(on_batch)``, and return once all three ran.

    ``src`` is written as the three ``id_col % 3`` slices, one
    ``coalesce(1)`` file each (an empty slice may write an empty file,
    hence an empty micro-batch).  Each slice's files get a strictly
    increasing mtime, so the file source's oldest-first order is the
    slice order even on coarse-mtime filesystems.  The files are read
    back one per trigger with the schema of the written files, and
    the query runs ``processAllAvailable`` and stops.
    """
    spark = src.sparkSession
    feed_dir = scratch_dir(prefix="sliced_feed_")
    stamped: set[str] = set()
    for i in range(3):
        src.filter(F.col(id_col) % 3 == i).coalesce(1).write.mode("append").parquet(
            feed_dir
        )
        for f in os.listdir(feed_dir):
            p = os.path.join(feed_dir, f)
            if f.endswith(".parquet") and p not in stamped:
                os.utime(p, (_FEED_T0 + 10 * i, _FEED_T0 + 10 * i))
                stamped.add(p)
    feed = (
        spark.readStream.schema(spark.read.parquet(feed_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = feed.writeStream.foreachBatch(on_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _observed_slice_source(df: DataFrame, id_col: str):
    """Attach the slice-set Observation to the frame the feed writer
    slices: ``collect_set(id_col % 3)`` rides the writer's OWN pass —
    ``CollectMetrics`` is a pushdown barrier, so the metric sees every
    pre-filter source row on the first slice write, and the post-stop
    reconciliation pays no corpus-sized distinct scan of its own.
    Returns ``(frame, observation)``; the writer must slice the
    returned frame."""
    obs = Observation()
    return (
        df.observe(obs, F.collect_set((F.col(id_col) % 3).cast("int")).alias("s")),
        obs,
    )


def _reconcile_slices(seen: "set[int]", slice_obs: Observation) -> None:
    """Raise unless the slices processed equal the slices that hold
    rows in the source.  The ordered feed's guard tolerates forward
    jumps, so without this a LOST or undelivered non-empty feed file
    would pass as an empty slice and the gate would build wrong
    rolling state with no error; here it fails at the entry boundary,
    before any consumer reads the output."""
    data_slices = {int(s) for s in slice_obs.get["s"]}
    if seen != data_slices:
        raise RuntimeError(
            f"slice reconciliation failed: processed {sorted(seen)} "
            f"but the source contains rows in {sorted(data_slices)} — a "
            "feed file was lost or undelivered"
        )


class _SliceGuard:
    """The ordered feed's ``foreachBatch`` body: guard, skip, record.

    One ``distinct().collect()`` per batch reads the batch's slice ids
    from its DATA, never from a batch counter.  Before ``on_slice``
    runs, a batch holding more than one slice, or a slice not newer
    than the newest one processed, raises: it would merge or probe the
    wrong state version.  Forward jumps pass (an empty slice that
    wrote no feed file lets the next slice arrive early).  An empty
    batch is skipped and does not move the clock; moving it would
    over-advance past a genuine next slice on any zero-row batch that
    is not a slice's feed file.  ``seen`` holds the slices processed.
    """

    def __init__(
        self, on_slice: Callable[[DataFrame, int, int | None], None], id_col: str
    ) -> None:
        self.on_slice = on_slice
        self.id_col = id_col
        self.seen: set[int] = set()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        slices = sorted(
            int(r[0])
            for r in batch_df.select((F.col(self.id_col) % 3).alias("s"))
            .distinct()
            .collect()
        )
        prev = max(self.seen, default=None)
        expected = 0 if prev is None else prev + 1
        if len(slices) > 1 or (slices and slices[0] < expected):
            raise RuntimeError(f"expected slice >= {expected} alone, got {slices}")
        if slices:
            self.on_slice(batch_df, slices[0], prev)
            self.seen.add(slices[0])


def _ordered_sliced_feed(
    src: DataFrame,
    id_col: str,
    on_slice: Callable[[DataFrame, int, int | None], None],
) -> None:
    """:func:`_sliced_feed` for the CDC gates, whose rolling state
    must see the slices in order.  This is the one place that holds
    the three layers of the ordering contract (docs/ARCHITECTURE.md):
    guard what must be ordered and tolerate what may be absent
    (:class:`_SliceGuard`), reconcile what could be lost
    (:func:`_reconcile_slices`, after the query stops, against the
    slice set observed on ``src``).

    ``on_slice(batch_df, sl, prev_sl)`` runs once per non-empty slice
    ``sl``, in slice order; ``prev_sl`` is the newest slice already
    processed, or ``None``.

    Only the FIRST slice write fills the slice Observation: an
    Observation is set by the first action that completes, and the
    two later slice writes reuse the observed plan without updating
    it.  That first write still sees every source row, because the
    slice filter is not pushed below ``CollectMetrics``.
    """
    observed, slice_obs = _observed_slice_source(src, id_col)
    guard = _SliceGuard(on_slice, id_col)
    _sliced_feed(observed, id_col, guard)
    _reconcile_slices(guard.seen, slice_obs)
