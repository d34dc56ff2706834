"""E1: the live engine orchestrator — the reference's
``RealTimeProcessingEngine`` re-expressed on Structured Streaming.

Reference: financial_engine.py:329-433.  There, ``start()`` launches one
asyncio fetch loop per adapter (AlphaVantage poller, WebSocket mock,
CSV mock), every fetched item runs through cleaner → moving-average,
and three observers (console, logging, alerts) watch the moving-average
subject; ``stop()`` cancels the loops and closes adapters.

Spark-first translation:

* The three source loops become three *streams*: the rate-source tick
  generator (WebSocketMock), the cyclic CSV replay (CSVMock), and a
  file-spool stream fed by a poller thread (AlphaVantage — the only
  genuinely pull-based source, so the thread does the pulling and the
  engine consumes its spool directory as an ordinary file source).
* Union → ``clean`` → ``streaming_moving_average`` is ONE pipeline with
  shared keyed state across sources, exactly like the reference's
  single MovingAverageCalculator instance (gotcha U1, SURVEY.md §2.1).
* Observer fan-out happens inside one ``foreachBatch``: the batch is
  computed once and each observer sees the same epoch — mirroring one
  subject with three attached observers (reference :352-358) without
  recomputing state per sink.  It is the package's only console,
  logging and alert observer (K1-K3).  Observer isolation is structural
  (DataFrames are immutable), replacing the reference's per-observer
  ``deepcopy``.
* ``stop()`` stops the StreamingQuery and joins the poller thread; it
  raises the query's failure when the query died.

No network is touched unless an :class:`AlphaVantageSource` is passed
in; tests inject one with a canned ``fetch`` callable.
"""

from __future__ import annotations

import os
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from financial_data_stream_processing_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from financial_data_stream_processing_engine_spark.io_utils import scratch_dir
from financial_data_stream_processing_engine_spark.operators.core import clean, union_sources
from financial_data_stream_processing_engine_spark.session import _state_partitions
from financial_data_stream_processing_engine_spark.sources.alpha_vantage import (
    RAW_SCHEMA,
    AlphaVantageSource,
)
from financial_data_stream_processing_engine_spark.sources.batch import normalize_alpha_vantage
from financial_data_stream_processing_engine_spark.streaming import sources as stream_sources
from financial_data_stream_processing_engine_spark.streaming.stateful import streaming_moving_average


class _AvPollerThread(threading.Thread):
    """Background round-robin poller: each successful poll lands as one
    parquet file in the spool directory (written with pyarrow — no
    Spark job inside the thread)."""

    def __init__(self, source: AlphaVantageSource, spool_dir: str, interval_s: float):
        super().__init__(name="av-poller", daemon=True)
        self.source = source
        self.spool_dir = spool_dir
        self.interval_s = interval_s
        self._halt = threading.Event()  # NB: Thread reserves `_stop`
        self._n = 0
        # filenames must be unique across poller INSTANCES: the file
        # source tracks seen paths in the checkpoint, so a restarted
        # engine whose poller reused poll-00000000.parquet would both
        # clobber a processed file and have the new data ignored
        self._tag = os.urandom(6).hex()

    def run(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        # ``arrival`` becomes timestamp[us, tz=UTC]: the file stores the
        # poll instant, whatever the reading session's time zone
        schema = to_arrow_schema(RAW_SCHEMA)
        while not self._halt.is_set():
            row = self.source.poll_once()
            if row is not None:
                table = pa.Table.from_pylist([row], schema=schema)
                fname = f"poll-{self._tag}-{self._n:08d}.parquet"
                final = os.path.join(self.spool_dir, fname)
                # write to a dotfile first: the file stream lists the
                # directory between the two steps and must never see a
                # half-written parquet (dotfiles are ignored by Spark).
                tmp = os.path.join(self.spool_dir, f".{fname}")
                pq.write_table(table, tmp)
                os.rename(tmp, final)
                self._n += 1
            self._halt.wait(self.interval_s)

    def stop(self) -> None:
        self._halt.set()


class LiveEngine:
    """Compose sources → clean → moving average → observer fan-out, with
    ``start()`` / ``stop()`` lifecycle (reference :379-433).

    Parameters mirror the reference's observer wiring: ``on_alert``
    receives ``(alert_rows, n_suppressed)`` each epoch (AlertGenerator;
    see :meth:`_fanout` for the cap contract), ``logger``
    receives per-epoch log lines when ``config.log_level == "INFO"``
    (LoggingModule), ``enable_console`` prints each epoch
    (ConsoleNotifier).  ``keep_recent`` retains up to that many recent
    output rows on the driver for inspection/tests.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig = DEFAULT_CONFIG,
        av_source: AlphaVantageSource | None = None,
        on_alert: Callable[[list, int], None] | None = None,
        logger: Callable[[str], None] = print,
        enable_console: bool = False,
        ws_rows_per_second: int = 10,
        csv_rows_per_second: int = 2,
        keep_recent: int = 10_000,
        max_alerts_per_epoch: int = 10_000,
        spool_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.av_source = av_source
        self.on_alert = on_alert
        self.logger = logger
        self.enable_console = enable_console
        self.ws_rows_per_second = ws_rows_per_second
        self.csv_rows_per_second = csv_rows_per_second
        self.keep_recent = keep_recent
        self.max_alerts_per_epoch = max_alerts_per_epoch
        self.recent: list = []  # bounded driver-side tap (tests/demo)
        self.query = None
        self._poller: _AvPollerThread | None = None
        # a caller-supplied spool dir is what makes checkpoint restart
        # work: the file-source offsets recorded in the checkpoint name
        # this directory, so a restarted engine must reuse it
        self._spool_dir: str | None = spool_dir

    # -- pipeline assembly -------------------------------------------------

    def _source_union(self) -> DataFrame:
        """Union the enabled sources. A rate source with
        ``rows_per_second <= 0`` is omitted entirely (the reference
        equivalently just doesn't register the adapter), which lets a
        checkpointed engine run on the replayable file-spool source
        alone."""
        streams: list[DataFrame] = []
        if self.ws_rows_per_second > 0:
            streams.append(
                stream_sources.rate_ticks(
                    self.spark,
                    rows_per_second=self.ws_rows_per_second,
                    symbols=self.config.symbols,
                )
            )
        if self.csv_rows_per_second > 0:
            streams.append(
                stream_sources.csv_replay_ticks(
                    self.spark, rows_per_second=self.csv_rows_per_second
                )
            )
        if self.av_source is not None:
            if self._spool_dir is None:
                # engine-owned, so removed at interpreter exit; a
                # caller-supplied spool_dir is never removed
                self._spool_dir = scratch_dir("av_spool_")
            raw = self.spark.readStream.schema(RAW_SCHEMA).parquet(self._spool_dir)
            streams.append(
                normalize_alpha_vantage(raw, ts_expr=F.col("arrival"))
            )
        if not streams:
            raise ValueError("LiveEngine: every source is disabled")
        return union_sources(*streams)

    def _fanout(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One computation, three observers (reference :352-358).

        One aggregate action produces both the epoch row count and the
        alert count, so a quiet epoch (no alerts, ``keep_recent`` full)
        costs exactly one pass over the micro-batch (AQE materializes
        the aggregate's shuffle stage as its own job, so the Spark UI
        shows two jobs for the one action).  ``on_alert`` receives
        ``(alerts, n_suppressed)``: ``alerts`` is a list of ``Row``
        capped at ``max_alerts_per_epoch`` and ``n_suppressed`` is the
        exact number of alert rows beyond the cap (0 normally) —
        derived from the aggregate, never from a second count job.
        """
        batch_df.persist()
        try:
            cond = F.col("moving_average") > F.lit(self.config.price_alert_threshold)
            n, n_hits = batch_df.agg(
                F.count(F.lit(1)), F.count_if(cond)
            ).collect()[0]
            if self.enable_console:
                batch_df.show(20, truncate=False)
            if self.config.log_level == "INFO":
                self.logger(f"epoch={epoch_id} rows={n}")
            if n_hits and self.on_alert is not None:
                alerts = (
                    batch_df.filter(cond).limit(self.max_alerts_per_epoch).collect()
                )
                self.on_alert(alerts, n_hits - len(alerts))
            if self.keep_recent > 0 and n > 0:
                room = self.keep_recent - len(self.recent)
                if room > 0:
                    self.recent.extend(batch_df.limit(min(room, n)).collect())
        finally:
            batch_df.unpersist()

    # -- lifecycle ---------------------------------------------------------

    def start(self, checkpoint_dir: str | None = None) -> "LiveEngine":
        """Start the ``live_engine`` query on the caller's session (so
        ``spark.streams`` and its listeners see it).

        Per-query properties:

        * the enabled sources, and the spool directory of the
          AlphaVantage source;
        * state partitions, one per task slot
          (:func:`~financial_data_stream_processing_engine_spark.session._state_partitions`),
          applied to this query only: the caller's
          ``spark.sql.shuffle.partitions``, which governs batch
          shuffles, reads the same after ``start()``;
        * the MA state schema (one price buffer and its ``touched_ms``
          per symbol);
        * the name ``live_engine``, the MA window
          ``config.moving_average_window`` and the state TTL
          ``config.state_ttl_ms``.

        With ``checkpoint_dir``, the checkpoint freezes the first three
        at the query's first start.  A restart from it must enable the
        same sources on the same spool, and it keeps the recorded state
        partition count whatever the slots are now (32 for checkpoints
        written while the count followed
        ``EngineConfig.shuffle_partitions``).  Spark refuses a
        checkpoint whose state schema lacks ``touched_ms`` (written
        before the TTL moved into the state): the query dies in its
        first batch, and :meth:`stop` raises that failure.  The last
        three are not frozen: each start sets them afresh.
        """
        if self.query is not None:
            return self  # already running (reference :380)
        ticks = self._source_union()
        cleaned = clean(ticks)
        ma = streaming_moving_average(
            cleaned,
            n=self.config.moving_average_window,
            ttl_ms=self.config.state_ttl_ms,
        )
        writer = ma.writeStream.foreachBatch(self._fanout).queryName("live_engine")
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if self.av_source is not None:
            self._poller = _AvPollerThread(
                self.av_source, self._spool_dir, self.config.av_poll_interval_s
            )
            self._poller.start()
        # writer.start() copies the session conf into the query's own
        # session, so the count set here reaches this query alone
        conf = self.spark.conf
        caller_partitions = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(_state_partitions(self.spark)))
        try:
            self.query = writer.start()
        finally:
            conf.set("spark.sql.shuffle.partitions", caller_partitions)
        return self

    def run_for(self, seconds: float) -> None:
        """Demo helper: run the engine for a wall-clock duration
        (reference main_simulation, :435-448), then stop."""
        self.start()
        time.sleep(seconds)
        self.stop()

    def drain_and_stop(self) -> None:
        """Stop pulling new data, synchronously process everything
        already spooled, then stop.  Every epoch commits before
        shutdown, so a restart from the same ``checkpoint_dir`` +
        ``spool_dir`` resumes exactly after the last delivered row —
        the reference, by contrast, drops in-flight rows on shutdown
        (financial_engine.py:397-416).  Only meaningful when the
        continuous rate sources are disabled (they never drain)."""
        self._stop_poller()
        if self.query is not None:
            self.query.processAllAvailable()
        self.stop()

    def stop(self) -> None:
        """Stop the poller and the query, then raise the query's
        failure if it died (a refused checkpoint, a failing observer):
        a dead query is never stopped silently."""
        self._stop_poller()
        if self.query is not None:
            query, self.query = self.query, None
            query.stop()
            error = query.exception()
            if error is not None:
                raise error

    def _stop_poller(self) -> None:
        if self._poller is not None:
            self._poller.stop()
            self._poller.join(timeout=10)
            self._poller = None
