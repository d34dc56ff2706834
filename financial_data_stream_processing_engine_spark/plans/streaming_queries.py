"""Catalog entries that exercise the REAL Structured Streaming path.

Each entry materializes the driver's events table as a tick-shaped
parquet stream, runs an actual StreamingQuery (file source → stateful
op / windowed agg → memory sink) to completion, and returns the result
as a batch DataFrame — so the DuckDB oracle validates streaming output,
not a batch stand-in.
"""

from __future__ import annotations
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from financial_data_stream_processing_engine_spark.io_utils import load_table, scratch_dir
from financial_data_stream_processing_engine_spark.plans import register

# The batch twins' oracles, which the streaming entries below share
# verbatim: their streamed operators are batching-independent.
from financial_data_stream_processing_engine_spark.plans.curation_queries import (
    _lm_score_sql,
    _nb_classifier_sql,
)
from financial_data_stream_processing_engine_spark.plans.finance_queries import _pattern_sql
from financial_data_stream_processing_engine_spark.plans.llm_queries import _MULTIQUERY_IVF_SQL
from financial_data_stream_processing_engine_spark.plans.relational_queries import (
    _CMS_HH_SQL,
    _EWMA_SQL,
    _FUNNEL_SQL,
    _HDR_QUANTILES_SQL,
    _IVM_ORDERS_STATUS_SQL,
    _hll_sql,
    _orders,
    _orders_diff,
)
from financial_data_stream_processing_engine_spark.schema import TICK_SCHEMA
from financial_data_stream_processing_engine_spark.streaming import stateful, windows
from financial_data_stream_processing_engine_spark.streaming.sources import (
    _ordered_sliced_feed,
    _sliced_feed,
)


def _events_as_ticks(ev: DataFrame) -> DataFrame:
    """The driver's events as ticks: ``event_id`` is the tick id,
    ``user_id`` the symbol and ``value`` the price."""
    return ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("user_id").cast("string").alias("symbol"),
        F.col("value").alias("price"),
        F.lit(0).cast("long").alias("volume"),
        F.col("ts"),
        F.lit("EventsReplay").alias("source"),
    )


def _ticks_as_events(ticks: DataFrame, *outputs: str) -> DataFrame:
    """Streamed ticks back in the events' names — ``event_id, user_id,
    ts, value`` — followed by the operator's ``outputs``."""
    return ticks.select(
        F.col("id").cast("bigint").alias("event_id"),
        F.col("symbol").cast("bigint").alias("user_id"),
        F.col("ts"),
        F.col("price").alias("value"),
        *outputs,
    )


#: (applicationId, sf_dir) → replay directory; the tick parquet is
#: written once per session+scale and shared by every streaming entry
#: (it was previously re-written per entry, 9× per catalog run).
_TICK_DIRS: dict[tuple[str, str], str] = {}


def _event_tick_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → tick-shaped parquet in a shared temp dir → file stream.

    The write keeps the source's natural parallelism (no coalesce(1) —
    the file-stream source lists a directory, it does not need one
    file, and a single-task write of the whole table would serialize
    the harness at bench scale).
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TICK_DIRS:
        d = scratch_dir(prefix="stream_ticks_")
        _events_as_ticks(load_table(spark, sf_dir, "events")).write.mode(
            "overwrite"
        ).parquet(d)
        _TICK_DIRS[key] = d
    return spark.readStream.schema(TICK_SCHEMA).parquet(_TICK_DIRS[key])


def _nb_model_checkpointed(docs: DataFrame):
    """Train-once NB model for the streaming gates, with the totals
    row riding the word-count checkpoint's own job (r18): ``tot_pos``/
    ``tot_neg`` are exact integer sums of the model's ``c_pos``/
    ``c_neg`` columns and ``v_size`` is its row count (count_distinct
    over the token stream ≡ the model's cardinality), so one
    Observation on the checkpoint replaces the SECOND corpus-scale
    aggregation job the totals-frame checkpoint used to execute.
    Returns ``(word_counts, totals)`` with identical schemas/values to
    ``nb_train``'s pair."""
    from pyspark.sql import Observation

    from financial_data_stream_processing_engine_spark.operators.lm import nb_train

    wc_raw, _ = nb_train(docs)
    obs = Observation()
    wc = wc_raw.observe(
        obs,
        F.sum("c_pos").alias("tp"),
        F.sum("c_neg").alias("tn"),
        F.count(F.lit(1)).alias("vs"),
    ).localCheckpoint()
    m = obs.get
    tot = docs.sparkSession.createDataFrame(
        [(m["tp"], m["tn"], m["vs"])], "tot_pos long, tot_neg long, v_size long"
    )
    return wc, tot


def _run(df: DataFrame, spark: SparkSession, mode: str = "append") -> DataFrame:
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


_STREAM_MA_SQL = """
SELECT event_id, user_id, ts, value,
       (lag(value, 4) OVER w + lag(value, 3) OVER w + lag(value, 2) OVER w
        + lag(value, 1) OVER w + value) / 5.0 AS moving_average
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("streaming_ma_rowcount", sql=_STREAM_MA_SQL)
def streaming_ma_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count moving average computed by the ACTUAL streaming path
    (file stream → applyInPandasWithState ring buffer → memory sink).

    The oracle is the batch lag-chain with oldest→newest summation —
    the same order the streaming deque sums in — so agreement is
    bitwise, proving streaming/batch parity to the driver.
    """
    stream = _event_tick_stream(spark, sf_dir)
    out = stateful.streaming_moving_average(stream, n=5)
    return _ticks_as_events(_run(out, spark), "moving_average")


_STREAM_TUMBLE_SQL = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS win_end,
       user_id,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,7))) AS DOUBLE) AS total,
       MIN(value) AS lo,
       MAX(value) AS hi
FROM events
GROUP BY 1, 2, 3
"""


@register("streaming_tumbling_stats", sql=_STREAM_TUMBLE_SQL)
def streaming_tumbling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over the event stream,
    complete-mode memory sink; oracle = DuckDB time_bucket group-by.
    Decimal-exact sums make streaming/batch/DuckDB agree bitwise.
    """
    stream = _event_tick_stream(spark, sf_dir)
    agg = windows.tumbling_stats(
        stream, key="symbol", value="price", window="10 minutes", watermark="1 hour"
    )
    result = _run(agg, spark, mode="complete")
    return result.select(
        "win_start",
        "win_end",
        F.col("symbol").cast("bigint").alias("user_id"),
        "n",
        "total",
        "lo",
        "hi",
    )


#: CTEs ``marked → sessions``: each event's per-user gap-session id
#: (a new session after a gap of more than 2 hours)
_GAP_SESSION_CTES = """marked AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL '2 hours'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)"""

_STREAM_SESSION_SQL = f"""
WITH {_GAP_SESSION_CTES}
SELECT MIN(ts) AS win_start,
       MAX(ts) + INTERVAL '2 hours' AS win_end,
       user_id,
       COUNT(*) AS n
FROM sessions
GROUP BY user_id, sid
"""


@register("streaming_session_windows", sql=_STREAM_SESSION_SQL)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (2h gap) over the event stream; the
    oracle is the batch gaps-and-islands formulation — session_window
    semantics ([first, last+gap)) reproduced in pure SQL."""
    stream = _event_tick_stream(spark, sf_dir)
    agg = windows.session_stats(stream, key="symbol", gap="2 hours", watermark="1 hour")
    result = _run(agg, spark, mode="complete")
    return result.select(
        "win_start", "win_end", F.col("symbol").cast("bigint").alias("user_id"), "n"
    )


_STREAM_SLIDE_SQL = """
WITH cand AS (
  SELECT user_id, value, ts,
         time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes' AS win_start
  FROM events, UNNEST([0, 1]) AS t(k))
SELECT win_start,
       win_start + INTERVAL '10 minutes' AS win_end,
       user_id,
       CAST(SUM(CAST(value AS DECIMAL(27,7))) AS DOUBLE) / COUNT(value) AS mean_value,
       COUNT(*) AS n
FROM cand
WHERE ts >= win_start AND ts < win_start + INTERVAL '10 minutes'
GROUP BY 1, 2, 3
"""


@register("streaming_sliding_mean", sql=_STREAM_SLIDE_SQL)
def streaming_sliding_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (10 min window, 5 min slide): each
    event lands in two overlapping windows; the oracle materializes the
    overlap by unnesting the two candidate window starts."""
    stream = _event_tick_stream(spark, sf_dir)
    agg = windows.sliding_mean(
        stream, key="symbol", value="price",
        window="10 minutes", slide="5 minutes", watermark="1 hour",
    )
    result = _run(agg, spark, mode="complete")
    return result.select(
        "win_start", "win_end",
        F.col("symbol").cast("bigint").alias("user_id"),
        "mean_value", "n",
    )


_STREAM_JOIN_SQL = """
SELECT e.event_id, p.event_id AS purchase_event_id, e.user_id,
       DATEDIFF('second', p.ts, e.ts) AS gap_s
FROM events e
JOIN events p
  ON e.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >  e.ts - INTERVAL '30 minutes'
 AND p.ts <= e.ts
"""


@register("streaming_stream_stream_join", sql=_STREAM_JOIN_SQL)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: each event joined to
    the purchases of the same user in the preceding 30 minutes.

    Both sides are REAL streams (two independent file sources over the
    same replay directory); the time-range condition plus watermarks
    bound the join state, so Spark can discard old rows — the only way
    a stream-stream join survives unbounded input.  Oracle: the batch
    interval self-join.
    """
    left = _event_tick_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    right = (
        _event_tick_stream(spark, sf_dir)
        .withColumnRenamed("id", "p_id")
        .withColumnRenamed("symbol", "p_symbol")
        .withColumnRenamed("ts", "p_ts")
        .withColumnRenamed("price", "p_price")
        .withColumnRenamed("volume", "p_volume")
        .withColumnRenamed("source", "p_source")
        .withWatermark("p_ts", "1 hour")
    )
    # the tick replay has no event_type; re-derive "purchase" rows from
    # the original events table by id membership (broadcast the id set)
    ev = load_table(spark, sf_dir, "events")
    purchase_ids = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").cast("string").alias("p_id")
    )
    right = right.join(F.broadcast(purchase_ids), "p_id", "left_semi")

    joined = left.join(
        right,
        (F.col("symbol") == F.col("p_symbol"))
        & (F.col("p_ts") > F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("p_ts") <= F.col("ts")),
        "inner",
    )
    result = _run(joined, spark)
    return result.select(
        F.col("id").cast("bigint").alias("event_id"),
        F.col("p_id").cast("bigint").alias("purchase_event_id"),
        F.col("symbol").cast("bigint").alias("user_id"),
        (F.col("ts").cast("long") - F.col("p_ts").cast("long")).alias("gap_s"),
    )


@register(
    "streaming_dedup_exact",
    sql="""
SELECT event_id, user_id, ts, value FROM events
""",
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication with bounded state:
    dropDuplicatesWithinWatermark evicts seen-keys state once the
    watermark passes (the streaming twin of dedup_exact — the
    reference point for at-least-once sources).

    The input is the event stream unioned with ITSELF (every row a
    duplicate); the deduplicated output must equal the original table,
    which is exactly what the oracle states.
    """
    left = _event_tick_stream(spark, sf_dir)
    right = _event_tick_stream(spark, sf_dir)
    doubled = left.unionByName(right).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["id"])
    return _ticks_as_events(_run(deduped, spark))


@register("streaming_ewma", sql=_EWMA_SQL)
def streaming_ewma_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA computed by the ACTUAL streaming path (file stream →
    applyInPandasWithState scalar state → memory sink); same
    prefix-fold oracle as the batch window_ewma_per_user, proving
    streaming/batch/oracle three-way parity bitwise."""
    stream = _event_tick_stream(spark, sf_dir)
    out = stateful.streaming_ewma(stream, alpha=0.2)
    return _ticks_as_events(_run(out, spark), "ewma")


_STREAM_OHLC_SQL = """
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
       time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS win_end,
       user_id AS symbol,
       arg_min(value, ts) AS "open",
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ts) AS "close",
       COUNT(*) AS n_trades
FROM events
GROUP BY 1, 2, 3
"""


@register("streaming_fin_ohlc", sql=_STREAM_OHLC_SQL)
def streaming_fin_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles computed by the ACTUAL streaming path
    (file stream → watermarked tumbling window with min_by/max_by
    candle state → memory sink) — the streaming twin of the batch
    ``fin_ohlc_daily`` entry, proving candle streaming/batch parity
    bitwise against the DuckDB arg_min/arg_max oracle."""
    stream = _event_tick_stream(spark, sf_dir)
    agg = windows.ohlc_candles(
        stream, key="symbol", price="price", window="1 day", watermark="1 hour"
    )
    result = _run(agg, spark, mode="complete")
    return result.select(
        "win_start",
        "win_end",
        F.col("symbol").cast("bigint").alias("symbol"),
        "open",
        "high",
        "low",
        "close",
        "n_trades",
    )


def _macd_sql() -> str:
    """The batch MACD oracle re-used for the streaming twin (same
    prefix-fold recurrences; see plans/finance_queries.py::fin_macd)."""
    from financial_data_stream_processing_engine_spark.functions.numeric import dlit_sql

    af, bf = 2.0 / 13.0, 1.0 - 2.0 / 13.0
    as_, bs = 2.0 / 27.0, 1.0 - 2.0 / 27.0
    ag, bg = 2.0 / 10.0, 1.0 - 2.0 / 10.0
    return f"""
WITH t AS (
  SELECT event_id, user_id AS symbol, ts, value AS price
  FROM events WHERE value IS NOT NULL),
ordered AS (
  SELECT symbol, event_id, ts, price,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY ts, event_id) AS rn
  FROM t),
g AS (SELECT symbol, LIST(price ORDER BY ts, event_id) AS vs FROM t GROUP BY symbol),
m AS (
  SELECT o.symbol, o.event_id, o.ts, o.price, o.rn,
         LIST_REDUCE(g.vs[1:o.rn], (acc, x) -> {dlit_sql(af)} * x + {dlit_sql(bf)} * acc)
       - LIST_REDUCE(g.vs[1:o.rn], (acc, x) -> {dlit_sql(as_)} * x + {dlit_sql(bs)} * acc)
           AS macd
  FROM ordered o JOIN g USING (symbol)),
gm AS (SELECT symbol, LIST(macd ORDER BY ts, event_id) AS ms FROM m GROUP BY symbol)
SELECT m.event_id, m.symbol, m.ts, m.price, m.macd,
       LIST_REDUCE(gm.ms[1:m.rn], (acc, x) -> {dlit_sql(ag)} * x + {dlit_sql(bg)} * acc)
         AS macd_signal,
       m.macd
       - LIST_REDUCE(gm.ms[1:m.rn], (acc, x) -> {dlit_sql(ag)} * x + {dlit_sql(bg)} * acc)
         AS macd_histogram
FROM m JOIN gm USING (symbol)
"""


@register("streaming_fin_macd", sql=_macd_sql())
def streaming_fin_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD computed by the ACTUAL streaming path (file stream →
    3-double keyed state → memory sink) — the streaming twin of
    fin_macd, three-way bitwise: streaming == batch grouped-map ==
    DuckDB prefix folds.  The keyed state is the smallest stateful
    footprint in the engine (three doubles per symbol), the shape a
    live indicator service runs."""
    stream = _event_tick_stream(spark, sf_dir).where(F.col("price").isNotNull())
    out = stateful.streaming_macd(stream)
    result = _run(out, spark)
    return result.select(
        F.col("id").cast("bigint").alias("event_id"),
        F.col("symbol").cast("bigint").alias("symbol"),
        F.col("ts"),
        F.col("price"),
        F.col("macd"),
        F.col("macd_signal"),
        F.col("macd_histogram"),
    )


_STREAM_TOPK_SQL = """
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
         user_id,
         COUNT(*) AS n
  FROM events
  GROUP BY 1, 2)
SELECT win_start, user_id, n, CAST(rk AS INT) AS rk
FROM (
  SELECT win_start, user_id, n,
         ROW_NUMBER() OVER (PARTITION BY win_start ORDER BY n DESC, user_id) AS rk
  FROM counts)
WHERE rk <= 3
"""


@register("streaming_topk_users", sql=_STREAM_TOPK_SQL)
def streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-keys: hourly event counts per user computed by
    a REAL watermarked streaming aggregation (complete-mode memory
    sink), then ranked top-3 per window on the materialized result —
    ranking windows aren't supported inside a streaming aggregation,
    so the rank runs where a dashboard would run it: over the sink.
    Deterministic tie-break (count desc, user asc)."""
    stream = _event_tick_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("symbol"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    result = _run(agg, spark, mode="complete")
    from pyspark.sql import Window as W

    ranked = result.select(
        F.col("win.start").alias("win_start"),
        F.col("symbol").cast("bigint").alias("user_id"),
        F.col("n"),
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("win_start").orderBy(F.col("n").desc(), F.col("user_id"))
        ),
    )
    return ranked.filter(F.col("rk") <= 3)


_STREAM_ZSCORE_SQL = """
WITH t AS (SELECT event_id, user_id, ts, value FROM events WHERE value IS NOT NULL),
f AS (
  SELECT event_id, user_id, ts, value,
         COUNT(value) OVER wf AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(27,7))) OVER wf AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(27,7))) OVER wf AS DOUBLE) AS sxx
  FROM t
  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT event_id, user_id, ts, value, cnt,
         sx / 20.0 AS baseline_mean,
         SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0)) AS baseline_sd,
         CASE WHEN SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0)) = 0 THEN NULL
              ELSE (value - sx / 20.0)
                   / SQRT(GREATEST((sxx - sx * sx / 20.0) / 19.0, 0.0))
         END AS zscore
  FROM f)
SELECT event_id, user_id, ts, value, baseline_mean, baseline_sd, zscore
FROM z
WHERE cnt = 20 AND ABS(zscore) >= 3.0
"""


@register("streaming_zscore_alerts", sql=_STREAM_ZSCORE_SQL)
def streaming_zscore_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal z-score anomaly ALERT STREAM computed by the actual
    streaming path (file stream → ring-buffer keyed state → memory
    sink), emitting only |z| ≥ 3 ticks — the reference's fixed
    threshold alert upgraded to a self-calibrating detector, live.
    Three-way bitwise: the state op replicates the batch DECIMAL
    window sums in Python Decimal, so streaming == batch
    (fin_zscore_anomalies shape) == DuckDB."""
    stream = _event_tick_stream(spark, sf_dir).where(F.col("price").isNotNull())
    out = stateful.streaming_zscore_alerts(stream, n=20, z_threshold=3.0)
    return _ticks_as_events(_run(out, spark), "baseline_mean", "baseline_sd", "zscore")


@register("streaming_heavy_hitters", sql=_CMS_HH_SQL)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with the count-min sketch MAINTAINED BY A REAL
    STREAMING QUERY: the event replay streams through the
    ``cms_build`` groupBy (complete-mode memory sink keeps the live
    3×512 counter table — bounded state at any key cardinality, the
    property exact ``streaming_topk_users`` lacks), then the batch
    estimate/threshold probe runs over the streamed sketch exactly as
    a serving layer would.  CM counters are order-independent sums, so
    the streamed sketch is BIT-IDENTICAL to the batch one — one
    oracle (``_CMS_HH_SQL``) certifies both entries
    (operators/sketch.py)."""
    from financial_data_stream_processing_engine_spark.operators import sketch

    stream = _event_tick_stream(spark, sf_dir)
    sk_stream = sketch.cms_build(stream, F.col("symbol"))
    sk = _run(sk_stream, spark, mode="complete")
    ev = load_table(spark, sf_dir, "events")
    return sketch.heavy_hitters(ev, "user_id", threshold=75, sketch=sk)


@register("streaming_similarity_topk", sql=_MULTIQUERY_IVF_SQL)
def streaming_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN scoring — the retrieval-serving shape: an IVF
    index is built and PERSISTED once (centroids + corpus partitioned
    by cell), then a STREAM of query vectors probes it per micro-batch
    through ``multiquery_ivf_topk`` (query_id-sliced, see
    streaming/sources.py::_sliced_feed), each batch appending its
    top-5 rows to the result sink.  Per-query results are independent
    of batching, so the batch entry's oracle (``_MULTIQUERY_IVF_SQL``)
    certifies the streamed output bit-for-bit
    (operators/similarity.py::{save_ivf_index, load_ivf_index,
    multiquery_ivf_topk})."""
    from financial_data_stream_processing_engine_spark.operators import similarity

    embs = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    idx_dir = scratch_dir(prefix="ivf_index_")
    similarity.save_ivf_index(embs, centroids, idx_dir, vec_col="embedding")
    corpus, cent = similarity.load_ivf_index(spark, idx_dir)

    out_dir = scratch_dir(prefix="stream_ann_out_") + "/out"

    def probe(batch_df: DataFrame, epoch_id: int) -> None:
        res = similarity.multiquery_ivf_topk(
            corpus, cent, batch_df, k=5, nprobe=2,
            id_col="vec_id", vec_col="embedding", query_id_col="query_id",
        )
        res.write.mode("append").parquet(out_dir)

    queries = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    _sliced_feed(queries, "query_id", probe)
    return spark.read.schema(
        "query_id long, vec_id long, cos double, rank int"
    ).parquet(out_dir)


@register("streaming_ivm_orders_agg", sql=_IVM_ORDERS_STATUS_SQL)
def streaming_ivm_orders_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance LIVE: the CDC change feed arrives
    as a STREAM (o_orderkey-sliced, see
    streaming/sources.py::_sliced_feed) and each batch applies its
    delta to the materialized aggregate state — read state, apply
    ``cdc_apply_to_sum_count``, write the next state version
    (versioned directories: the epoch write is atomic-by-rename and
    re-runnable, the streaming-sink idempotence pattern).  Because the
    maintenance arithmetic is DECIMAL-exact and additive per group,
    applying the diff in ANY batch partitioning yields the identical
    final state — so the batch IVM oracle (full recompute over the new
    snapshot) certifies the streamed view bit-for-bit
    (operators/scale.py::cdc_apply_to_sum_count)."""
    from financial_data_stream_processing_engine_spark.operators.scale import (
        cdc_apply_to_sum_count,
    )

    o = _orders(spark, sf_dir)
    diff = _orders_diff(o)

    # materialize the OLD aggregate as state version 0
    state_dir = scratch_dir(prefix="ivm_state_")
    old_agg = o.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,7)")).alias("_dec_sum"),
        F.count(F.lit(1)).alias("n"),
    )
    old_agg.write.mode("overwrite").parquet(f"{state_dir}/v0")
    state = {"version": 0}

    def apply_delta(batch_df: DataFrame, epoch_id: int) -> None:
        cur = spark.read.parquet(f"{state_dir}/v{state['version']}")
        nxt = cdc_apply_to_sum_count(
            cur, batch_df, group_from="o_orderstatus",
            value_from="o_totalprice", group_col="o_orderstatus",
        )
        nxt.write.mode("overwrite").parquet(f"{state_dir}/v{state['version'] + 1}")
        state["version"] += 1

    _sliced_feed(diff, "o_orderkey", apply_delta)

    return spark.read.parquet(f"{state_dir}/v{state['version']}").select(
        "o_orderstatus",
        F.col("_dec_sum").cast("double").alias("total_price"),
        F.col("n").alias("n_orders"),
    )


_STREAM_SESSION_TIMEOUT_SQL = f"""
WITH {_GAP_SESSION_CTES}
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
"""


@register("streaming_session_timeout_flush", sql=_STREAM_SESSION_TIMEOUT_SQL)
def streaming_session_timeout_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with WATERMARK-TIMEOUT emission, end-to-end
    (streaming/stateful.py::streaming_sessionize_timeout): sessions
    close inline when a same-key event exceeds the 2 h gap, and the
    final open session per key is flushed by
    ``GroupStateTimeout.EventTimeTimeout`` when the event-time
    watermark passes session_end + gap — driven here by two sentinel
    ticks written AFTER the replay is processed (the first advances
    the watermark past every real timeout at its batch boundary, the
    second triggers the batch at which the expired state is
    evicted).  The oracle is the batch gap rule over the same events:
    a hash match proves every session was emitted exactly once, by
    exactly one of the two paths, with exact boundaries."""
    ev = load_table(spark, sf_dir, "events")
    feed = scratch_dir(prefix="session_feed_")
    _events_as_ticks(ev).write.mode("append").parquet(feed)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .parquet(feed)
        .withWatermark("ts", "0 seconds")
    )
    sessions = stateful.streaming_sessionize_timeout(stream, gap_s=7200)
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()

    import datetime

    def sentinel(offset_s: int) -> None:
        row = [(
            "zz_flush", "__flush__", 0.0, 0,
            max_ts + datetime.timedelta(seconds=offset_s), "Sentinel",
        )]
        spark.createDataFrame(row, TICK_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        q.processAllAvailable()

    # sentinel 1 advances the watermark past every real timeout;
    # sentinel 2 triggers the batch that evicts the expired state
    sentinel(7200 + 3600)
    sentinel(7200 + 3601)
    q.stop()

    return spark.table(name).filter(F.col("symbol") != "__flush__").select(
        F.col("symbol").cast("bigint").alias("user_id"),
        "session_start",
        "session_end",
        "n_events",
    )


@register("streaming_distinct_hll", sql=_hll_sql())
def streaming_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog cardinality with the 256 MAX-registers MAINTAINED
    BY A REAL STREAMING QUERY (complete-mode memory sink keeps the
    live register table — bounded state at any key cardinality), then
    the batch report/estimate runs over the streamed registers exactly
    as a serving layer would.  MAX registers are order-independent, so
    the streamed sketch is BIT-IDENTICAL to the batch build and one
    oracle (``_hll_sql``) certifies both entries
    (operators/sketch.py::{hll_build, hll_report})."""
    from financial_data_stream_processing_engine_spark.operators import sketch

    stream = _event_tick_stream(spark, sf_dir)
    reg_stream = sketch.hll_build(stream, F.col("symbol"))
    reg = _run(reg_stream, spark, mode="complete")
    ev = load_table(spark, sf_dir, "events")
    return sketch.hll_report(ev, "user_id", registers=reg)


_STREAM_ENRICH_SQL = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


@register("streaming_static_enrich", sql=_STREAM_ENRICH_SQL)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the canonical streaming
    ETL shape this catalog was missing: a live event stream inner-joins
    a BROADCAST static dimension (customer) per micro-batch, append
    mode, no watermark needed (stream-static inner joins are
    stateless).  The static side is planned once as a broadcast hash
    join: each micro-batch is enriched map-side with ZERO shuffle of
    the stream — at 100 TB/day of events and a dimension that fits an
    executor, this plan never touches the network for stream rows.
    Row set is batching-independent, so the plain batch join SQL is
    the oracle."""
    stream = _event_tick_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(dim), stream["symbol"].cast("bigint") == dim["c_custkey"]
    )
    result = _run(joined, spark)
    return result.select(
        F.col("id").cast("bigint").alias("event_id"),
        F.col("symbol").cast("bigint").alias("user_id"),
        "c_name",
        "c_mktsegment",
        F.col("price").alias("value"),
    )


@register("streaming_quantiles_hdr", sql=_HDR_QUANTILES_SQL)
def streaming_quantiles_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-linear quantile sketch with the bucket histogram MAINTAINED
    BY A REAL STREAMING QUERY: the orders replay streams through the
    ``hdr_histogram`` groupBy (complete-mode memory sink keeps the
    live ≤~1000-bucket table — bounded state at any value
    cardinality), then the batch rank-walk/estimate runs over the
    streamed buckets exactly as a latency dashboard would.  Bucket
    rows are MIN/COUNT aggregations — order-independent and mergeable
    — so the streamed histogram is BIT-IDENTICAL to the batch one and
    one oracle (the batch entry's ``_HDR_QUANTILES_SQL``) certifies
    both entries (operators/sketch.py::{hdr_histogram,
    hdr_quantile_report}).  Completes the streamed-sketch family:
    CMS (frequency), HLL (cardinality), HDR (quantiles)."""
    from financial_data_stream_processing_engine_spark.operators import sketch

    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    d = scratch_dir(prefix="stream_orders_")
    o.write.mode("overwrite").parquet(d)
    ostream = spark.readStream.schema("o_totalprice double").parquet(d)
    # the identical quantization hdr_quantile_report documents
    v = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    base = ostream.select(v.alias("__v")).filter(F.col("__v") > 0)
    hist = _run(sketch.hdr_histogram(base, F.col("__v")), spark, mode="complete")
    o_batch = load_table(spark, sf_dir, "orders")
    return sketch.hdr_quantile_report(
        o_batch, F.col("o_totalprice"), qs=(0.25, 0.5, 0.95, 0.99), scale=100,
        hist=hist,
    )


@register("streaming_pattern_match_topk", sql=_pattern_sql(length=8, k=10))
def streaming_pattern_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series pattern search LIVE: the z-normalized distance of
    every sliding price window to the query pattern is computed by a
    REAL streaming query (file stream → per-symbol ring-buffer keyed
    state → memory sink), then the global top-10 ranks over the sink
    exactly as an alerting dashboard would.  The state op replicates
    the batch operator's left-associated IEEE chains in Python floats,
    so streamed distances equal batch — one oracle (the batch entry's
    ``_pattern_sql``) certifies both
    (streaming/stateful.py::streaming_pattern_distance).  The 8-value
    query pattern is a driver-side PARAMETER (like the alert
    threshold), read once from the batch table."""
    from pyspark.sql import Window as W

    stream = _event_tick_stream(spark, sf_dir).where(F.col("price").isNotNull())
    t = load_table(spark, sf_dir, "events")
    qrows = (
        t.where((F.col("user_id") == 1) & F.col("value").isNotNull())
        .orderBy("ts", "event_id")
        .limit(8)
        .select("value")
        .collect()
    )
    qvals = [float(r.value) for r in qrows]
    out = stateful.streaming_pattern_distance(stream, qvals, length=8)
    result = _run(out, spark)
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heap, no global single-partition window over the sink) — the
    # batch twin's shape (operators/finance.py::pattern_match_topk);
    # the rank window then runs over the already-limited 10 rows
    return (
        result.select(
            F.col("symbol").cast("bigint").alias("symbol"),
            F.col("id").cast("bigint").alias("event_id"),
            F.col("ts"),
            F.col("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("symbol"), F.col("event_id"))
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.col("dist").asc(), F.col("symbol"), F.col("event_id"))
            ),
        )
    )


_LATE_METRICS_SQL = """
WITH a AS (SELECT event_id, ts, value FROM events WHERE event_id % 3 != 0),
b AS (SELECT event_id, ts, value FROM events WHERE event_id % 3 = 0),
wm AS (
  SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 30 MINUTE AS w FROM a),
dropped AS (SELECT b.* FROM b, wm WHERE b.ts <= wm.w),
kept AS (
  SELECT * FROM a
  UNION ALL
  SELECT b.* FROM b, wm WHERE b.ts > wm.w),
wins AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(27,7))) AS s
  FROM kept GROUP BY 1)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dropped) AS n_late_dropped,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(s) AS DOUBLE) AS total_value
FROM wins
"""


@register("streaming_late_data_metrics", sql=_LATE_METRICS_SQL)
def streaming_late_data_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data OBSERVABILITY — the first dashboard a streaming
    operator asks for at scale: how many rows did the watermark drop,
    and what did the surviving aggregate look like?  A watermarked
    dedup→tumbling-aggregation pipeline runs over a two-batch replay
    (batch 1 = ⅔ of events, batch 2 = the rest, now LATE relative to
    the watermark batch 1 established), and the entry surfaces
    ``numRowsDroppedByWatermark`` from StreamingQueryProgress — the
    engine's own state-operator metric, not a recount — alongside the
    emitted-window totals, as one queryable metrics row.

    Design note for oracle determinism: on a bare windowed
    aggregation the metric counts rows AFTER map-side partial
    aggregation (one partial row per window per input partition — a
    partitioning-dependent number no oracle can restate).  Chaining a
    keyed ``dropDuplicates`` in front moves the late filter to a
    row-granularity state operator: the metric becomes an exact input
    -row count, and the downstream aggregation can drop nothing (a
    row surviving ``ts > wm`` always has window end > wm).  The drop
    rule is pinned empirically against the state-store watermark
    predicate: dropped iff ``ts ≤ watermark``, watermark = the
    millisecond-truncated max event time of prior batches minus the
    delay.  The decimal-exact value sum ties the surviving aggregate
    bit-for-bit, so the metric AND the aggregate are both
    engine-certified."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    feed = scratch_dir(prefix="late_feed_")
    ev.filter(F.col("event_id") % 3 != 0).write.mode("append").parquet(feed)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .parquet(feed)
        .withWatermark("ts", "30 minutes")
        .dropDuplicates(["event_id"])
    )
    agg = stream.groupBy(F.window("ts", "1 hour").alias("win")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,7)")).alias("_dec_sum"),
    )
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()

    # batch 2: the held-back third arrives after the watermark moved
    ev.filter(F.col("event_id") % 3 == 0).write.mode("append").parquet(feed)
    q.processAllAvailable()

    import datetime

    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    def sentinel(offset_s: int) -> None:
        row = [(-1 - offset_s % 7, max_ts + datetime.timedelta(seconds=offset_s), 0.0)]
        spark.createDataFrame(
            row, "event_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(feed)
        q.processAllAvailable()

    # sentinel 1 advances the watermark past every real window end;
    # sentinel 2 triggers the batch that emits the finalized windows
    sentinel(10 * 24 * 3600)
    sentinel(10 * 24 * 3600 + 60)

    n_dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in (p["stateOperators"] or [])
    )
    q.stop()

    sink = spark.table(name)
    return sink.agg(
        F.lit(n_dropped).cast("bigint").alias("n_late_dropped"),
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("n").alias("n_rows"),
        F.sum("_dec_sum").cast("double").alias("total_value"),
    )


@register("streaming_funnel_conversion", sql=_FUNNEL_SQL)
def streaming_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analytics LIVE: events arrive as a stream
    (event_id-sliced, see streaming/sources.py::_sliced_feed — users
    deliberately SPAN batches, so no per-batch funnel is ever
    correct on its own) and each batch maintains a per-user
    anchor table by RECOMPUTE-TOUCHED-KEYS incremental view
    maintenance: append the batch to the accumulated event state,
    recompute the (t1, t2, t3) anchors ONLY for the users the batch
    touched — anchors are a pure per-user function of that user's own
    events (plans/relational_queries.py::_funnel_anchors), so
    untouched users' rows are provably unchanged — and upsert them
    into the versioned anchor state (atomic-by-rename epoch writes,
    the re-runnable streaming-sink idempotence pattern).  The final
    report aggregates the anchor table into the batch entry's exact
    three-stage shape, so the batch funnel oracle (full recompute over
    all events) certifies the streamed state bit-for-bit.

    This is the OTHER maintenance family next to
    ``streaming_ivm_orders_agg``'s additive-diff IVM: min-of-events
    anchors are not additive under deletes/disorder, but they are
    per-key recomputable — per-batch cost is the touched users'
    histories, never the corpus.  At 100 TB the event state is
    bucketed by user so the touched-key recompute is a
    partition-pruned read, and the anchor upsert overwrites touched
    user-buckets only (the IVF index-maintenance write pattern);
    anchor state is users-sized, events-state reads are
    touched-users-sized, and staleness is bounded by the trigger
    interval."""
    from financial_data_stream_processing_engine_spark.operators.scale import merge_upsert
    from financial_data_stream_processing_engine_spark.plans.relational_queries import (
        _funnel_anchors,
        _funnel_report,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )

    ev_state = scratch_dir(prefix="funnel_events_")
    anchor_dir = scratch_dir(prefix="funnel_anchors_")
    _funnel_anchors(ev.limit(0)).write.mode("overwrite").parquet(f"{anchor_dir}/v0")
    state = {"version": 0}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(f"{ev_state}/data")
        touched = batch_df.select("user_id").distinct()
        history = spark.read.parquet(f"{ev_state}/data").join(
            F.broadcast(touched), "user_id"
        )
        cur = spark.read.parquet(f"{anchor_dir}/v{state['version']}")
        nxt = merge_upsert(cur, _funnel_anchors(history), keys=["user_id"])
        nxt.write.mode("overwrite").parquet(f"{anchor_dir}/v{state['version'] + 1}")
        state["version"] += 1

    _sliced_feed(ev, "event_id", apply_batch)

    anchors = spark.read.parquet(f"{anchor_dir}/v{state['version']}")
    return _funnel_report(anchors)


@register("streaming_lm_quality_gate", sql=_lm_score_sql())
def streaming_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style LM quality filter as a CONTINUOUS PROCESS — how
    a crawl ingestion pipeline actually runs it: the bigram model is
    trained ONCE batch-side on the trusted reference slice
    (vocabulary-sized tables, localCheckpoint-ed so per-batch scoring
    never re-executes training lineage), then documents arrive as a
    live stream (doc_id-sliced, see streaming/sources.py::_sliced_feed)
    and each batch is scored and appended.

    Scoring is PER-DOCUMENT (a doc's bigrams live inside its own row),
    so the streamed score table is batching-independent and the batch
    entry's full-retrain-and-rescore oracle certifies the stream
    verbatim — the same argument the streamed index-maintenance and
    funnel twins make.  At 100 TB/day the model side is a broadcast
    join per micro-batch (zero shuffle of stream rows), scoring state
    is zero, and quality-gate staleness is the trigger interval plus
    however often the reference model is retrained.
    """
    from financial_data_stream_processing_engine_spark.operators.lm import (
        bigram_lm_counts,
        with_lm_score,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 5 == 0)
    pair_counts, context_counts, vocab = (
        df.localCheckpoint() for df in bigram_lm_counts(ref)
    )

    out_dir = scratch_dir(prefix="lm_gate_scores_")

    def score_batch(batch_df: DataFrame, epoch_id: int) -> None:
        scored = with_lm_score(batch_df, pair_counts, context_counts, vocab)
        scored.write.mode("append").parquet(f"{out_dir}/data")

    _sliced_feed(docs, "doc_id", score_batch)
    return spark.read.parquet(f"{out_dir}/data")


@register("streaming_nb_gate", sql=_nb_classifier_sql())
def streaming_nb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned NB classifier as a CONTINUOUS GATE — the
    ``streaming_lm_quality_gate`` pattern applied to the second model
    family: the add-one NB token model is trained ONCE batch-side on
    the labeled non-holdout slice (operators/lm.py::nb_train — both
    model frames are vocabulary-sized and localCheckpoint-ed so
    per-batch scoring never re-executes training lineage), then
    documents arrive as a live stream (doc_id-sliced, see
    streaming/sources.py::_sliced_feed) and each batch is scored and
    appended (::nb_score).

    Scoring is PER-DOCUMENT (a doc's tokens live inside its own
    rows), so the streamed score table is batching-independent and
    the batch entry's full retrain-and-rescore oracle certifies the
    stream verbatim — the LM-gate argument, applied to the classifier
    that fills the language-ID role in CCNet-style ingestion.  At
    scale the model is a broadcast (or token-keyed shuffle) join per
    micro-batch, scoring state is zero, and classifier staleness is
    the trigger interval plus the model retrain cadence.
    """
    from financial_data_stream_processing_engine_spark.operators.lm import nb_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    word_counts, totals = _nb_model_checkpointed(docs)

    out_dir = scratch_dir(prefix="nb_gate_scores_")

    def score_batch(batch_df: DataFrame, epoch_id: int) -> None:
        scored = nb_score(batch_df, word_counts, totals)
        scored.write.mode("append").parquet(f"{out_dir}/data")

    _sliced_feed(docs, "doc_id", score_batch)
    return spark.read.parquet(f"{out_dir}/data")


def _nb_model_cdc_sql() -> str:
    """Oracle for the model-CDC gate: THREE full retrain-and-score
    chains (one per slice s, trained on slices ≤ s excluding holdout,
    scoring slice s's docs) plus the final-model chain scoring every
    doc — each the `_nb_classifier_sql` arithmetic verbatim, so the
    value gate certifies that Spark's ADDITIVE per-batch count merge
    equals a from-scratch retrain at every model version (counts are
    mergeable; the oracle never merges, it retrains)."""
    from financial_data_stream_processing_engine_spark.functions.numeric import (
        qcast_sql,
        qint_sql,
    )

    qsum = qcast_sql("SUM(" + qint_sql("delta") + ")") + " * 1e-09"
    parts = []
    for s in range(3):
        parts.append(
            f"""wc{s} AS (
  SELECT t, SUM(CAST(is_pos AS BIGINT)) AS c_pos,
         SUM(CAST(NOT is_pos AS BIGINT)) AS c_neg
  FROM tok WHERE NOT is_holdout AND slice <= {s} GROUP BY t),
tot{s} AS (
  SELECT SUM(CAST(is_pos AS BIGINT)) AS tot_pos,
         SUM(CAST(NOT is_pos AS BIGINT)) AS tot_neg,
         COUNT(DISTINCT t) AS v_size
  FROM tok WHERE NOT is_holdout AND slice <= {s}),
sc{s} AS (
  SELECT tok.doc_id,
         CASE WHEN wc{s}.c_pos IS NULL THEN 1 ELSE 0 END AS oov,
         CAST(COALESCE(wc{s}.c_pos, 0) + 1 AS DOUBLE)
           / CAST(tot{s}.tot_pos + tot{s}.v_size AS DOUBLE)
         - CAST(COALESCE(wc{s}.c_neg, 0) + 1 AS DOUBLE)
           / CAST(tot{s}.tot_neg + tot{s}.v_size AS DOUBLE) AS delta
  FROM tok LEFT JOIN wc{s} ON tok.t = wc{s}.t CROSS JOIN tot{s}
  WHERE tok.slice = {s}),
per{s} AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(oov) AS n_oov,
         {qsum} AS sum_delta
  FROM sc{s} GROUP BY doc_id)"""
        )
    return f"""
WITH tk AS (
  SELECT doc_id, (lang = 'en') AS is_pos, (doc_id % 5 = 0) AS is_holdout,
         (doc_id % 3) AS slice,
         UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
  FROM documents),
tok AS (SELECT * FROM tk WHERE t <> ''),
{",".join(parts)},
scf AS (
  SELECT tok.doc_id,
         CASE WHEN wc2.c_pos IS NULL THEN 1 ELSE 0 END AS oov,
         CAST(COALESCE(wc2.c_pos, 0) + 1 AS DOUBLE)
           / CAST(tot2.tot_pos + tot2.v_size AS DOUBLE)
         - CAST(COALESCE(wc2.c_neg, 0) + 1 AS DOUBLE)
           / CAST(tot2.tot_neg + tot2.v_size AS DOUBLE) AS delta
  FROM tok LEFT JOIN wc2 ON tok.t = wc2.t CROSS JOIN tot2),
perf AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(oov) AS n_oov,
         {qsum} AS sum_delta
  FROM scf GROUP BY doc_id),
roll AS (
  SELECT * FROM per0 UNION ALL SELECT * FROM per1 UNION ALL SELECT * FROM per2)
SELECT d.doc_id,
       CAST(d.doc_id % 3 AS INT) AS model_slice,
       CAST(COALESCE(r.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.n_oov, 0) AS BIGINT) AS n_oov_roll,
       CAST(COALESCE(f.n_oov, 0) AS BIGINT) AS n_oov_final,
       CAST(r.sum_delta / r.n_tokens AS DOUBLE) AS mean_delta_roll,
       CAST(f.sum_delta / f.n_tokens AS DOUBLE) AS mean_delta_final,
       CASE WHEN r.n_tokens IS NULL THEN 'und'
            WHEN r.sum_delta / r.n_tokens > 0 THEN 'en'
            ELSE 'other' END AS pred_roll,
       CASE WHEN f.n_tokens IS NULL THEN 'und'
            WHEN f.sum_delta / f.n_tokens > 0 THEN 'en'
            ELSE 'other' END AS pred_final,
       (CASE WHEN r.n_tokens IS NULL THEN 'und'
             WHEN r.sum_delta / r.n_tokens > 0 THEN 'en'
             ELSE 'other' END
        <> CASE WHEN f.n_tokens IS NULL THEN 'und'
                WHEN f.sum_delta / f.n_tokens > 0 THEN 'en'
                ELSE 'other' END) AS pred_flipped
FROM documents d
LEFT JOIN roll r ON d.doc_id = r.doc_id
LEFT JOIN perf f ON d.doc_id = f.doc_id
"""


@register("streaming_nb_model_cdc", sql=_nb_model_cdc_sql())
def streaming_nb_model_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC for the MODEL ITSELF — the retrain half of the
    `streaming_nb_gate` story: NB word counts are additively
    mergeable, so the model is maintained INCREMENTALLY per
    micro-batch (each batch's token counts merge into a versioned
    vocabulary-sized state by one groupBy-sum; totals and v_size
    derive from the merged relation — tot_pos/tot_neg as column sums,
    v_size as its row count), and every batch's docs are scored TWICE:
    under the rolling model as of their arrival, and under the final
    model — the per-doc deltas measure classifier STALENESS (slice 2's
    rolling model IS the final model, so its staleness is identically
    zero, a self-check the oracle enforces).

    Batch boundaries are content-derived (doc_id % 3) and arrive
    through streaming/sources.py::_ordered_sliced_feed, whose guard
    raises on an out-of-order batch rather than silently merging the
    wrong model version.

    At 100 TB this is the honest retrain cadence: per-batch cost is
    O(|batch tokens| + |vocabulary|) — the merge touches the
    model-sized state only, NEVER the accumulated corpus (the oracle
    retrains from scratch at every version precisely to certify the
    merge's equivalence; see _nb_model_cdc_sql)."""
    from financial_data_stream_processing_engine_spark.operators.lm import (
        nb_score,
        nb_train,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    final_wc, final_tot = _nb_model_checkpointed(docs)

    state_dir = scratch_dir(prefix="nb_cdc_model_")
    out_dir = scratch_dir(prefix="nb_cdc_scores_")

    def merge_and_score(batch_df: DataFrame, sl: int, prev_sl: int | None) -> None:
        # additive maintenance: batch counts merge into the model state;
        # an empty slice leaves the state untouched, so the previous
        # version is the newest one written, not v{sl-1}
        batch_counts, _ = nb_train(batch_df)
        if prev_sl is None:
            merged = batch_counts
        else:
            prev = spark.read.parquet(f"{state_dir}/v{prev_sl}")
            merged = (
                prev.unionByName(batch_counts)
                .groupBy("t")
                .agg(F.sum("c_pos").alias("c_pos"), F.sum("c_neg").alias("c_neg"))
            )
        # the model totals ride the state write's own job (r18, the
        # _nb_model_checkpointed idiom): the written rows ARE the
        # model, so the separate per-batch totals aggregation job that
        # re-read v{sl} is replaced by one Observation on the write
        from pyspark.sql import Observation

        obs_tot = Observation()
        merged = merged.observe(
            obs_tot,
            F.sum("c_pos").alias("tp"),
            F.sum("c_neg").alias("tn"),
            F.count(F.lit(1)).alias("vs"),
        )
        merged.write.mode("overwrite").parquet(f"{state_dir}/v{sl}")
        model = spark.read.parquet(f"{state_dir}/v{sl}")
        mt = obs_tot.get
        totals = spark.createDataFrame(
            [(mt["tp"], mt["tn"], mt["vs"])],
            "tot_pos long, tot_neg long, v_size long",
        )
        roll = nb_score(batch_df, model, totals).select(
            "doc_id",
            "n_tokens",
            F.col("n_oov_tokens").alias("n_oov_roll"),
            F.col("mean_delta").alias("mean_delta_roll"),
            F.col("nb_pred").alias("pred_roll"),
        )
        fin = nb_score(batch_df, final_wc, final_tot).select(
            "doc_id",
            F.col("n_oov_tokens").alias("n_oov_final"),
            F.col("mean_delta").alias("mean_delta_final"),
            F.col("nb_pred").alias("pred_final"),
        )
        out = (
            roll.join(fin, "doc_id")
            .withColumn("model_slice", F.lit(sl).cast("int"))
            .withColumn(
                "pred_flipped", F.col("pred_roll") != F.col("pred_final")
            )
        )
        out.write.mode("append").parquet(f"{out_dir}/data")

    _ordered_sliced_feed(docs, "doc_id", merge_and_score)
    return spark.read.parquet(f"{out_dir}/data")


# ---------------------------------------------------------------------------
# streaming pHash near-dup gate — the banded image index maintained per
# micro-batch (VERDICT r13 next-step #4a: operators/phash.py composed
# with the r12 streaming-gate pattern)
# ---------------------------------------------------------------------------


def _phash_gate_sql() -> str:
    """Batch oracle for the streamed pHash gate: the full phash_tbl
    reconstruction (llm_queries._phash_sql_ctes — md5 pixels, integer
    DCT, exact median, bit pack), then for every image the count/min
    of its Hamming-≤3 matches among images of STRICTLY EARLIER slices
    (slice = media_id % 3 = arrival batch).  The quadratic all-pairs
    probe exists only here; Spark's index is the banded band-bucket
    join per batch."""
    from financial_data_stream_processing_engine_spark.plans.llm_queries import (
        _phash_sql_ctes,
    )

    return f"""
WITH {_phash_sql_ctes()},
gate AS (
  SELECT b.media_id,
         COUNT(a.media_id) AS n_prior_dups,
         MIN(CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER))
           AS min_prior_hamming
  FROM phash_tbl b
  LEFT JOIN phash_tbl a
    ON a.media_id % 3 < b.media_id % 3
   AND bit_count(xor(a.phash, b.phash)) <= 3
  GROUP BY b.media_id)
SELECT p.media_id,
       CAST(p.media_id % 3 AS INTEGER) AS slice,
       p.phash,
       CAST(g.n_prior_dups AS BIGINT) AS n_prior_dups,
       g.min_prior_hamming,
       (g.n_prior_dups > 0) AS is_near_dup
FROM phash_tbl p JOIN gate g ON g.media_id = p.media_id
"""


@register("streaming_phash_gate", sql=_phash_gate_sql())
def streaming_phash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection as a CONTINUOUS GATE — the banded
    pHash index maintained per micro-batch: images arrive in 3
    doc_id-sliced batches (streaming/sources.py::_ordered_sliced_feed
    — an out-of-order batch raises rather than probing a wrong index
    version), each batch is
    decoded and hashed ONCE (operators/phash.py::phash64, the real
    stdlib PNG decode), probed against the ACCUMULATED band index of
    all earlier batches (::phash_probe_index — candidates only from
    the (band, val) bucket join, pigeonhole-complete at radius 3),
    and then its own band rows are APPENDED to the index: index
    maintenance is O(|batch| × 4 band rows), never a rebuild.

    Output per image: (media_id, slice, phash, n_prior_dups,
    min_prior_hamming, is_near_dup) — the planted perturbation family
    (doc 5j+4 ← doc 5j, slices always differing by 1 mod 3) supplies
    real cross-batch matches in both directions.  At 100 TB the index
    is a bucket-partitioned table and each micro-batch costs one keyed
    shuffle of the batch against its colliding buckets — the exact
    batch-vs-index shape of similarity_index_maintain, applied to the
    image modality.  Oracle: the quadratic earlier-slice probe over
    the full phash_tbl reconstruction (only the oracle is all-pairs).
    """
    from financial_data_stream_processing_engine_spark.operators import (
        multimodal,
        phash as phash_ops,
    )
    from financial_data_stream_processing_engine_spark.plans import media_fixtures

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pngs = media_fixtures.payload_frame(docs, media_fixtures.png_phash)
    # generate the PNGs ONCE to a staging dir before the slice split:
    # the slice filter cannot push below the opaque mapInPandas, so
    # filtering the generator frame directly would run the PNG encode
    # over the FULL corpus once per slice (3×); against the staged
    # parquet the doc_id predicate pushes into the scan (ADVICE r14 #1)
    png_stage = scratch_dir(prefix="phash_gate_png_")
    pngs.write.mode("overwrite").parquet(png_stage)
    staged = spark.read.parquet(png_stage)

    index_dir = scratch_dir(prefix="phash_gate_index_")
    out_dir = scratch_dir(prefix="phash_gate_out_")

    def gate_batch(batch_df: DataFrame, sl: int, prev_sl: int | None) -> None:
        media = multimodal.as_media(
            batch_df, id_col="doc_id", payload=F.col("payload"),
            kind="image", mime="image/png",
        )
        # decode + hash ONCE per batch; the tiny batch-sized frame
        # feeds the probe, the output row, and the index append
        ph = phash_ops.phash64(media).localCheckpoint()
        bands = phash_ops.phash_bands(ph)
        base = ph.select(
            "media_id",
            F.lit(sl).cast("int").alias("slice"),
            "phash",
        )
        # the index is non-empty once any earlier slice was processed
        # (not "sl > 0": an empty slice 0 writes no index rows)
        if prev_sl is None:
            out = base.select(
                "media_id", "slice", "phash",
                F.lit(0).cast("long").alias("n_prior_dups"),
                F.lit(None).cast("int").alias("min_prior_hamming"),
                F.lit(False).alias("is_near_dup"),
            )
        else:
            index = spark.read.parquet(f"{index_dir}/data")
            hits = (
                phash_ops.phash_probe_index(bands, index)
                .groupBy("id_b")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_prior_dups"),
                    F.min("hamming").cast("int").alias("min_prior_hamming"),
                )
                .withColumnRenamed("id_b", "media_id")
            )
            out = (
                base.join(hits, ["media_id"], "left")
                .select(
                    "media_id", "slice", "phash",
                    F.coalesce(F.col("n_prior_dups"), F.lit(0))
                    .cast("long")
                    .alias("n_prior_dups"),
                    "min_prior_hamming",
                )
                .withColumn("is_near_dup", F.col("n_prior_dups") > 0)
            )
        out.write.mode("append").parquet(f"{out_dir}/data")
        # append AFTER probing: the index holds strictly-earlier batches
        bands.write.mode("append").parquet(f"{index_dir}/data")

    _ordered_sliced_feed(staged, "doc_id", gate_batch)
    return spark.read.parquet(f"{out_dir}/data")


# ---------------------------------------------------------------------------
# streaming unigram-tokenizer CDC — the (word, freq) training state is
# additively mergeable, so the tokenizer retrains per micro-batch from
# a model-sized merge, never a corpus re-read (VERDICT r13 #4b: the
# streaming_nb_model_cdc pattern applied to the unigram LM)
# ---------------------------------------------------------------------------

#: EM rounds for the CDC retrain — 1 (init vocabulary + one Viterbi
#: round): the entry certifies STATE MAINTENANCE (merge ≡ retrain at
#: every version), not EM depth, which text_unigram_train_fit already
#: certifies at 3 rounds.
_CDC_UNIGRAM_ROUNDS = 1


def _unigram_cdc_sql() -> str:
    """Oracle for the tokenizer-CDC gate: THREE full from-scratch
    training chains (the final full-corpus chain plus one per rolling
    prefix doc_id%3 <= s for s in {0,1}; slice 2's rolling prefix IS
    the full corpus, so its rolling scores read the final chain), each
    the llm_queries._unigram_sql_parts text verbatim with a distinct
    CTE prefix and the composition/grid VALUES emitted once and
    shared.  Spark maintains the (word, freq) state ADDITIVELY per
    batch; the oracle never merges — it retrains from scratch at every
    version, so the value gate certifies the merge's equivalence (the
    nb_model_cdc argument, applied to the tokenizer)."""
    from financial_data_stream_processing_engine_spark.operators.unigram import (
        MAX_WORD_LEN,
    )
    from financial_data_stream_processing_engine_spark.plans.llm_queries import (
        _unigram_sql_parts,
    )

    k = _CDC_UNIGRAM_ROUNDS
    chains = [_unigram_sql_parts(k)]
    for s in range(2):
        chains.append(
            _unigram_sql_parts(
                k,
                p=f"c{s}",
                src=f"(SELECT text FROM documents WHERE doc_id % 3 <= {s})",
                comp_grid_from=("ugrid", "ucomp"),
            )
        )
    roll_of = {0: f"c0b{k}", 1: f"c1b{k}", 2: f"ub{k}"}
    per_slice = "\nUNION ALL\n".join(
        f"""SELECT d.doc_id, CAST({s} AS INTEGER) AS model_slice,
       CAST(SUM(d.n) AS BIGINT) AS n_words,
       CAST(SUM(d.n * br.n_parts) AS BIGINT) AS n_pieces_roll,
       CAST(SUM(d.n * br.cost) AS BIGINT) AS total_cost_roll,
       CAST(SUM(d.n * bf.n_parts) AS BIGINT) AS n_pieces_final,
       CAST(SUM(d.n * bf.cost) AS BIGINT) AS total_cost_final
FROM cdw d
JOIN {roll_of[s]} br ON br.word = d.word
JOIN ub{k} bf ON bf.word = d.word
WHERE d.slice = {s}
GROUP BY d.doc_id"""
        for s in range(3)
    )
    joined_chains = ",\n".join(chains)
    return f"""
WITH {joined_chains},
cdw AS MATERIALIZED (
  SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS slice,
         w AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS w
        FROM documents)
  WHERE LENGTH(w) <= {MAX_WORD_LEN}
  GROUP BY doc_id, w)
SELECT *,
       (n_pieces_roll <> n_pieces_final
        OR total_cost_roll <> total_cost_final) AS seg_drift
FROM ({per_slice})
"""


@register("streaming_unigram_cdc", sql=_unigram_cdc_sql())
def streaming_unigram_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC for the TOKENIZER MODEL — the retrain half of the unigram
    story (the streaming_nb_model_cdc pattern): the unigram trainer's
    corpus state is the (word, freq) relation, which is ADDITIVELY
    mergeable, so each micro-batch merges its word counts into a
    versioned word-frequency state with one groupBy-sum and retrains
    the vocabulary-sized Viterbi-EM from the MERGED relation
    (operators/unigram.py::unigram_train_words — the corpus is never
    re-read; per-batch cost is O(|batch words| + |vocabulary| × the
    constant composition fan-out)).  Every batch's documents are then
    segmented TWICE: under the rolling model as of their arrival and
    under the final model — the integer piece/cost deltas measure
    tokenizer STALENESS, and slice 2's rolling state equals the full
    corpus, so its drift is identically zero (the self-check the
    oracle enforces by reading slice 2's rolling scores off the final
    chain).  Spark exploits the same identity (VERDICT r14 #3): the
    last slice's rolling model is the final model BY CONSTRUCTION, so
    the entry reuses the final scores for it instead of retraining —
    one fewer vocabulary-sized training, value-pinned by the
    batch-side from-scratch retrain in tests/test_streaming.py.

    Batch boundaries are content-derived (doc_id % 3) and arrive
    through streaming/sources.py::_ordered_sliced_feed — an
    out-of-order batch would merge the wrong state version and raises
    instead.  Everything in the decision path is exact integers (QLOG
    costs, counts), so the driver value-hashes the whole maintenance
    loop.  Oracle: from-scratch retrains at every version — Spark
    merges, the oracle never does, which is precisely what certifies
    the merge."""
    from financial_data_stream_processing_engine_spark.operators import unigram

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # spill=False throughout: a rounds=1 retrain has shallow lineage —
    # the one localCheckpoint of the final vocabulary replaces five
    # per-training parquet round-trip jobs (measured ~1 s/train saved)
    final_vocab, _ = unigram.unigram_train_words(
        unigram.word_freqs(docs), rounds=_CDC_UNIGRAM_ROUNDS, spill=False
    )
    # final-model scores are batching-independent (a doc's words live
    # inside its own rows), so segment the WHOLE corpus under the
    # final model ONCE and join per batch — not one Viterbi per batch
    fin_dir = scratch_dir(prefix="unigram_cdc_final_")
    # n_words rides the final frame: it is model-independent (every
    # word of a doc survives segmentation under ANY vocabulary — OOV
    # falls back to characters), so the rolling pass never needs to
    # recount it
    unigram.unigram_segment(docs, final_vocab).select(
        "doc_id",
        "n_words",
        F.col("n_pieces").alias("n_pieces_final"),
        F.col("total_cost").alias("total_cost_final"),
    ).write.mode("overwrite").parquet(fin_dir)
    fin_all = spark.read.parquet(fin_dir)

    state_dir = scratch_dir(prefix="unigram_cdc_state_")
    out_dir = scratch_dir(prefix="unigram_cdc_scores_")

    def merge_and_segment(batch_df: DataFrame, sl: int, prev_sl: int | None) -> None:
        # an empty slice leaves the state untouched, so the previous
        # version is the newest one written, not v{sl-1}
        batch_words = unigram.word_freqs(batch_df)
        if prev_sl is None:
            merged = batch_words
        else:
            prev = spark.read.parquet(f"{state_dir}/v{prev_sl}")
            merged = (
                prev.unionByName(batch_words)
                .groupBy("word")
                .agg(F.sum("freq").cast("long").alias("freq"))
            )
        merged.write.mode("overwrite").parquet(f"{state_dir}/v{sl}")
        if sl == 2:
            # the merged state at the LAST slice IS the full corpus
            # (slices 0..2 partition doc_id % 3), so its rolling model
            # is the final model BY CONSTRUCTION — training it again
            # is pure cost, and its rolling scores are the final
            # scores (VERDICT r14 #3; the oracle already reads slice
            # 2's rolling chain off the final chain, and
            # tests/test_streaming.py re-derives this slice's rolling
            # scores from an independent from-scratch retrain, so the
            # reuse stays value-certified batch-side).  The state
            # merge above still runs: the versioned (word, freq)
            # relation is the CDC product, model reuse is not.
            roll = fin_all.join(batch_df.select("doc_id"), ["doc_id"]).select(
                "doc_id",
                F.col("n_pieces_final").alias("n_pieces_roll"),
                F.col("total_cost_final").alias("total_cost_roll"),
            )
        else:
            state = spark.read.parquet(f"{state_dir}/v{sl}")
            roll_vocab, _ = unigram.unigram_train_words(
                state, rounds=_CDC_UNIGRAM_ROUNDS, spill=False
            )
            roll = unigram.unigram_segment(batch_df, roll_vocab).select(
                "doc_id",
                F.col("n_pieces").alias("n_pieces_roll"),
                F.col("total_cost").alias("total_cost_roll"),
            )
        out = (
            roll.join(fin_all, ["doc_id"])
            .withColumn("model_slice", F.lit(sl).cast("int"))
            .withColumn(
                "seg_drift",
                (F.col("n_pieces_roll") != F.col("n_pieces_final"))
                | (F.col("total_cost_roll") != F.col("total_cost_final")),
            )
        )
        out.write.mode("append").parquet(f"{out_dir}/data")

    _ordered_sliced_feed(docs, "doc_id", merge_and_segment)
    return spark.read.parquet(f"{out_dir}/data")
