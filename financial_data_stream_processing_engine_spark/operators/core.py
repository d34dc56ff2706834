"""Reference-compat core operators (SURVEY.md §2.1).

Semantics preserved from the reference (file:line cites are into
``/root/reference/financial_engine.py``):

* ``clean``            — F1 DataCleaner (:283-291): drop NULL/non-positive
                         price, then clamp volume >= 0.  Order matters:
                         the clamp applies only to rows that survive the
                         price filter (:287-290).
* ``moving_average``   — A1 MovingAverageCalculator (:293-312): per-key
                         sliding window over the last N rows (row-count,
                         not time); the average is emitted **only when
                         exactly N rows are buffered** (:308) — earlier
                         rows pass through with NULL.  Rows with a NULL
                         key or NULL value pass through untouched and do
                         not consume window state (:303).
* ``with_alert_flag`` / ``alerts`` — K3 AlertGenerator (:97-110): alert
                         iff ``moving_average > threshold``.  The raw-
                         price branch at :107-110 is dead code in the
                         reference and intentionally not implemented.
* ``union_sources``    — U1 (:335-344, :372): all sources feed one
                         pipeline; with DataFrames this is a by-name
                         union, and downstream keyed state is naturally
                         shared across sources (gotcha #2 in SURVEY §2.1).

All combinators are built-in-function compositions — no Python UDFs —
so they stay inside whole-stage codegen and scale with the cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _key_participates(df: DataFrame, key: str) -> Column:
    """The key-participation rule of every keyed-state operator (batch
    ``moving_average``, :func:`_keyed_fold`, the streaming shell in
    ``streaming/stateful.py``): a row takes state only when its key is
    non-NULL and, for string keys, non-empty — the reference's
    ``if symbol and ...`` is a truthiness test (financial_engine.py:303),
    so ``''`` is out too.  Other rows come out with NULL outputs."""
    ok = F.col(key).isNotNull()
    if df.schema[key].dataType.simpleString() == "string":
        ok = ok & (F.col(key) != "")
    return ok


def clean(
    df: DataFrame,
    price_col: str = "price",
    volume_col: str = "volume",
) -> DataFrame:
    """Drop rows with NULL or non-positive price AND rows with NULL
    volume; clamp surviving volume >= 0.

    Reference: DataCleaner.process (financial_engine.py:283-291).
    Filter first, clamp second — the reference never clamps a row it
    drops.  NULL volume DROPS the row: the reference's
    ``max(0, data.get('volume', 0))`` defaults only a MISSING key,
    while an explicit ``None`` (the WebSocket adapter emits
    ``volume=raw.get('vol')``, :235) raises TypeError and the per-row
    isolation (``_run_pipeline``, :358-365) discards the row.  In the
    tabular schema the column always exists, so NULL is the reference's
    None case — never its missing-key case.
    """
    return df.filter(
        F.col(price_col).isNotNull()
        & (F.col(price_col) > 0)
        & F.col(volume_col).isNotNull()
    ).withColumn(
        volume_col,
        F.greatest(F.lit(0).cast("long"), F.col(volume_col).cast("long")),
    )


def moving_average(
    df: DataFrame,
    n: int = 5,
    key: str = "symbol",
    value: str = "price",
    order_by: tuple[str, ...] = ("ts", "id"),
    out_col: str = "moving_average",
) -> DataFrame:
    """Per-key row-count sliding mean over the last ``n`` rows.

    Reference: MovingAverageCalculator.process (financial_engine.py:
    293-312).  Gotchas preserved (SURVEY.md §2.1):

    1. Emits only at exactly-full windows — the first n-1 rows per key
       get NULL (reference: field absent, :308-310).
    2. Rows whose key fails :func:`_key_participates` (NULL, or ``''``
       for string keys) or whose value is NULL pass through untouched
       and do NOT consume state (:303): they neither get a moving
       average nor occupy a slot in the n-row window of later rows.
    3. The window is row-count over arrival order, per key — not time
       based.  Batch "arrival order" is ``order_by`` (deterministic
       total order; ``(key, *order_by)`` must be row-unique among the
       participating rows — pass the ingestion-ts plus a tiebreaker).

    Implementation note: the mean is computed as an explicit lag-chain
    sum ``(v + lag(v,1) + … + lag(v,n-1)) / n`` rather than
    ``avg().over(rowsBetween)``.  Semantically identical, but the
    left-to-right IEEE summation order is engine-independent, which
    makes results bit-reproducible against external oracles; it also
    avoids per-row frame re-aggregation.

    Gotcha 2 is honored by partitioning the window by ``(key,
    participates)``: a non-participating row sits in a partition of its
    own, so it can never occupy a lag slot of a participating row, and
    its output is masked to NULL.

    Scale: one window shuffle on ``(key, participates)``, no Python,
    state bounded by the frame.
    """
    val = F.col(value)
    participates = _key_participates(df, key) & val.isNotNull()
    w = Window.partitionBy(F.col(key), participates).orderBy(*[F.col(c) for c in order_by])
    total = val
    for i in range(1, n):
        total = total + F.lag(val, i).over(w)
    # Row-uniqueness of (key, *order_by) among participating rows is
    # REQUIRED (a tie would make the window order, and so the averages,
    # nondeterministic), so it is enforced engine-side: within the same
    # window pass a tie with the previous row's order_by tuple raises —
    # no extra shuffle, no extra action.
    ident = F.struct(*[F.col(c) for c in order_by])
    dup = participates & F.lag(ident, 1).over(w).eqNullSafe(ident)
    ma = F.when(
        dup,
        F.raise_error(
            F.lit(
                f"moving_average: ({key}, {', '.join(order_by)}) must be "
                "row-unique — pass a tiebreaker order_by column"
            )
        ).cast("double"),
    ).otherwise((total / F.lit(float(n))).cast("double"))
    return df.withColumn(out_col, F.when(participates, ma))


def with_alert_flag(
    df: DataFrame,
    threshold: float = 108.0,
    ma_col: str = "moving_average",
    out_col: str = "alert",
) -> DataFrame:
    """Mark rows whose moving average exceeds the threshold.

    Reference: AlertGenerator.update (financial_engine.py:101-106); the
    threshold default mirrors config ``price_alert_threshold`` (:39).
    NULL moving averages never alert (reference: the event without the
    key never reaches the comparison).
    """
    return df.withColumn(
        out_col, F.coalesce(F.col(ma_col) > F.lit(threshold), F.lit(False))
    )


def alerts(
    df: DataFrame, threshold: float = 108.0, ma_col: str = "moving_average"
) -> DataFrame:
    """The alert *stream*: only rows that fire (K3 as a filter)."""
    return df.filter(F.col(ma_col) > F.lit(threshold))


def union_sources(*dfs: DataFrame) -> DataFrame:
    """Union normalized source streams by column name (U1).

    Downstream keyed operators (moving_average) then share state across
    sources exactly like the reference's memoized single
    MovingAverageCalculator instance (financial_engine.py:322-325).
    """
    if not dfs:
        raise ValueError("union_sources needs at least one DataFrame")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def ewma(
    df: DataFrame,
    alpha: float = 0.2,
    key: str = "symbol",
    value: str = "price",
    order_by: tuple[str, ...] = ("ts", "id"),
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average,
    s_i = α·v_i + (1-α)·s_{i-1} (s_1 = v_1), rows ordered by
    ``order_by`` within each key.

    A true sequential recurrence: unlike the row-count moving average
    there is no fixed-frame window formulation (every row depends on
    the entire prefix), so this is the canonical grouped-fold case.
    NULL values carry the previous state and emit NULL (they do not
    decay the average) — which rules out pandas' ``ewm`` (it emits the
    carried mean at NaN positions instead of NULL), so the fold stays
    an explicit loop, run by :func:`_keyed_fold` once per Arrow batch
    of whole key groups.  Rows whose key fails :func:`_key_participates`
    (NULL or ``''``) take no state and emit NULL.  A float NaN key is
    one key, as in Spark's and DuckDB's grouping.
    """
    from pyspark.sql.types import DoubleType, StructField

    a, b = float(alpha), 1.0 - float(alpha)
    cols = list(df.columns)
    sort_cols = list(order_by)

    def fold(pdf):
        import pandas as pd

        # stable sort on (key, *order_by): groups contiguous, each
        # group internally in exactly the old per-group sort order
        pdf = pdf.sort_values([key, *sort_cols], kind="mergesort")
        state = None
        prev_key = object()
        out = []
        for kv, v in zip(pdf[key], pdf[value]):
            if kv != prev_key and not (kv != kv and prev_key != prev_key):  # NaN == NaN
                state, prev_key = None, kv
            if v is None or pd.isna(v):
                out.append(None)
                continue
            state = float(v) if state is None else a * float(v) + b * state
            out.append(state)
        pdf = pdf.copy()
        pdf[out_col] = pd.Series(out, index=pdf.index, dtype="float64")
        return pdf[cols + [out_col]]

    return _keyed_fold(df, key, order_by, fold, [StructField(out_col, DoubleType())])


def _whole_groups(batches, key: str):
    """Re-cut key-sorted pandas batches into frames of WHOLE key groups
    — the carry boundary of :func:`_keyed_fold`, in one place.

    Each batch yields its head of complete groups at once; its trailing
    group is held back, because its remaining rows may arrive in the
    next batch.  Held chunks are collected in a list and concatenated
    ONCE when the group ends, so a giant key costs one copy, not one
    per batch.  NaN keys (Spark NULLs) compare equal here, so a NULL
    group spread across batches still comes out as one group.  Empty
    batches are skipped."""
    import pandas as pd

    def lead(keys, k) -> int:
        # length of the leading run of rows whose key is k
        same = (keys.isna() if pd.isna(k) else keys == k).to_numpy()
        return len(same) if same.all() else int(same.argmin())

    def whole(chunks):
        return chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)

    held: list = []
    held_key = None
    for pdf in batches:
        if not len(pdf):
            continue
        if held:
            n = lead(pdf[key], held_key)
            if n == len(pdf):
                held.append(pdf)
                continue
            if n:
                held.append(pdf.iloc[:n])
            yield whole(held)
            pdf = pdf.iloc[n:]
        held_key = pdf[key].iloc[-1]
        cut = len(pdf) - lead(pdf[key].iloc[::-1], held_key)
        if cut:
            yield pdf.iloc[:cut]
        held = [pdf.iloc[cut:]]
    if held:
        yield whole(held)


def _keyed_fold(df: DataFrame, key: str, order_by, fold, out_fields) -> DataFrame:
    """The batch keyed fold shared by ``ewma`` and ``finance.macd``.

    Rows are repartitioned on ``key`` and sorted by ``(key,
    *order_by)`` within each partition, then ``mapInPandas`` hands
    :func:`_whole_groups` one Arrow batch at a time — one Python
    invocation per batch instead of one per group, which is what made
    per-group ``applyInPandas`` slow with many small keys.  ``fold``
    gets a frame of whole participating groups and returns it with the
    ``out_fields`` columns added; rows whose key fails
    :func:`_key_participates` skip ``fold`` and come out with those
    columns NULL, in the same single pass.

    Scale: one shuffle on ``key``; per-batch memory is the Arrow batch
    plus at most one held group.
    """
    from pyspark.sql.types import StructType

    # a fresh StructType: StructType.add would mutate df's own schema
    out_schema = StructType(list(df.schema.fields) + list(out_fields))
    nulls = dict.fromkeys((f.name for f in out_fields), float("nan"))

    def run(batches):
        for grp in _whole_groups(batches, key):
            part = grp["__part"].to_numpy()
            grp = grp.drop(columns="__part")
            if part.any():
                yield fold(grp if part.all() else grp[part])
            if not part.all():
                yield grp[~part].assign(**nulls)

    return (
        df.withColumn("__part", _key_participates(df, key))
        .repartition(key)
        .sortWithinPartitions(key, *order_by)
        .mapInPandas(run, schema=out_schema)
    )
