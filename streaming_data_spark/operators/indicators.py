"""Technical-indicator operators over per-key daily closes.

The reference's candle pipeline materializes daily OHLCV rows and
change codes (airflow/dags/upbit_daily_candels.py:60-90) and charts
them in Kibana; the indicators a charting layer derives from those
candles — moving-average crossovers, Bollinger bands, EWMA smoothing,
drawdown — are the natural next operators over the same daily grid.
All are built on ONE shuffle per key (the daily aggregate), with every
rolling form riding that same keyed window — no re-partitioning
between indicator passes.

Each of the eight indicators (SMA cross, Bollinger, EWMA, RSI, ATR,
stochastic, OBV, Holt) is one function over a batch or a streaming
frame. The inherently-sequential recursions (EWMA, RSI, Holt and the
capped-balance ledger) are pure per-key folds in streaming/stateful,
bound here by ``_bind_fold``, which picks the Spark API from
``df.isStreaming``. The other five are window plans on a batch; on a
stream they run their ``_advance_*`` fold, because Spark's streaming
planner has no row-frame windows. On a batch the window plan is the
faster one: bound as folds, a27/a28/a33/a35/a36 measured 8-35 %
slower (medians of 7 interleaved runs at sf0.1 on 4 vCPU).

Scale notes: inputs are per-(key, day) aggregates, so row counts are
bounded by keys × calendar days regardless of fact volume; the only
fact-sized pass is the daily-close groupBy, a map-side-combinable
aggregation. A fold is one key-sorted Arrow pass per partition with
state carried across record batches (on a stream: per key and
micro-batch, with state in the state store), parallel across keys
and sequential only in the dimension the math requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    TimestampType,
)

from streaming_data_spark.streaming.stateful import (
    _ATR_STATE,
    _BOLL_STATE,
    _CROSS_STATE,
    _EWMA_STATE,
    _HOLT_STATE,
    _OBV_STATE,
    _RSI_STATE,
    _STOCH_STATE,
    _advance_atr,
    _advance_balance,
    _advance_bollinger,
    _advance_cross,
    _advance_ewma,
    _advance_holt,
    _advance_obv,
    _advance_rsi,
    _advance_stoch,
    _bind_fold,
    _fold_input,
    _ohlc,
    _us,
)


def _day_fields(day_col: str, *doubles: str, **typed: DataType) -> list[StructField]:
    """A per-day fold's output fields: the timestamp ``day_col``, then
    ``doubles`` as DoubleType, then ``typed`` (name=type) in order."""
    return [
        StructField(day_col, TimestampType()),
        *(StructField(c, DoubleType()) for c in doubles),
        *(StructField(c, t) for c, t in typed.items()),
    ]


def daily_closes(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """(key, day, close): the last price of each key's day — the same
    shape the reference stores per candle (trade_price at day end).

    ``tiebreak_col`` (an event id) makes the close TOTAL when two of a
    key's events share the day's max timestamp — max_by over a bare ts
    would pick by partition/merge order there, and every indicator
    downstream (crossovers, bands, EWMA, drawdown) would inherit the
    flap. Pass None only when (key, ts) is known unique."""
    order = (
        F.col(ts_col)
        if tiebreak_col is None
        else F.struct(F.col(ts_col), F.col(tiebreak_col))
    )
    return events.groupBy(
        key, F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(F.max_by(F.col(price_col), order).alias("close"))


def sma_crossover(
    daily: DataFrame,
    key: str = "user_id",
    short: int = 5,
    long: int = 20,
) -> DataFrame:
    """Golden/death-cross detection: short-window SMA crossing the
    long-window SMA between consecutive days. Emitted only where the
    LONG window is fully warmed (n = ``long`` days) on both the
    current and previous day, so every signal compares two real SMAs.

    SMAs are rounded to 6 decimals BEFORE the comparison — rolling
    averages are order-dependent float sums, and comparing rounded
    values keeps the signal identical across engines (the oracle
    compares the same rounded values).

    On a stream the ``_advance_cross`` fold carries each key's trailing
    ``long`` closes across micro-batches (O(long) state per key), so a
    cross whose two sides arrive in different batches still fires.
    """
    if daily.isStreaming:
        return _bind_fold(
            daily,
            key,
            ["day"],
            # signal is None on warmed days without a cross, emitted anyway
            # so the stream is row-equal to the window plan
            _day_fields("day", "close", "sma_s", "sma_l", signal=StringType()),
            lambda state, b: _advance_cross(
                state, _us(b["day"]), b["close"].astype("float64"), short, long
            ),
            _CROSS_STATE,
        )
    w = Window.partitionBy(key).orderBy("day")
    w_s = w.rowsBetween(-(short - 1), 0)
    w_l = w.rowsBetween(-(long - 1), 0)
    enriched = (
        daily.withColumn("sma_s", F.round(F.avg("close").over(w_s), 6))
        .withColumn("sma_l", F.round(F.avg("close").over(w_l), 6))
        .withColumn("n_l", F.count("close").over(w_l))
    )
    lagged = (
        enriched.withColumn("p_sma_s", F.lag("sma_s").over(w))
        .withColumn("p_sma_l", F.lag("sma_l").over(w))
        .withColumn("p_n_l", F.lag("n_l").over(w))
    )
    return (
        lagged.filter((F.col("n_l") == long) & (F.col("p_n_l") == long))
        .withColumn(
            "signal",
            F.when(
                (F.col("sma_s") > F.col("sma_l"))
                & (F.col("p_sma_s") <= F.col("p_sma_l")),
                F.lit("GOLDEN"),
            ).when(
                (F.col("sma_s") < F.col("sma_l"))
                & (F.col("p_sma_s") >= F.col("p_sma_l")),
                F.lit("DEATH"),
            ),
        )
        .select(key, "day", "close", "sma_s", "sma_l", "signal")
    )


def bollinger_bands(
    daily: DataFrame,
    key: str = "user_id",
    periods: int = 20,
    n_std: float = 2.0,
) -> DataFrame:
    """Rolling mean ± n_std·sample-stddev bands over ``periods`` days,
    plus the close's position (ABOVE/IN/BELOW) against the ROUNDED
    bands (same cross-engine determinism contract as sma_crossover).
    Only fully-warmed windows emit — a 2-day "20-day band" is noise.
    On a stream the ``_advance_bollinger`` fold carries the trailing
    window, repeating Spark's Average and CentralMomentAgg op order so
    the rounded bands agree bit-for-bit."""
    if daily.isStreaming:
        return _bind_fold(
            daily,
            key,
            ["day"],
            _day_fields("day", "close", "mid", "upper", "lower", position=StringType()),
            lambda state, b: _advance_bollinger(
                state, _us(b["day"]), b["close"].astype("float64"), periods, n_std
            ),
            _BOLL_STATE,
        )
    w = Window.partitionBy(key).orderBy("day").rowsBetween(-(periods - 1), 0)
    mid = F.avg("close").over(w)
    sd = F.stddev_samp("close").over(w)
    banded = (
        daily.withColumn("mid", F.round(mid, 6))
        .withColumn("upper", F.round(mid + n_std * sd, 6))
        .withColumn("lower", F.round(mid - n_std * sd, 6))
        .withColumn("w_n", F.count("close").over(w))
    )
    return (
        banded.filter(F.col("w_n") == periods)
        .withColumn(
            "position",
            F.when(F.col("close") > F.col("upper"), F.lit("ABOVE"))
            .when(F.col("close") < F.col("lower"), F.lit("BELOW"))
            .otherwise(F.lit("IN")),
        )
        .select(key, "day", "close", "mid", "upper", "lower", "position")
    )


def ewma(
    daily: DataFrame,
    key: str = "user_id",
    alpha: float = 0.2,
    day_col: str = "day",
    price_col: str = "close",
) -> DataFrame:
    """Recursive exponentially-weighted moving average per key:
    y_1 = x_1; y_t = alpha·x_t + (1-alpha)·y_{t-1}, over a timestamp
    ``day_col``. Returns (key, day, close, ewma), one row per day.

    The recursion is the ``_advance_ewma`` fold under ``_bind_fold``
    (key-sorted partitions on a batch, O(1) state per key on a
    stream). The fold is written as EXACTLY ``a*x + (1-a)*y`` so an
    engine repeating the same IEEE ops (the DuckDB recursive-CTE
    oracle) reproduces it bit-for-bit before rounding.

    A closed-form window expression exists (y_t = Σ a(1-a)^(t-k)x_k)
    but needs (1-a)^(-k) factors that overflow past a few thousand
    rows — the per-key fold is the numerically-honest form.
    """
    a = float(alpha)
    return _bind_fold(
        daily,
        key,
        [day_col],
        _day_fields(day_col, price_col, "ewma"),
        lambda state, b: _advance_ewma(
            state, _us(b[day_col]), b[price_col].astype("float64"), a
        ),
        _EWMA_STATE,
    )


def max_drawdown(daily: DataFrame, key: str = "user_id") -> DataFrame:
    """Worst peak-to-trough decline per key: running peak via an
    expanding max, drawdown = (close - peak) / peak, then the per-key
    minimum. Division and min are IEEE-exact single ops, so only the
    final value is rounded (no accumulation-order hazard)."""
    w = Window.partitionBy(key).orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = daily.withColumn("peak", F.max("close").over(w)).withColumn(
        "drawdown", (F.col("close") - F.col("peak")) / F.col("peak")
    )
    return dd.groupBy(key).agg(
        F.round(F.min("drawdown"), 6).alias("max_drawdown"),
        F.count(F.lit(1)).alias("n_days"),
    )


def atr(
    ohlcv_daily: DataFrame,
    key: str = "user_id",
    periods: int = 14,
) -> DataFrame:
    """Average True Range (SMA variant) over per-key daily OHLC rows:
    TR = greatest(high-low, |high-prev_close|, |low-prev_close|)
    (first day: high-low, no prev close), ATR = rolling mean of TR
    over ``periods`` days, emitted only for fully-warmed windows.
    Wilder's recursive smoothing variant is the ``rsi`` fold pattern.
    On a stream the ``_advance_atr`` fold carries the trailing TRs and
    the previous close (O(periods) state per key)."""
    if ohlcv_daily.isStreaming:
        return _bind_fold(
            ohlcv_daily,
            key,
            ["day"],
            _day_fields("day", "tr", "atr"),
            lambda state, b: _advance_atr(state, *_ohlc(b), periods),
            _ATR_STATE,
        )
    w_ord = Window.partitionBy(key).orderBy("day")
    w_frame = w_ord.rowsBetween(-(periods - 1), 0)
    prev_close = F.lag("close").over(w_ord)
    tr = F.when(
        prev_close.isNull(), F.col("high") - F.col("low")
    ).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        )
    )
    out = (
        ohlcv_daily.withColumn("tr", tr)
        .withColumn("atr", F.round(F.avg("tr").over(w_frame), 6))
        .withColumn("w_n", F.count("tr").over(w_frame))
    )
    return (
        out.filter(F.col("w_n") == periods)
        .select(key, "day", F.round("tr", 6).alias("tr"), "atr")
    )


def rsi(
    daily: DataFrame,
    key: str = "user_id",
    periods: int = 14,
    day_col: str = "day",
    price_col: str = "close",
) -> DataFrame:
    """Wilder's RSI over per-key daily closes (timestamp ``day_col``):
    the seed average gain/loss over the first ``periods`` deltas is
    followed by avg = (avg·(periods-1) + x) / periods per day. The
    recursion is the ``_advance_rsi`` fold, bound like ``ewma``; the
    DuckDB oracle is a RECURSIVE CTE repeating the identical op order.
    Emits from day ``periods``+1 (the first day with a full delta
    window), RSI rounded to 6 by Spark's round().

    avg_loss == 0 ⇒ RSI 100 (the charting convention — both engines
    branch on exact 0, deterministic)."""
    return _bind_fold(
        daily.select(key, day_col, price_col),
        key,
        [day_col],
        _day_fields(day_col, price_col, "rsi"),
        lambda state, b: _advance_rsi(
            state, _us(b[day_col]), b[price_col].astype("float64"), periods
        ),
        _RSI_STATE,
    ).withColumn("rsi", F.round("rsi", 6))


def stochastic(
    ohlcv_daily: DataFrame,
    key: str = "user_id",
    periods: int = 14,
    smooth: int = 3,
) -> DataFrame:
    """Stochastic oscillator over per-key daily OHLC: %K = 100 ·
    (close − min_low) / (max_high − min_low) over ``periods`` days
    (NULL when the range is 0 — both engines branch identically),
    %D = ``smooth``-day mean of %K over fully-warmed rows. Emits rows
    where both windows are full. On a stream the ``_advance_stoch``
    fold carries the trailing (high, low) window and the last %Ks."""
    if ohlcv_daily.isStreaming:
        return _bind_fold(
            ohlcv_daily,
            key,
            ["day"],
            _day_fields("day", "close", "pct_k", "pct_d"),
            lambda state, b: _advance_stoch(state, *_ohlc(b), periods, smooth),
            _STOCH_STATE,
        )
    w_frame = Window.partitionBy(key).orderBy("day").rowsBetween(-(periods - 1), 0)
    lo = F.min("low").over(w_frame)
    hi = F.max("high").over(w_frame)
    with_k = (
        ohlcv_daily.withColumn("w_n", F.count("close").over(w_frame))
        .withColumn(
            "pct_k",
            F.when(hi == lo, F.lit(None).cast("double")).otherwise(
                F.round(100.0 * (F.col("close") - lo) / (hi - lo), 6)
            ),
        )
        .filter(F.col("w_n") == periods)
    )
    w_full = Window.partitionBy(key).orderBy("day")
    w_d = w_full.rowsBetween(-(smooth - 1), 0)
    return (
        with_k.withColumn("rn_full", F.row_number().over(w_full))
        .withColumn("pct_d", F.round(F.avg("pct_k").over(w_d), 6))
        .filter(F.col("rn_full") >= smooth)
        .select(key, "day", "close", "pct_k", "pct_d")
    )


def obv(
    ohlcv_daily: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """On-balance volume over per-key daily candles, with the day's
    trade COUNT as the volume unit (integer-exact — no float
    accumulation, so the cumulative sum needs no rounding contract):
    +n on up days, −n on down days, 0 on flat/first days; OBV is the
    running total. On a stream the ``_advance_obv`` fold carries the
    previous close and the total (O(1) state per key)."""
    if ohlcv_daily.isStreaming:
        return _bind_fold(
            ohlcv_daily,
            key,
            ["day"],
            _day_fields("day", "close", obv=LongType()),
            lambda state, b: _advance_obv(
                state,
                _us(b["day"]),
                b["close"].astype("float64"),
                b["n_trades"].astype("int64"),
            ),
            _OBV_STATE,
        )
    w_ord = Window.partitionBy(key).orderBy("day")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    prev_close = F.lag("close").over(w_ord)
    signed = (
        F.when(prev_close.isNull(), F.lit(0))
        .when(F.col("close") > prev_close, F.col("n_trades"))
        .when(F.col("close") < prev_close, -F.col("n_trades"))
        .otherwise(F.lit(0))
    )
    return (
        ohlcv_daily.withColumn("signed", signed)
        .withColumn("obv", F.sum("signed").over(w_cum))
        .select(key, "day", "close", "obv")
    )


def holt(
    daily: DataFrame,
    key: str = "user_id",
    alpha: float = 0.2,
    beta: float = 0.1,
    day_col: str = "day",
    price_col: str = "close",
) -> DataFrame:
    """Holt's linear-trend exponential smoothing per key — a
    DOUBLE-state recursion (level + trend), the ``_advance_holt`` fold
    bound like ``ewma``:

        l_1 = x_1,  b_1 = 0
        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    and the one-step-ahead forecast ``fc_next = l_t + b_t`` (what the
    model predicts for tomorrow, the number a trading dashboard
    plots against the next candle). Daily closes are exact value
    SELECTIONS (max_by), and (1−α)/(1−β) are precomputed once and
    interpolated into the oracle with repr() — every fold step is
    then the same IEEE op sequence in both engines, so outputs are
    exact and unrounded.
    """
    return _bind_fold(
        daily.select(key, day_col, price_col),
        key,
        [day_col],
        _day_fields(day_col, price_col, "level", "trend", "fc_next"),
        lambda state, b: _advance_holt(
            state, _us(b[day_col]), b[price_col].astype("float64"), alpha, beta
        ),
        _HOLT_STATE,
    )


def clamped_balance(
    deltas: DataFrame,
    key: str = "l_suppkey",
    seq_col: str = "month",
    delta_col: str = "delta",
    start: float = 250.0,
    cap: float = 500.0,
) -> DataFrame:
    """Capped running-balance ledger per key: fold
    ``bal_t = min(cap, max(0, bal_{t-1} + delta_t))`` over the key's
    seq order, with ``bal_0`` seeded from ``start + delta_1``. Returns
    (key, seq, delta, balance, clamp): every input row plus a ``clamp``
    flag (-1 the step hit the floor, +1 the ceiling, 0 in range) — the
    inventory / wallet / quota simulation a prefix-sum window cannot
    express because clamping destroys the prefix structure.

    The fold is ``_advance_balance``, bound like ``ewma``. When the
    deltas sit on an integer grid (whole-unit quantities), every
    add/clamp is IEEE-exact, so a recursive-CTE oracle repeating the
    identical op order reproduces the fold bit-for-bit.

    Reference parity: the reference keeps running stock levels in
    Postgres application code (upserts per event); this is the
    engine-side, partition-parallel form.
    """
    cap_f, start_f = float(cap), float(start)
    seq_f, delta_f = deltas.schema[seq_col], deltas.schema[delta_col]
    return _bind_fold(
        deltas.select(key, seq_col, delta_col),
        key,
        [seq_col],
        [
            seq_f,
            delta_f,
            StructField("balance", DoubleType()),
            StructField("clamp", IntegerType()),
        ],
        lambda state, b: _advance_balance(
            state,
            _fold_input(b[seq_col], seq_f.dataType),
            b[delta_col],
            start_f,
            cap_f,
        ),
    )
