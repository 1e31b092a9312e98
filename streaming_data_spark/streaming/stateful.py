"""Per-key folds and the one binder that runs them over a batch or a
stream (SURVEY.md §2.9 T6).

The reference's streaming path (Logstash) is stateless per event; state
only enters through windowed aggregation. This module holds the per-key
recurrences ``window()`` can't express: gap-based sessionization
(session length is data-dependent, not fixed), cross-batch change
alerts, the folds behind the eight indicator operators in
operators/indicators (SMA cross, Bollinger, EWMA, RSI, ATR,
stochastic, OBV, Holt), the capped-balance ledger, CUSUM and a80's
seasonal Holt-Winters.

Each is a pure per-key fold, ``fold(state, rows) -> (out rows, new
state)``, and ``_bind_fold`` binds every one of them. It picks the
Spark API from ``df.isStreaming``: a stream goes through
``applyInPandasWithState`` — the Structured Streaming shape of
arbitrary stateful processing, a user function over (key, rows,
state) — and a batch through one key-sorted ``mapInPandas`` pass per
partition. A recurrence is one function under one binding, so its
stream and batch forms agree by construction.

Scale notes: state is per-key and O(1) or O(window) per key; the
shuffle is the groupBy (stream) or repartition (batch) on the key,
identical to what any keyed stateful op pays. Arrow moves rows into
pandas per key-batch (stream) or per partition (batch), so per-event
Python overhead is amortized per batch, not paid per row.
"""

from __future__ import annotations

import math
import sys
from decimal import ROUND_HALF_UP, Decimal
from typing import TYPE_CHECKING, Any, Callable, Iterator, Tuple

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# The folds run inside executor Python workers, which need not have this
# package importable (a driver may run from any directory). cloudpickle
# ships a module-level def by reference unless its module is registered,
# so register this one: every fold and helper here travels by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_GRID6 = Decimal("1e-6")


def _round6_half_up(x: float) -> float:
    """6-decimal rounding exactly as Spark's round(x, 6) on a double:
    HALF_UP on the value's decimal string (``BigDecimal(x.toString)``
    in Spark), not on the binary product ``x * 1e6``, which is itself
    rounded and lands on the wrong side of some half-way values
    (65.4790125 * 1e6 is 65479012.49999999). ``repr`` is the shortest
    decimal string, the same digits Spark reads; like Spark, -0.0
    comes back as 0.0 and NaN/inf pass through."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_GRID6, ROUND_HALF_UP)) + 0.0


def _us(col) -> list[int]:
    """Timestamp column (pandas or numpy) -> epoch microseconds, the unit
    every fold and every stored state in this module uses, as Python
    ints: a fold loop over numpy scalars runs about twice as slow."""
    return (col.astype("int64") // 1000).tolist()


def _ohlc(b) -> tuple:
    """(day µs, high, low, close) of a daily OHLC fold batch."""
    return (
        _us(b["day"]),
        b["high"].astype("float64"),
        b["low"].astype("float64"),
        b["close"].astype("float64"),
    )


def _fold_input(col, dtype):
    """A pass-through column as a fold takes it: epoch µs when its
    Spark type is TimestampType (the binders turn µs back into
    timestamps), the values as they are otherwise."""
    return _us(col) if isinstance(dtype, TimestampType) else col


def _out_columns(
    df: DataFrame, key_col: str, fields: list[StructField]
) -> tuple[StructType, list[tuple[str, bool]]]:
    """A fold operator's output schema — the key under its own name and
    input type, then ``fields`` — and each field's (name, is TimestampType)."""
    schema = StructType([StructField(key_col, df.schema[key_col].dataType), *fields])
    return schema, [(f.name, isinstance(f.dataType, TimestampType)) for f in fields]


def _rows_frame(key_col: str, keys, rows: list[tuple], cols) -> "pd.DataFrame":
    """Fold rows (tuples in field order, timestamps as epoch µs) under
    their keys as one output pandas frame. ``from_records`` builds the
    columns ~5x faster than a Python list per column."""
    import pandas as pd

    frame = pd.DataFrame.from_records(rows, columns=[name for name, _ in cols])
    for name, is_ts in cols:
        if is_ts:
            frame[name] = pd.to_datetime(frame[name], unit="us")
    frame.insert(0, key_col, keys)
    return frame


def _bind_fold(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    fields: list[StructField],
    fold: Callable[[Any, dict], tuple[list[tuple], tuple]],
    state_schema: StructType | None = None,
) -> DataFrame:
    """Bind a per-key fold as an operator over ``df``, batch or stream —
    the one binder every fold in this package goes through.

    ``fold(state, batch)`` receives the key's carried state tuple (None
    where the key starts) and a run of the key's rows in ``order_cols``
    order, as a dict of column name -> numpy array; it returns (rows,
    new state). Each row is a tuple in ``fields`` order, with
    TimestampType fields as epoch µs. The output leads with the key
    under ``key_col``'s own name and input type, so a non-default key
    never comes back renamed or retyped.

    ``df.isStreaming`` picks the Spark API:

    - a stream groups by the key through ``applyInPandasWithState``:
      per key and micro-batch, the key's rows are concatenated and
      sorted, and the state lives in the state store under
      ``state_schema`` (required here, unused on a batch) between
      micro-batches. State moves only when the key's events arrive.
    - a batch is laid out by ``repartition(key)`` then
      ``sortWithinPartitions(key, *order_cols)`` as whole keys in
      order, and ONE ``mapInPandas`` walks each partition's Arrow
      record batches: each run of one key's rows goes to the fold, with
      None state where the key starts and the state carried on where a
      key's rows straddle two record batches. One Arrow transfer per
      partition, not per key: per-group ``applyInPandas`` measured ~5x
      slower with thousands of small keys (1500 users x ~27 days at
      sf0.1). For the same reason a run is numpy slices, not a pandas
      frame: a per-key ``iloc`` slice would cost more than the fold.
    """
    out_schema, cols = _out_columns(df, key_col, fields)

    if df.isStreaming:
        if state_schema is None:
            raise ValueError("a fold bound over a stream needs a state_schema")

        def _fn(
            key: Tuple[Any, ...],
            pdfs: Iterator["pd.DataFrame"],
            state: GroupState,
        ) -> Iterator["pd.DataFrame"]:
            import pandas as pd

            batch = pd.concat(list(pdfs)).sort_values(order_cols)
            arrays = {c: batch[c].to_numpy() for c in batch.columns}
            rows, new_state = fold(tuple(state.get) if state.exists else None, arrays)
            state.update(tuple(new_state))
            if rows:
                yield _rows_frame(key_col, [key[0]] * len(rows), rows, cols)

        return df.groupBy(key_col).applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def _fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        last_key, state = None, None
        for pdf in pdfs:
            if pdf.empty:
                continue
            arrays = {c: pdf[c].to_numpy() for c in pdf.columns}
            keys = arrays[key_col]
            # same[i]: row i continues the key of the row before it (row 0:
            # of the previous batch's last row)
            same = np.empty(len(keys), dtype=bool)
            same[0] = keys[0] == last_key
            same[1:] = keys[1:] == keys[:-1]
            bounds = [0, *(np.flatnonzero(~same[1:]) + 1).tolist(), len(keys)]
            rows: list[tuple] = []
            runs: list[int] = []
            for lo, hi in zip(bounds, bounds[1:]):
                if not same[lo]:
                    state = None
                n = len(rows)
                out, state = fold(state, {c: a[lo:hi] for c, a in arrays.items()})
                rows.extend(out)
                runs.append(len(rows) - n)
            last_key = keys[-1]
            if rows:
                run_keys = np.repeat(keys[bounds[:-1]], runs)
                yield _rows_frame(key_col, run_keys, rows, cols)

    return (
        df.repartition(key_col)
        .sortWithinPartitions(key_col, *order_cols)
        .mapInPandas(_fn, schema=out_schema)
    )


# ---------------------------------------------------------------------------
# Gap sessionization
# ---------------------------------------------------------------------------

# open-session state: (start_us, end_us, n_events, value_sum)
_SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("value_sum", DoubleType()),
    ]
)


def _advance_session(state, ts_us, values, gap_us):
    """Fold one key's ts-ordered batch into its open session; return
    (closed sessions, new open session). A session closes when the
    next event comes more than ``gap_us`` after its end — the same
    rule as the batch form (queries_ext3.q_sessionization), which sees
    all data. The last session stays open in state: only a later event
    can prove it closed."""
    open_sess = None if state is None else list(state)
    closed = []
    for t, v in zip(ts_us, values):
        t, v = int(t), float(v)
        if open_sess is None:
            open_sess = [t, t, 1, v]
        elif t - open_sess[1] > gap_us:
            closed.append(tuple(open_sess))
            open_sess = [t, t, 1, v]
        else:
            # late events inside the gap extend, never shrink
            open_sess[1] = max(open_sess[1], t)
            open_sess[2] += 1
            open_sess[3] += v
    return closed, tuple(open_sess)


def sessionize_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """Split each key's event stream into sessions separated by more
    than ``gap_minutes`` of inactivity; emit a session row the moment a
    later event (possibly in a later micro-batch) proves it closed.
    The open session per key lives in Spark state across micro-batches
    and closes only when a late-enough event arrives."""
    gap_us = gap_minutes * 60 * 1_000_000
    return _bind_fold(
        events,
        key_col,
        [ts_col],
        [
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("session_value", DoubleType()),
        ],
        lambda state, b: _advance_session(
            state, _us(b[ts_col]), b[value_col].astype("float64"), gap_us
        ),
        _SESSION_STATE,
    )


# ---------------------------------------------------------------------------
# Per-key change alerts
# ---------------------------------------------------------------------------

# cross-batch state: the key's last-seen event. ``seq`` is the
# deterministic tiebreak for same-timestamp events (an event id when
# the caller names one via ``seq_col``; constant 0 otherwise, which
# degrades to the plain ts-only comparison).
_LAST_SCHEMA = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _detect_changes(prev, ts_us, values, pct, seqs=None):
    """Shared kernel: scan one key's batch (sorted by (ts, seq)) against
    the carried (ts_us, seq, value) state; return (alert rows, new
    state). Out-of-order stragglers older than the carried state never
    alert and never regress the state (same late-data stance as
    sessionize_stream: state moves forward only); "older" is the
    LEXICOGRAPHIC (ts, seq) order, so two same-ts events resolve the
    same way on every replay instead of by arrival order. A ZERO
    baseline never alerts — relative change against 0 is undefined,
    and the engine-side twin (lag + double division) yields NULL there,
    so emitting ±inf would diverge stream from batch. Rounding is
    Spark's round() (see _round6_half_up — the shared kernel), not
    Python's banker's rounding."""
    import itertools

    _round6 = _round6_half_up
    if seqs is None:
        seqs = itertools.repeat(0)
    out: list[tuple[int, float, float, float]] = []
    for t, s, v in zip(ts_us, seqs, values):
        if prev is not None:
            p_ts, p_seq, p_val = prev
            if (
                (t, s) >= (p_ts, p_seq)
                and p_val != 0
                and abs(v - p_val) > pct * abs(p_val)
            ):
                out.append(
                    (int(t), float(v), float(p_val), _round6((v - p_val) / p_val))
                )
        if prev is None or (t, s) >= (prev[0], prev[1]):
            prev = (int(t), int(s), float(v))
    return out, prev


def change_alert_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    pct: float = 0.5,
    seq_col: str | None = None,
) -> DataFrame:
    """Per-key change detection across micro-batches: emit an alert row
    whenever a key's value moves more than ``pct`` (relative) against
    that key's PREVIOUS event — even when the two events arrive in
    different micro-batches. The streaming twin of the batch change
    classifier (a5 / operators.aggregates) and the engine-side version
    of the reference's poll-and-alert monitor loop (monitor_errors.py
    greps logs on a timer; here state lives in the engine and alerting
    is event-driven). Per-key state is ONE (ts, seq, value) tuple —
    O(keys) total, the minimum any cross-batch comparator holds.

    ``seq_col`` names a monotone-per-key column (an event id) used as
    the tiebreak for same-timestamp events; without it two same-ts
    events for one key resolve by arrival order, which can differ
    between replays (and from the batch lag() twin). Pass it whenever
    the source has a stable id.
    """

    def _fold(prev, b):
        seqs = None if seq_col is None else b[seq_col].astype("int64")
        return _detect_changes(
            prev, _us(b[ts_col]), b[value_col].astype("float64"), pct, seqs=seqs
        )

    return _bind_fold(
        events,
        key_col,
        [ts_col] if seq_col is None else [ts_col, seq_col],
        [
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("prev_value", DoubleType()),
            StructField("change_pct", DoubleType()),
        ],
        _fold,
        _LAST_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Indicator folds — operators/indicators binds each of them on a stream;
# EWMA, RSI and Holt on a batch too
# ---------------------------------------------------------------------------

# cross-batch state: the trailing `long` closes (day-ordered) plus
# whether the PREVIOUS emitted day had a fully-warmed long window and
# its rounded SMAs — everything the crossover rule needs, O(long) per
# key no matter how many batches pass.
_CROSS_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("closes", ArrayType(DoubleType())),
        StructField("prev_full", LongType()),  # 0/1 (state structs: no bool)
        StructField("p_sma_s", DoubleType()),
        StructField("p_sma_l", DoubleType()),
    ]
)


def _advance_cross(state, days_us, closes, short, long):
    """Shared kernel: fold one key's day-ordered batch into the
    trailing-window state; return (emitted rows, new state). Rows
    emit only when the long window is full on BOTH the current and
    previous day — the same warm rule as the batch operator
    (operators/indicators.sma_crossover), so stream == batch row-for-
    row. SMAs sum the window in day order (the order Spark's window
    avg accumulates) and round as Spark's round() does. Late
    days (≤ the newest seen) are dropped: state moves forward only,
    the same stance as the other stateful kernels here."""
    hist_d, hist_c, prev_full, p_s, p_l = state or ([], [], 0, None, None)
    hist_d, hist_c = list(hist_d), list(hist_c)
    out = []
    for d, c in zip(days_us, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        hist_d.append(int(d))
        hist_c.append(float(c))
        del hist_d[:-long], hist_c[:-long]
        if len(hist_c) < long:
            continue
        sma_s = _round6_half_up(sum(hist_c[-short:]) / short)
        sma_l = _round6_half_up(sum(hist_c) / long)
        if prev_full:
            if sma_s > sma_l and p_s <= p_l:
                sig = "GOLDEN"
            elif sma_s < sma_l and p_s >= p_l:
                sig = "DEATH"
            else:
                sig = None
            out.append((int(d), float(c), sma_s, sma_l, sig))
        prev_full, p_s, p_l = 1, sma_s, sma_l
    return out, (hist_d, hist_c, prev_full, p_s, p_l)


# cross-batch state: the trailing `periods` (day, close) pairs —
# O(periods) per key no matter how many batches pass.
_BOLL_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("closes", ArrayType(DoubleType())),
    ]
)


def _advance_bollinger(state, days_us, closes, periods, n_std):
    """Fold one key's day-ordered batch into the trailing-window state;
    return (emitted rows, new state). Emits only fully-warmed windows
    (the batch operator's w_n == periods rule, so stream == batch
    row-for-row). The mean is the in-order sum/n (Spark's Average
    fold) and the sample stddev is the in-order Welford fold (Spark's
    CentralMomentAgg) — the SAME IEEE op sequence Spark's window
    aggregate runs, so the rounded bands agree bit-for-bit. Late days
    (≤ newest seen) drop: state moves forward only."""
    hist_d, hist_c = state or ([], [])
    hist_d, hist_c = list(hist_d), list(hist_c)
    out = []
    for d, c in zip(days_us, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        hist_d.append(int(d))
        hist_c.append(float(c))
        del hist_d[:-periods], hist_c[:-periods]
        if len(hist_c) < periods:
            continue
        mean_raw = sum(hist_c) / periods
        # Spark CentralMomentAgg fold, frame order, EXACT op sequence:
        # delta = x - mean; deltaN = delta/n; mean += deltaN;
        # m2 += delta * (delta - deltaN). (delta - deltaN) is NOT the
        # same rounding as (x - updated_mean) — using the latter can
        # drift an ulp and flip a band at a 0.5e-6 boundary.
        n = 0
        mean = 0.0
        m2 = 0.0
        for x in hist_c:
            n += 1
            delta = x - mean
            delta_n = delta / n
            mean += delta_n
            m2 += delta * (delta - delta_n)
        sd = math.sqrt(m2 / (n - 1))  # Math.sqrt is correctly rounded; x**0.5 may not be
        upper = _round6_half_up(mean_raw + n_std * sd)
        lower = _round6_half_up(mean_raw - n_std * sd)
        close = hist_c[-1]
        position = "ABOVE" if close > upper else ("BELOW" if close < lower else "IN")
        out.append(
            (int(d), close, _round6_half_up(mean_raw), upper, lower, position)
        )
    return out, (hist_d, hist_c)


# cross-batch state: ONE (last day, running value) pair per key — the
# minimum any exponential recursion can carry.
_EWMA_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("y", DoubleType()),
    ]
)


def _advance_ewma(state, days_us, closes, alpha):
    """Fold one key's day-ordered batch through y = a·x + (1-a)·y —
    the one EWMA recurrence, which indicators.ewma binds on a batch and
    on a stream. Every row emits (the recursion starts at
    y_1 = x_1, no warmup); late days drop, state moves forward only."""
    last_d, y = state or (None, None)
    out = []
    for d, c in zip(days_us, closes):
        if last_d is not None and d <= last_d:
            continue
        x = float(c)
        y = x if y is None else alpha * x + (1.0 - alpha) * y
        last_d = int(d)
        out.append((last_d, x, y))
    return out, (last_d, y)


# cross-batch state for the Wilder RSI recursion: O(1) per key
# (seed accumulators until `periods` deltas, then the running avgs).
_RSI_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("n_deltas", LongType()),
        StructField("gsum", DoubleType()),
        StructField("lsum", DoubleType()),
        StructField("ag", DoubleType()),
        StructField("al", DoubleType()),
        StructField("prev_close", DoubleType()),
    ]
)


def _advance_rsi(state, days_us, closes, periods):
    """Fold one key's day-ordered batch through Wilder's recursion: the
    seed average gain/loss over the first ``periods`` deltas, then
    avg = (avg·(periods-1) + x) / periods per day, emitting from day
    ``periods``+1. avg_loss == 0 gives RSI 100. The RSI is unrounded;
    indicators.rsi rounds it with Spark's round() on both binders.
    Late days drop; state moves forward only."""
    p = float(periods)
    last_d, n, gsum, lsum, ag, al, prev = state or (
        None, 0, 0.0, 0.0, None, None, None,
    )
    out = []
    for d, c in zip(days_us, closes):
        if last_d is not None and d <= last_d:
            continue
        x = float(c)
        last_d = int(d)
        if prev is None:
            prev = x
            continue
        delta = x - prev
        prev = x
        gain = delta if delta > 0 else 0.0
        loss = -delta if delta < 0 else 0.0
        n += 1
        if n < periods:
            gsum += gain
            lsum += loss
            continue
        if n == periods:
            gsum += gain
            lsum += loss
            ag = gsum / p
            al = lsum / p
        else:
            ag = (ag * (p - 1.0) + gain) / p
            al = (al * (p - 1.0) + loss) / p
        r = 100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)
        out.append((last_d, x, r))
    return out, (last_d, n, gsum, lsum, ag, al, prev)


# trailing (day, tr) window + prev close: O(periods) per key
_ATR_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("trs", ArrayType(DoubleType())),
        StructField("prev_close", DoubleType()),
    ]
)


def _advance_atr(state, days_us, highs, lows, closes, periods):
    """True-range fold matching indicators.atr: TR from (high, low,
    prev close) — first day high-low — and the SMA over the trailing
    ``periods`` TRs summed in day order (Spark's window Average)."""
    hist_d, hist_tr, prev = state or ([], [], None)
    hist_d, hist_tr = list(hist_d), list(hist_tr)
    out = []
    for d, h, lo, c in zip(days_us, highs, lows, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        h, lo, c = float(h), float(lo), float(c)
        if prev is None:
            tr = h - lo
        else:
            tr = max(h - lo, abs(h - prev), abs(lo - prev))
        prev = c
        hist_d.append(int(d))
        hist_tr.append(tr)
        del hist_d[:-periods], hist_tr[:-periods]
        if len(hist_tr) == periods:
            atr = _round6_half_up(sum(hist_tr) / periods)
            out.append((int(d), _round6_half_up(tr), atr))
    return out, (hist_d, hist_tr, prev)


# trailing (high, low) window + %K history + warm counter
_STOCH_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("highs", ArrayType(DoubleType())),
        StructField("lows", ArrayType(DoubleType())),
        StructField("ks", ArrayType(DoubleType())),  # NULLs kept (zero-range)
        StructField("n_full", LongType()),
    ]
)


def _advance_stoch(state, days_us, highs, lows, closes, periods, smooth):
    """Stochastic fold matching indicators.stochastic: %K over the
    trailing (high, low) window (None on zero range), %D = mean of
    the last ``smooth`` %Ks among fully-warmed rows (None skipped,
    like both engines' avg)."""
    hist_d, hist_h, hist_l, ks, n_full = state or ([], [], [], [], 0)
    hist_d, hist_h, hist_l, ks = list(hist_d), list(hist_h), list(hist_l), list(ks)
    out = []
    for d, h, lo, c in zip(days_us, highs, lows, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        h, lo, c = float(h), float(lo), float(c)
        hist_d.append(int(d))
        hist_h.append(h)
        hist_l.append(lo)
        del hist_d[:-periods], hist_h[:-periods], hist_l[:-periods]
        if len(hist_h) < periods:
            continue
        n_full += 1
        hi, loo = max(hist_h), min(hist_l)
        k = None if hi == loo else _round6_half_up(100.0 * (c - loo) / (hi - loo))
        ks.append(k)
        del ks[:-smooth]
        if n_full >= smooth:
            vals = [v for v in ks if v is not None]
            d_val = _round6_half_up(sum(vals) / len(vals)) if vals else None
            out.append((int(d), c, k, d_val))
    return out, (hist_d, hist_h, hist_l, ks, n_full)


# O(1) per key: last day, previous close, running OBV total
_OBV_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("prev_close", DoubleType()),
        StructField("total", LongType()),
    ]
)


def _advance_obv(state, days_us, closes, volumes):
    """On-balance-volume fold matching indicators.obv — integer-exact
    running total, so stream == batch without a rounding contract."""
    last_d, prev, total = state or (None, None, 0)
    out = []
    for d, c, v in zip(days_us, closes, volumes):
        if last_d is not None and d <= last_d:
            continue
        c = float(c)
        v = int(v)
        if prev is None or c == prev:
            pass
        elif c > prev:
            total += v
        else:
            total -= v
        prev = c
        last_d = int(d)
        out.append((last_d, c, total))
    return out, (last_d, prev, total)


# cross-batch state for Holt's linear-trend recursion: O(1) per key.
_HOLT_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
    ]
)


def _advance_holt(state, days_us, closes, alpha, beta):
    """Fold one key's day-ordered batch through Holt's double-state
    recursion (level + trend, with (1−α)/(1−β) computed once) — the
    one Holt recurrence, which indicators.holt binds on a batch and on
    a stream. Late days drop; state moves forward only."""
    a, bb = float(alpha), float(beta)
    oma, omb = 1.0 - a, 1.0 - bb
    last_d, lvl, trd = state or (None, None, None)
    out = []
    for d, c in zip(days_us, closes):
        if last_d is not None and d <= last_d:
            continue
        x = float(c)
        if lvl is None:
            lvl, trd = x, 0.0
        else:
            prev = lvl
            lvl = a * x + oma * (lvl + trd)
            trd = bb * (lvl - prev) + omb * trd
        last_d = int(d)
        out.append((last_d, x, lvl, trd, lvl + trd))
    return out, (last_d, lvl, trd)


# ---------------------------------------------------------------------------
# Folds bound on batches only
# ---------------------------------------------------------------------------


def _advance_balance(state, seqs, deltas, start, cap):
    """Capped running-balance ledger: bal = min(cap, max(0, bal + delta))
    in seq order, from ``start`` for a new key. Each row is (seq, delta,
    balance, clamp) with clamp -1 where the step hit the floor, +1 the
    ceiling, 0 in range; the state is the running balance."""
    bal = start if state is None else state[0]
    out = []
    for s, d in zip(seqs, deltas):
        raw = bal + float(d)
        if raw < 0.0:
            bal, flag = 0.0, -1
        elif raw > cap:
            bal, flag = cap, 1
        else:
            bal, flag = raw, 0
        out.append((s, d, bal, flag))
    return out, (bal,)


def _advance_cusum(state, orders, xs, mu, sigma, k):
    """Two-sided CUSUM against the key's reference level ``mu``:
    s⁺ = max(0, s⁺ + (x − μ − k·σ)) and s⁻ = max(0, s⁻ + (μ − k·σ − x)),
    both from 0 for a new key. Each row is (order, x, s⁺, s⁻); the
    state is (s⁺, s⁻)."""
    s_pos, s_neg = state or (0.0, 0.0)
    slack = k * sigma
    out = []
    for o, x in zip(orders, xs):
        s_pos = max(0.0, s_pos + (float(x) - mu - slack))
        s_neg = max(0.0, s_neg + (mu - slack - float(x)))
        out.append((o, x, s_pos, s_neg))
    return out, (s_pos, s_neg)


def _advance_holt_winters(state, days, ys, alpha, beta, gamma, m):
    """Additive Holt-Winters with season length ``m`` over one series
    in day order. The first ``m`` values seed the level (their mean),
    a zero trend and the season offsets (value − level). From value
    m+1 on, each row is (day, y, s_used, level, trend, fitted, resid):
    the fitted level + trend + season comes BEFORE the update

        l = α(y − s) + (1−α)(l + b),  b = β(l − l_prev) + (1−β)b,
        s_new = γ(y − l) + (1−γ)s

    with (1−α)/(1−β)/(1−γ) computed once. The state is (seed values,
    seed sum, level, trend, season offsets)."""
    seeds, acc, lvl, trd, season = state or ([], 0.0, None, None, [])
    seeds, season = list(seeds), list(season)
    oma, omb, omg = 1.0 - alpha, 1.0 - beta, 1.0 - gamma
    out = []
    for d, y in zip(days, ys):
        y = float(y)
        if lvl is None:
            acc += y
            seeds.append(y)
            if len(seeds) == m:
                lvl = acc / float(m)
                trd = 0.0
                season = [v - lvl for v in seeds]
            continue
        s_used = season[0]
        fitted = lvl + trd + s_used
        prev = lvl
        lvl = alpha * (y - s_used) + oma * (lvl + trd)
        trd = beta * (lvl - prev) + omb * trd
        season = season[1:] + [gamma * (y - lvl) + omg * s_used]
        out.append((d, y, s_used, lvl, trd, fitted, y - fitted))
    return out, (seeds, acc, lvl, trd, season)
