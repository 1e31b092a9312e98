"""Distribution-drift operators — the engine-side upgrade of the
reference's log-grep monitor loop (airflow/dags/monitor_errors.py
greps task logs for failure strings and alerts; a data engine can
instead test whether this period's DATA still looks like the
reference period's and alert on the statistic).

Family (each returns the statistic; alerting is the caller's /
listener tier's job, consistent with the K9 alert sinks):

- ``psi``    — Population Stability Index over equal-width value
  bins: Σ (p_b − p_a)·ln(p_b / p_a), Laplace-smoothed so empty bins
  stay finite. The standard "did the feature distribution move"
  score in ML monitoring (|PSI| ≳ 0.2 ⇒ investigate).
- ``js_divergence`` — Jensen-Shannon divergence between two
  categorical profiles (e.g. hour-of-day activity): symmetric,
  bounded by ln 2, zero-count cells contribute exactly 0.
- ``cusum``  — two-sided CUSUM changepoint scores over an ordered
  per-key series: s⁺ₜ = max(0, s⁺ₜ₋₁ + (xₜ − μ − k·σ)),
  s⁻ₜ = max(0, s⁻ₜ₋₁ + (μ − k·σ − xₜ)) — the classic sequential
  drift detector for a LEVEL shift. The recursion is the pure
  ``_advance_cusum`` fold (streaming/stateful), bound by the same
  ``_bind_fold`` as the EWMA/RSI indicators (inherently
  sequential along the day axis, parallel across keys).

Float contract: bin/count arithmetic is integer-exact; the
proportions and ln terms are single IEEE ops reproduced identically
by the DuckDB oracles; only the final cross-bin Σ is
accumulation-order dependent and rounded (to 6) on both sides.
The CUSUM fold's inputs (per-day means, μ, σ) are rounded to 6
BEFORE the recursion on both sides, which makes every fold step
bit-reproducible (max / add / subtract of identical doubles).

Scale notes: ``psi``/``js_divergence`` do one map-side-combinable
fact groupBy onto a (key × bins) cell table — everything after is
dimension-sized; bin edges travel via a broadcast join, never a
fact-sized window. ``cusum`` consumes a per-(key, day) aggregate
(keys × days rows) and folds per key inside partitions — the
repartition(key) exchange moves the DIMENSION-sized daily table,
not the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from streaming_data_spark.streaming.stateful import (
    _advance_cusum,
    _bind_fold,
    _fold_input,
)

__all__ = ["psi", "js_divergence", "cusum"]


def psi(
    df: DataFrame,
    key: str,
    value_col: str,
    split_col: str,
    n_bins: int = 10,
    alpha: float = 0.5,
) -> DataFrame:
    """Population Stability Index of ``value_col`` per ``key`` between
    the two halves flagged by ``split_col`` (1 = reference period A,
    0 = comparison period B).

    Equal-width bins over the key's FULL observed [min, max] (edges
    from one small per-key aggregate, broadcast back — the fact table
    is never window-shuffled); ``bin = least(floor((v−min)/w), n−1)``
    so the max value lands in the top bin. Proportions are
    Laplace-smoothed with ``alpha`` per OBSERVED cell
    (p = (c + α)/(n + α·n_bins)) so a bin present in only one half
    stays finite; cells observed in neither half are absent on both
    engine and oracle sides (they would contribute ~0 anyway).

    Returns (key, n_a, n_b, psi) — one row per key.
    """
    a = float(alpha)
    edges = df.groupBy(key).agg(
        F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    binned = df.join(F.broadcast(edges), key).select(
        key,
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col(value_col) - F.col("_lo")) / width),
                F.lit(n_bins - 1),
            )
        )
        .cast("int")
        .alias("bin"),
        F.col(split_col).cast("int").alias("is_a"),
    )
    cells = binned.groupBy(key, "bin").agg(
        F.sum("is_a").alias("c_a"),
        F.sum(1 - F.col("is_a")).alias("c_b"),
    )
    w_key = Window.partitionBy(key)
    denom = F.lit(a * n_bins)
    p_a = (F.col("c_a") + a) / (F.col("n_a") + denom)
    p_b = (F.col("c_b") + a) / (F.col("n_b") + denom)
    return (
        cells.withColumn("n_a", F.sum("c_a").over(w_key))
        .withColumn("n_b", F.sum("c_b").over(w_key))
        .withColumn("term", (p_b - p_a) * F.log(p_b / p_a))
        .groupBy(key)
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.round(F.sum("term"), 6).alias("psi"),
        )
    )


def js_divergence(
    df: DataFrame,
    key: str,
    bucket_col: str,
    split_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence (natural log, so ∈ [0, ln 2]) of the
    ``bucket_col`` profile per ``key`` between the halves flagged by
    ``split_col`` (1 = A, 0 = B).

    JS = ½·Σ p_a·ln(p_a/m) + ½·Σ p_b·ln(p_b/m), m = (p_a+p_b)/2;
    zero-count cells contribute exactly 0 via the standard
    0·ln 0 = 0 convention (CASE-guarded identically in the oracle).

    Returns (key, n_a, n_b, js) — one row per key.
    """
    cells = (
        df.select(
            key,
            F.col(bucket_col).alias("bucket"),
            F.col(split_col).cast("int").alias("is_a"),
        )
        .groupBy(key, "bucket")
        .agg(
            F.sum("is_a").alias("c_a"),
            F.sum(1 - F.col("is_a")).alias("c_b"),
        )
    )
    w_key = Window.partitionBy(key)
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    m = (p_a + p_b) / F.lit(2.0)
    term = F.when(F.col("c_a") > 0, F.lit(0.5) * p_a * F.log(p_a / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("c_b") > 0, F.lit(0.5) * p_b * F.log(p_b / m)).otherwise(
        F.lit(0.0)
    )
    return (
        cells.withColumn("n_a", F.sum("c_a").over(w_key))
        .withColumn("n_b", F.sum("c_b").over(w_key))
        .withColumn("term", term)
        .groupBy(key)
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.round(F.sum("term"), 6).alias("js"),
        )
    )


def cusum(
    series: DataFrame,
    key: str,
    order_col: str,
    x_col: str,
    k: float = 0.5,
) -> DataFrame:
    """Two-sided CUSUM changepoint scores over an ordered per-key
    series (xₜ must already be rounded to the shared 6-decimal grid):

        s⁺ₜ = max(0, s⁺ₜ₋₁ + (xₜ − μ − k·σ))     (upward level shift)
        s⁻ₜ = max(0, s⁻ₜ₋₁ + (μ − k·σ − xₜ))     (downward level shift)

    with per-key μ = round(avg x, 6) and σ = round(stddev_samp x, 6)
    computed over the whole series (Page's test with the reference
    level estimated in-sample — the standard retrospective form).
    Because μ, σ and the xₜ all sit on the rounded grid, every fold
    step is a max/add/sub of identical doubles — bit-reproducible by
    any engine repeating the op order (the RECURSIVE-CTE oracle).

    The fold is ``_advance_cusum``, bound by ``_bind_fold`` on a
    batch like the ewma/rsi indicators: repartition(key) +
    sortWithinPartitions(key, order), state carried across Arrow
    record batches. Single-key σ = NULL rows (one observation) are
    dropped, matching the oracle.

    Returns (key, order_col, x_col, s_pos, s_neg) — keys × steps rows.
    """
    kf = float(k)
    stats = series.groupBy(key).agg(
        F.round(F.avg(x_col), 6).alias("_mu"),
        F.round(F.stddev_samp(x_col), 6).alias("_sigma"),
    )
    prepped = series.join(F.broadcast(stats), key).filter(
        F.col("_sigma").isNotNull()
    )
    order_f, x_f = prepped.schema[order_col], prepped.schema[x_col]
    return _bind_fold(
        prepped,
        key,
        [order_col],
        [
            order_f,
            x_f,
            StructField("s_pos", DoubleType()),
            StructField("s_neg", DoubleType()),
        ],
        lambda state, b: _advance_cusum(
            state,
            _fold_input(b[order_col], order_f.dataType),
            b[x_col],
            float(b["_mu"][0]),
            float(b["_sigma"][0]),
            kf,
        ),
    )
