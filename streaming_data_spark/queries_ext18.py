"""Eighteenth query wave — sliding distinct counts and multi-dimension
data layout:

- a17_rolling_distinct: trailing-7-day distinct active users per day —
  the canonical "rolling DAU/WAU" metric. Exact tier here (explode
  each (user, day) into the 7 windows it serves — countDistinct per
  target day).
- x26_zorder_curve: Morton (Z-order) curve value per row over two
  join/filter dimensions — the interleaved-bit key behind
  multi-dimension data-skipping layouts (Delta/Iceberg OPTIMIZE
  ZORDER is this exact curve). The registry query computes the curve
  exactly (bit arithmetic is engine-portable, so DuckDB matches
  bit-for-bit); operators.layout writes the curve-clustered parquet
  and the pruning win is asserted on real row-group stats in
  tests/test_layout.py.

[EXT]-classic per SURVEY.md §2.5/§2.11 scope; the reference's nearest
shape is the periodic rollup loop (upbit_data_pipeline.py's candle
aggregation), generalized to sliding-window distincts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_spark.queries import _t


def q_a17_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users active in the trailing 7 days (inclusive), per
    day of the observed span.

    COUNT(DISTINCT) does not decompose over sliding windows — a
    window-function form would have to keep every user id in every
    frame. Shape used instead: dedupe to (user, active-day) pairs
    (one shuffle), explode each pair into the ≤7 target days it
    serves, countDistinct per target day (second shuffle). Row
    amplification is exactly ×7 on the DEDUPED pairs (users ×
    active-days), not on raw events — at 100 TB the exploded set is
    orders of magnitude smaller than the event log. Target days are
    capped at the observed max so trailing windows don't dangle past
    the data; the cap is a 1-row broadcast join, not a driver action.
    """
    events = _t(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.col("ts").cast("date").alias("aday")
    ).distinct()
    span = events.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    targets = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(aday, date_add(aday, 6), interval 1 day)")
        ).alias("day"),
    )
    return (
        targets.join(F.broadcast(span), targets["day"] <= span["max_day"])
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


SQL_A17 = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS aday FROM events
),
targets AS (
  SELECT user_id,
         CAST(unnest(generate_series(aday::TIMESTAMP,
                                     (aday + INTERVAL 6 DAY)::TIMESTAMP,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM ud
)
SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d
FROM targets
WHERE day <= (SELECT max(CAST(ts AS DATE)) FROM events)
GROUP BY day
"""


# Single source of truth for the curve math: the layout writer's
# morton_code (operators/layout.py) — the oracle-matched query and the
# clustered-file writer must never diverge on the key they share.
from streaming_data_spark.operators.layout import ZORDER_BITS, morton_code


def q_x26_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton curve value over (l_partkey, l_suppkey) plus the
    64-way range-bucket each row lands in under a curve-clustered
    layout.

    Why these two columns: they are independent filter dimensions
    (part-side and supplier-side probes) — a layout sorted on either
    one alone cannot skip files for the other. The curve key gives
    BOTH filters sub-linear file pruning from the same single sort
    order; operators/layout.py writes the actual clustered files and
    tests/test_layout.py measures the row-group-stat pruning win on
    a 2-D box probe vs a 1-D sorted layout.
    """
    li = _t(spark, sf_dir, "lineitem")
    zval = morton_code(F.col("l_partkey"), F.col("l_suppkey"), ZORDER_BITS)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        zval.alias("zval"),
    ).withColumn("zbucket", F.shiftright(F.col("zval"), 2 * ZORDER_BITS - 6))


def _sql_morton(x: str, y: str) -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


SQL_X26 = f"""
WITH z AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         CAST({_sql_morton(f'(l_partkey & {(1 << ZORDER_BITS) - 1})',
                           f'(l_suppkey & {(1 << ZORDER_BITS) - 1})')}
              AS BIGINT) AS zval
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, zval,
       CAST(zval >> {2 * ZORDER_BITS - 6} AS BIGINT) AS zbucket
FROM z
"""


EXT18_QUERIES = {
    "a17_rolling_distinct": q_a17_rolling_distinct,
    "x26_zorder_curve": q_x26_zorder_curve,
}

EXT18_ORACLES = {
    "a17_rolling_distinct": SQL_A17,
    "x26_zorder_curve": SQL_X26,
}
