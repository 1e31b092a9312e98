"""Joins (SURVEY.md §2.4).

The reference's relational joins run inside Postgres (J1 CTAS at
upbit_data_pipeline.py:171-176) or are implicit in upsert conflict
keys (J3). Here they are DataFrame joins with explicit scale strategy:

- dimension joins broadcast the small side (J1's dim is 369 rows —
  at 100 TB the fact side never shuffles for such joins);
- the upsert anti-join shuffles on the key, which AQE skew-handles;
- the as-of join ([EXT]) is the union + last(ignorenulls) pattern so
  it needs ONE shuffle by key instead of a per-row range probe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    select: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """J1/J2 — fact ⋈ small-dimension equi-join + projection.

    Ref: upbit_data_pipeline.py:171-176 (markets ⋈ prices CTAS).
    The dim side is always broadcast, so the fact side never shuffles
    — the only sane plan when fact is 100 TB and dim fits in memory.

    The same call enriches a STREAM (stream-static join, the
    engine-side form of Logstash's translate/jdbc_static lookups): no
    shuffle and no streaming state, because a static side needs no
    watermark. Pass ``how="left"`` there so an event with no dim row
    passes through with NULL attributes instead of dropping. The dim
    snapshot is fixed at query start; restart the query to pick up a
    refreshed dimension.
    """
    joined = fact.join(F.broadcast(dim), on=on, how=how)
    return joined.select(*select) if select else joined


def anti_join(new: DataFrame, existing: DataFrame, keys: Sequence[str]) -> DataFrame:
    """J3 — rows of ``new`` whose key is absent from ``existing``; the
    relational core of ``ON CONFLICT DO NOTHING``.

    Ref: upbit_data_pipeline.py:116, insert_csv_to_postgres.py:104.
    """
    return new.join(existing.select(*keys), on=list(keys), how="left_anti")


def semi_join(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """EXISTS-style semi join (the complement of J3; used by FK orphan
    checks in tests — SURVEY §2.4 J2)."""
    return left.join(right.select(*keys), on=list(keys), how="left_semi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: Sequence[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """[EXT] as-of join: for each left row, attach the most recent right
    row (per ``key``) with ``right.ts <= left.ts``.

    Spark has no native as-of join (SURVEY §4.2-5). Strategy: union both
    sides tagged, then ``last(value, ignorenulls=True)`` over a window
    ordered by (ts, side) — one shuffle on ``key``, no range probe, no
    per-group pandas. Scales to 100 TB because state never exceeds the
    window frame and the shuffle is the same one a groupBy would need.

    ``tolerance_seconds`` drops matches older than the tolerance
    (pd.merge_asof semantics).
    """
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"value_cols collide with left columns: {sorted(clash)}; rename first")
    # Left rows carry null placeholders for the columns the right side
    # will fill; right rows carry nulls for left-only columns. Types
    # come from the owning side so unionByName resolves exactly.
    left_tagged = left
    for c in value_cols:
        left_tagged = left_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    left_tagged = left_tagged.withColumn("_side", F.lit(1))

    right_tagged = right.select(key, ts, *value_cols)
    for c in left.columns:
        if c not in right_tagged.columns:
            right_tagged = right_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    right_tagged = right_tagged.withColumn("_side", F.lit(0))
    unioned = left_tagged.unionByName(right_tagged.select(*left_tagged.columns))

    # right rows sort before left rows at the same timestamp (_side 0 < 1)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned
    for c in value_cols:
        filled = filled.withColumn(c, F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        right_ts = F.last(F.when(F.col("_side") == 0, F.col(ts)), ignorenulls=True).over(w)
        filled = filled.withColumn("_right_ts", right_ts)
        for c in value_cols:
            filled = filled.withColumn(
                c,
                F.when(
                    F.col("_right_ts") >= F.col(ts) - F.expr(f"INTERVAL {tolerance_seconds} SECONDS"),
                    F.col(c),
                ),
            )
        filled = filled.drop("_right_ts")
    return filled.filter(F.col("_side") == 1).drop("_side")


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: Sequence[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """[EXT] FORWARD as-of join: for each left row, attach the NEXT
    right row (per ``key``) with ``right.ts >= left.ts`` — the
    look-ahead mirror of :func:`asof_join` (pd.merge_asof
    direction='forward'). Same union + window strategy, with
    ``first(value, ignorenulls=True)`` over the FOLLOWING frame: one
    shuffle on ``key``, no range probe, state bounded by the frame.

    At equal timestamps the right row matches (>= is inclusive):
    left rows order before right rows at the same ts so the current-
    row-to-following frame sees them. ``tolerance_seconds`` drops
    matches further ahead than the tolerance.
    """
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"value_cols collide with left columns: {sorted(clash)}; rename first")
    left_tagged = left
    for c in value_cols:
        left_tagged = left_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    left_tagged = left_tagged.withColumn("_side", F.lit(1))
    right_tagged = right.select(key, ts, *value_cols)
    for c in left.columns:
        if c not in right_tagged.columns:
            right_tagged = right_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    right_tagged = right_tagged.withColumn("_side", F.lit(0))
    unioned = left_tagged.unionByName(right_tagged.select(*left_tagged.columns))

    # left rows (side 1) sort BEFORE right rows (side 0) at the same
    # timestamp via _side DESC, so the inclusive >= match is in-frame
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    filled = unioned
    for c in value_cols:
        filled = filled.withColumn(c, F.first(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        right_ts = F.first(F.when(F.col("_side") == 0, F.col(ts)), ignorenulls=True).over(w)
        filled = filled.withColumn("_right_ts", right_ts)
        for c in value_cols:
            filled = filled.withColumn(
                c,
                F.when(
                    F.col("_right_ts") <= F.col(ts) + F.expr(f"INTERVAL {tolerance_seconds} SECONDS"),
                    F.col(c),
                ),
            )
        filled = filled.drop("_right_ts")
    return filled.filter(F.col("_side") == 1).drop("_side")


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """[EXT] Range/interval join: every (fact, interval) pair with
    ``start <= ts < end`` — the other half of the temporal-join family
    next to ``asof_join``.

    Scale strategy: a naive inequality join has no equi-key, so Spark
    can only BroadcastNestedLoopJoin it — O(|facts|·|intervals|) and a
    driver OOM once intervals stop fitting in memory. Instead each
    interval EXPLODES into the time buckets it covers (sequence +
    explode, JVM-side) and facts equi-join on their bucket: work is
    |facts| + Σ interval_span/bucket, shuffled on the bucket key like
    any keyed join, then the exact range predicate filters within
    bucket. ``bucket`` should be chosen ≈ median interval length (a
    too-fine bucket multiplies the exploded side; too coarse widens
    the post-filter). Identical results to the inequality join, which
    is exactly what the DuckDB oracle runs.
    """
    f = facts.withColumn(
        "_ij_bucket", F.date_trunc("day", F.col(ts_col)) if bucket == "1 day"
        else F.window(F.col(ts_col), bucket)["start"]
    )
    iv = intervals.withColumn(
        "_ij_bucket",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col(start_col)) if bucket == "1 day"
                else F.window(F.col(start_col), bucket)["start"],
                # end is exclusive, but the bucket containing end-ε must
                # be probed; sequence is inclusive so truncate end-1s
                F.date_trunc("day", F.col(end_col) - F.expr("INTERVAL 1 SECOND"))
                if bucket == "1 day"
                else F.window(F.col(end_col) - F.expr("INTERVAL 1 SECOND"), bucket)["start"],
                F.expr(f"INTERVAL {bucket}"),
            )
        ),
    )
    return (
        f.join(iv, "_ij_bucket")
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("_ij_bucket")
    )
