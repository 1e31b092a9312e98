"""Accuracy/property tests for the sketch tiers: approx_percentile
against the exact percentile, and the Misra-Gries heavy-hitter
summary. Approximate estimates are engine-specific, so their contract
is tolerance vs exact — not an oracle hash."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_data_spark.schemas import load_table


def test_approx_percentile_tier_within_tolerance(spark, sf_oracle):
    """The 100 TB tier for the exact-quantile paths (a10, a15's
    median/MAD, a18's ntile boundaries): approx_percentile with
    accuracy=10000 must land within 1% relative error of the exact
    percentile on every probe point. Documents the swap, bounds the
    cost of making it."""
    events = load_table(spark, sf_oracle, "events")
    probes = [0.25, 0.5, 0.75, 0.95]
    row = events.agg(
        F.percentile("value", F.array(*[F.lit(p) for p in probes])).alias("exact"),
        F.percentile_approx(
            "value", F.array(*[F.lit(p) for p in probes]), 10000
        ).alias("approx"),
    ).collect()[0]
    for p, ex, ap in zip(probes, row["exact"], row["approx"]):
        assert abs(ap - ex) <= max(0.05, 0.01 * abs(ex)), (p, ex, ap)


def test_mg_summary_bounds_hold_on_random_streams():
    """Misra-Gries guarantees, exercised across random streams: at
    most k counters, every estimate undercounts by ≤ ⌊n/(k+1)⌋, and
    every item with true count > n/(k+1) is present in the summary."""
    import random
    from collections import Counter

    from streaming_data_spark.operators.sketches import mg_summary

    rng = random.Random(7)
    for trial in range(50):
        k = rng.choice([2, 5, 10])
        n = rng.randrange(1, 400)
        # zipf-ish: small alphabets make heavy hitters likely
        stream = [rng.randrange(rng.choice([3, 8, 50])) for _ in range(n)]
        true = Counter(stream)
        est = mg_summary(stream, k)
        assert len(est) <= k
        slack = n // (k + 1)
        for item, c in est.items():
            assert true[item] - slack <= c <= true[item], (trial, item)
        for item, c in true.items():
            if c > n / (k + 1):
                assert item in est, (trial, item, c, n, k)


def test_heavy_hitters_exact_and_partition_independent(spark, sf_oracle):
    """The candidate+verify plan must return exactly the tokens above
    the n/(k+1) threshold with exact counts, and the answer must not
    change when the input partitioning does (sketch contents do —
    the verify pass makes the composition deterministic)."""
    from collections import Counter

    from streaming_data_spark.operators.sketches import heavy_hitters
    from streaming_data_spark.schemas import load_table

    docs = load_table(spark, sf_oracle, "documents")
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    truth = Counter(r.token for r in toks.collect())
    n = sum(truth.values())
    k = 50
    want = {t: c for t, c in truth.items() if c > n / (k + 1)}
    assert want, "testdata should contain heavy tokens at k=50"

    for parts in (1, 7):
        got = {
            r.token: r.n_item
            for r in heavy_hitters(toks.repartition(parts), "token", k=k).collect()
        }
        assert got == want, parts


def test_heavy_hitters_on_long_column(spark, sf_oracle):
    """The operator must work on non-string keys too (schema is
    derived from the input column's type): heavy users by event
    count, verified against the exact groupBy."""
    from collections import Counter

    from streaming_data_spark.operators.sketches import heavy_hitters
    from streaming_data_spark.schemas import load_table

    events = load_table(spark, sf_oracle, "events").select("user_id")
    truth = Counter(r.user_id for r in events.collect())
    n = sum(truth.values())
    k = 20
    want = {u: c for u, c in truth.items() if c > n / (k + 1)}
    got = {
        r.user_id: r.n_item
        for r in heavy_hitters(events, "user_id", k=k).collect()
    }
    assert got == want


def test_heavy_hitters_counts_rows_of_empty_summary_partitions(spark):
    """A Misra-Gries summary can legitimately end EMPTY with rows
    present (k=2 over [a,b,c]: c's eviction clears both counters) —
    that partition's row count must still reach n_total, or the
    threshold drops and borderline items are wrongly emitted. The
    partitions below are crafted so the bug is visible in the OUTPUT:
    with p1's 3 rows lost, the threshold becomes 30/3=10 and z (11)
    leaks in; with the true n=33 threshold of 11, z is excluded."""
    from streaming_data_spark.operators.sketches import heavy_hitters

    sc = spark.sparkContext
    rdd = sc.parallelize([("a",), ("b",), ("c",)], 1).union(
        sc.parallelize([("y",)] * 19 + [("z",)] * 11, 1)
    )
    df = spark.createDataFrame(rdd, "token string")
    assert df.rdd.getNumPartitions() == 2

    got = {r.token: r.n_item for r in heavy_hitters(df, "token", k=2).collect()}
    assert got == {"y": 19}, got  # z=11 is NOT > 33/3; a,b,c are noise


def test_heavy_hitters_null_item_matches_group_by(spark):
    """NULL is a legal key: when NULLs dominate, the NULL group must
    surface as a heavy hitter with its exact count (the GROUP BY
    oracle keeps the NULL group; pre-fix the sentinel conflation
    silently dropped it while still counting it into n_total)."""
    from streaming_data_spark.operators.sketches import heavy_hitters

    rows = [(None,)] * 40 + [("a",)] * 15 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "token string").repartition(4)
    got = {r.token: r.n_item for r in heavy_hitters(df, "token", k=3).collect()}
    # n=60, threshold 60/4=15: NULL (40) qualifies, a (15) does not (> only)
    assert got == {None: 40}, got


def test_heavy_hitters_rejects_float_columns(spark):
    """Distinct NaN objects hash apart in the MG dict and void the
    deterministic bound — float columns fast-fail with guidance."""
    import pytest

    from streaming_data_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([(1.5,), (float("nan"),)], "v double")
    with pytest.raises(ValueError, match="float column"):
        heavy_hitters(df, "v", k=3)
