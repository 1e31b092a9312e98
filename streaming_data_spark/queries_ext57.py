"""Fifty-seventh query wave — one-pass regression and split hygiene:

- a68_hourly_regression: per event type, the least-squares line of
  `value` on hour-of-day — slope/intercept/r² from the five
  classical sums, computed with the IDENTICAL closed-form expression
  in both engines (DuckDB's regr_* would use a different
  accumulation; writing the formula out keeps the gate exact). The
  one-pass regression every monitoring system runs to ask "is this
  metric drifting with time of day?".
- x88_ols_normal_eq: multi-feature OLS entirely as ONE aggregation —
  predict l_extendedprice from (l_quantity, l_discount) + intercept
  by the normal equations: the 3×3 Gram matrix X'X and X'y are nine
  order-independent-after-rounding sums over the fact table, and the
  solve is Cramer's rule written as plain column expressions (no
  driver linear algebra, no iteration — at 100 TB the whole
  regression is one map-side-combinable pass). Cramer on the
  6-decimal-rounded sums makes both engines compute bit-identical
  determinants.
- x89_split_leakage: train/test-split contamination audit — how many
  near-duplicate pairs (the x2 Jaccard≥0.8 edge set) CROSS the x11
  md5 split. The leakage check every eval pipeline needs: a test set
  whose near-dups sit in train measures memorization, not
  generalization. Emits one row: pairs, crossing pairs, leak rate,
  and the count of test docs contaminated by a train near-dup.

Scale shapes: a68/x88 = single map-side-combinable fact aggregations
(|types|-bounded / 1-row outputs); x89 = the prefix pair tier (its
cost profile, x41/x13 family) + two split lookups keyed on doc id.

[EXT]-classic per SURVEY.md §2.11 scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_spark.queries_ext8 import SPLIT_TEST_PCT, split_column
from streaming_data_spark.operators import dedup
from streaming_data_spark.queries import _t


def q_a68_hourly_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, slope, intercept, r2): OLS of value on
    hour-of-day per type, closed-form sums."""
    ev = _t(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    y = F.col("value")
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(x), 6).alias("sx"),
        F.round(F.sum(y), 6).alias("sy"),
        F.round(F.sum(x * x), 6).alias("sxx"),
        F.round(F.sum(x * y), 6).alias("sxy"),
        F.round(F.sum(y * y), 6).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round((r_num / r_den) * (r_num / r_den), 6).alias("r2"),
    )


SQL_A68 = """
WITH sums AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         round(sum(CAST(extract(hour FROM ts) AS DOUBLE)), 6) AS sx,
         round(sum(value), 6) AS sy,
         round(sum(CAST(extract(hour FROM ts) AS DOUBLE)
                   * CAST(extract(hour FROM ts) AS DOUBLE)), 6) AS sxx,
         round(sum(CAST(extract(hour FROM ts) AS DOUBLE) * value), 6) AS sxy,
         round(sum(value * value), 6) AS syy
  FROM events GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)
              * (n * syy - sy * sy)))
             * ((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)
                * (n * syy - sy * sy))), 6) AS r2
FROM sums
"""


def q_x88_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, b0, b1, b2): OLS of extendedprice on (1, quantity,
    discount) via normal equations + Cramer's rule — one aggregation
    pass, no iteration, no driver algebra."""
    li = _t(spark, sf_dir, "lineitem")
    q, d, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    g = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(q), 6).alias("sq"),
        F.round(F.sum(d), 6).alias("sd"),
        F.round(F.sum(q * q), 6).alias("sqq"),
        F.round(F.sum(q * d), 6).alias("sqd"),
        F.round(F.sum(d * d), 6).alias("sdd"),
        F.round(F.sum(y), 6).alias("sy"),
        F.round(F.sum(q * y), 6).alias("sqy"),
        F.round(F.sum(d * y), 6).alias("sdy"),
    )
    # X'X = [[n, sq, sd], [sq, sqq, sqd], [sd, sqd, sdd]];
    # X'y = [sy, sqy, sdy]. Cramer: b_i = det(A_i) / det(A), written
    # once as plain expressions — identical text in the SQL oracle.
    n, sq, sd = F.col("n"), F.col("sq"), F.col("sd")
    sqq, sqd, sdd = F.col("sqq"), F.col("sqd"), F.col("sdd")
    sy, sqy, sdy = F.col("sy"), F.col("sqy"), F.col("sdy")

    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        return (
            a1 * (b2 * c3 - b3 * c2)
            - a2 * (b1 * c3 - b3 * c1)
            + a3 * (b1 * c2 - b2 * c1)
        )

    det_a = det3(n, sq, sd, sq, sqq, sqd, sd, sqd, sdd)
    det_0 = det3(sy, sq, sd, sqy, sqq, sqd, sdy, sqd, sdd)
    det_1 = det3(n, sy, sd, sq, sqy, sqd, sd, sdy, sdd)
    det_2 = det3(n, sq, sy, sq, sqq, sqy, sd, sqd, sdy)
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.round(det_0 / det_a, 6).alias("b0"),
        F.round(det_1 / det_a, 6).alias("b1"),
        F.round(det_2 / det_a, 6).alias("b2"),
    )


SQL_X88 = """
WITH g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         round(sum(l_quantity), 6) AS sq,
         round(sum(l_discount), 6) AS sd,
         round(sum(l_quantity * l_quantity), 6) AS sqq,
         round(sum(l_quantity * l_discount), 6) AS sqd,
         round(sum(l_discount * l_discount), 6) AS sdd,
         round(sum(l_extendedprice), 6) AS sy,
         round(sum(l_quantity * l_extendedprice), 6) AS sqy,
         round(sum(l_discount * l_extendedprice), 6) AS sdy
  FROM lineitem
), dets AS (
  SELECT n,
    (n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)
     + sd * (sq * sqd - sqq * sd)) AS det_a,
    (sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy)
     + sd * (sqy * sqd - sqq * sdy)) AS det_0,
    (n * (sqy * sdd - sqd * sdy) - sy * (sq * sdd - sqd * sd)
     + sd * (sq * sdy - sqy * sd)) AS det_1,
    (n * (sqq * sdy - sqy * sqd) - sq * (sq * sdy - sqy * sd)
     + sy * (sq * sqd - sqq * sd)) AS det_2
  FROM g
)
SELECT CAST(n AS BIGINT) AS n,
       round(det_0 / det_a, 6) AS b0,
       round(det_1 / det_a, 6) AS b1,
       round(det_2 / det_a, 6) AS b2
FROM dets
"""


def q_x89_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_pairs, n_cross, leak_rate, n_test_contaminated): near-dup
    pairs crossing the x11 md5 train/test split."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_prefix_shared(
        docs, "doc_id", "text", n=3, threshold=0.8
    )
    split = docs.select(
        "doc_id", split_column("doc_id").alias("split")
    )
    tagged = (
        pairs.join(
            split.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
            ),
            "id_a",
        )
        .join(
            split.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
            ),
            "id_b",
        )
        .withColumn("cross", F.col("sa") != F.col("sb"))
        .localCheckpoint(eager=True)
    )
    test_contam = (
        tagged.filter(F.col("cross"))
        .select(
            F.when(F.col("sa") == "test", F.col("id_a")).otherwise(
                F.col("id_b")
            ).alias("test_id")
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_test_contaminated"))
    )
    stats = tagged.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("cross"), 1).otherwise(0)).alias("n_cross"),
        F.round(
            F.sum(F.when(F.col("cross"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("leak_rate"),
    )
    return stats.crossJoin(F.broadcast(test_contam))


from streaming_data_spark.queries_ext9 import _EDGE_SQL  # noqa: E402

SQL_X89 = f"""
WITH RECURSIVE {_EDGE_SQL},
split AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 100
              < {SPLIT_TEST_PCT}
         THEN 'test' ELSE 'train' END AS split
  FROM documents
), tagged AS (
  SELECT e.id_a, e.id_b, sa.split AS sa, sb.split AS sb,
         (sa.split <> sb.split) AS crossed
  FROM edges e
  JOIN split sa ON e.id_a = sa.doc_id
  JOIN split sb ON e.id_b = sb.doc_id
), contam AS (
  SELECT count(DISTINCT CASE WHEN sa = 'test' THEN id_a ELSE id_b END)
           AS n_test_contaminated
  FROM tagged WHERE crossed
)
SELECT (SELECT count(*) FROM tagged) AS n_pairs,
       (SELECT CAST(sum(CASE WHEN crossed THEN 1 ELSE 0 END) AS BIGINT)
        FROM tagged) AS n_cross,
       (SELECT round(sum(CASE WHEN crossed THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) FROM tagged) AS leak_rate,
       c.n_test_contaminated
FROM contam c
"""


EXT57_QUERIES = {
    "a68_hourly_regression": q_a68_hourly_regression,
    "x88_ols_normal_eq": q_x88_ols_normal_eq,
    "x89_split_leakage": q_x89_split_leakage,
}

EXT57_ORACLES = {
    "a68_hourly_regression": SQL_A68,
    "x88_ols_normal_eq": SQL_X88,
    "x89_split_leakage": SQL_X89,
}
