"""Thirty-third query wave — ML featurization primitives:

- a31_target_encode: leave-one-out target (mean) encoding — the
  categorical-feature transform of tabular ML pipelines. Plain mean
  encoding leaks each row's own target into its feature; the LOO form
  excludes it: enc = (Σ_group target − own target) / (n_group − 1),
  NULL for singleton groups. One partition-only window (no ordering,
  no single-task funnel) — the group sums broadcast along the
  existing hash partitioning, the fact never shuffles twice.

- x37_feature_hash: the hashing trick (Vowpal-Wabbit-style
  featurization) — token → dimension index via a PORTABLE hash
  (first 7 md5 hex chars mod D, the x11 split idiom; Spark's native
  murmur3 ``hash()`` differs from DuckDB's, so md5 is the
  cross-engine contract, as in dedup's MinHash base hash). Output is
  the sparse (doc_id, feature_idx, tf) triple table — collisions are
  the accepted trade of the trick, identical in both engines by
  construction.

Float contract: the LOO numerator is an order-dependent group sum →
round(6); feature hashing is integer-only. [EXT] per SURVEY.md §2.11
scope (training-data featurization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_spark.queries import _t

HASH_DIM = 1024  # power of two, like real feature-hashing configs


def q_a31_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, event_type, value, loo_enc) per event row."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    s = F.sum("value").over(w)
    n = F.count("value").over(w)
    return events.select(
        "event_id",
        "event_type",
        "value",
        F.when(
            n > 1, F.round((s - F.col("value")) / (n - 1), 6)
        ).alias("loo_enc"),
    )


SQL_A31 = """
SELECT event_id, event_type, value,
       CASE WHEN count(value) OVER w > 1
            THEN round((sum(value) OVER w - value)
                       / (count(value) OVER w - 1), 6)
       END AS loo_enc
FROM events
WINDOW w AS (PARTITION BY event_type)
"""


def q_x37_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, feature_idx, tf): hashed bag-of-words term
    frequencies, D = 1024 buckets."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    idx = (
        F.conv(F.substring(F.md5("token"), 1, 7), 16, 10).cast("long")
        % HASH_DIM
    )
    return (
        tok.withColumn("feature_idx", idx)
        .groupBy("doc_id", "feature_idx")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


SQL_X37 = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
)
SELECT doc_id,
       ('0x' || substr(md5(token), 1, 7))::BIGINT % {HASH_DIM} AS feature_idx,
       count(*) AS tf
FROM tok
GROUP BY 1, 2
"""


EXT33_QUERIES = {
    "a31_target_encode": q_a31_target_encode,
    "x37_feature_hash": q_x37_feature_hash,
}

EXT33_ORACLES = {
    "a31_target_encode": SQL_A31,
    "x37_feature_hash": SQL_X37,
}
