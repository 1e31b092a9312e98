"""Thirty-eighth query wave — dedup canonicalization by QUALITY:
the curation step that actually follows near-dup clustering in a
training-data pipeline. x13 keeps each cluster's min-id doc; real
pipelines keep the BEST duplicate (highest quality score) and drop
the rest — otherwise dedup systematically discards the cleanest copy
whenever a boilerplate-laden mirror happens to carry a smaller id.

- x41_canonical_by_quality: Jaccard≥0.8 pairs → connected components
  → every document labeled with its cluster (singletons are their
  own cluster), scored with the deterministic quality heuristic
  (operators/text.quality_score — oracle-proven in x6), and the
  cluster's (quality DESC, doc_id ASC) head marked ``keep``. Dropping
  keep=false rows yields the transitively-deduped, best-copy corpus.

Scale shape: inherits X2's bounded pair generation and X13's
O(log²n) clustering; the only additions are a per-doc scoring pass
(scan-local, built-in expressions) and one keyed window over
cluster_id (cluster sizes are near-dup-group sized, never corpus
sized). The quality tiebreak ranks by the ROUNDED score both engines
compute identically (the x6 contract), so the winner is
deterministic cross-engine.

[EXT]-classic per SURVEY.md §2.11 scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_spark.operators import dedup, text
from streaming_data_spark.queries import _t
from streaming_data_spark.queries_ext9 import _EDGE_SQL


def q_x41_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, quality, keep): keep=true on each
    near-dup cluster's highest-quality doc (doc_id tiebreak);
    singletons keep themselves."""
    docs = _t(spark, sf_dir, "documents")
    # r7 swap (r6 verdict item 4): the PREFIX-FILTERED pair tier
    # (PPJoin-family, proven output-equal to the plain shingle join —
    # lossless pruning, no stopword fan-out hazard) and star-
    # contraction CC (O(log^2 n) rounds regardless of component
    # diameter). Same oracle; measured 9.9s -> see SCALE.md.
    # r8: the shared tier — five registry queries consume this exact
    # pair set; it is materialized once per (session, input files).
    pairs = dedup.ngram_jaccard_pairs_prefix_shared(
        docs, "doc_id", "text", n=3, threshold=0.8
    )
    comps = dedup.connected_components_star(
        pairs, "id_a", "id_b"
    ).withColumnRenamed("id", "doc_id")
    scored = docs.select(
        "doc_id", F.round(text.quality_score("text"), 6).alias("quality")
    )
    labeled = scored.join(comps, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return labeled.withColumn("keep", F.row_number().over(w) == 1).select(
        "doc_id", "cluster_id", "quality", "keep"
    )


_EN_LIST = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])

SQL_X41 = rf"""
WITH RECURSIVE {_EDGE_SQL}, sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION
  SELECT id_b AS a, id_a AS b FROM edges
), reach AS (
  SELECT DISTINCT a AS id, a AS root FROM sym
  UNION
  SELECT s.b AS id, r.root FROM reach r JOIN sym s ON s.a = r.id
), labels AS (
  SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id
), scored AS (
  SELECT doc_id,
    round(least(1.0, len(t) / 200.0) * 0.3
          + (s_en * 1.0 / len(t)) * 0.4
          + (1.0 - praw) * 0.3, 6) AS quality
  FROM (
    SELECT doc_id, t,
      list_sum(list_transform(t, x ->
        CASE WHEN list_contains([{_EN_LIST}], x) THEN 1 ELSE 0 END)) AS s_en,
      length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0
        / length(text) AS praw
    FROM (SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\s+') AS t
          FROM documents)
  )
), labeled AS (
  SELECT s.doc_id, coalesce(l.cluster_id, s.doc_id) AS cluster_id, s.quality
  FROM scored s LEFT JOIN labels l USING (doc_id)
)
SELECT doc_id, cluster_id, quality,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality DESC, doc_id ASC) = 1 AS keep
FROM labeled
"""


EXT38_QUERIES = {
    "x41_canonical_by_quality": q_x41_canonical_by_quality,
}

EXT38_ORACLES = {
    "x41_canonical_by_quality": SQL_X41,
}
