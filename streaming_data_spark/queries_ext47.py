"""Forty-seventh query wave — label-aware ANN + robust event anomalies:

- x58_knn_classify: k-nearest-neighbor classification over the
  embeddings table — exact cosine top-5 per probe vector
  (similarity.cosine_topk, the x5 kernel), majority vote over
  neighbor labels with a (votes DESC, label ASC) deterministic
  tie-break. The eval-style companion of x33's nearest-centroid
  classifier: same data, instance-based instead of prototype-based.
- x59_semdedup: SemDeDup-style semantic deduplication (Abbas et al.
  2023, arXiv:2303.09540): cluster every embedding to its nearest
  label-centroid (the x33 assignment), then WITHIN each cluster drop
  any vector whose cosine to a smaller-id cluster-mate exceeds the
  near-dup threshold. The pairs come from similarity's sign-LSH
  blocked kernel (the x7_near_dup_lsh one) blocked on (cluster,
  bucket with 1-bit multiprobe) — cluster-only blocking goes
  quadratic once the corpus outgrows the fixed centroid count (the
  x10 probe measured 47x; with the sub-block it is ~linear), and the
  frozen-hyperplane buckets keep the oracle exact. Emits the full
  keep/drop decision per vector; the only Python UDF of its own is
  the centroid argmin.
- a40_anomaly_mad: per-user robust anomaly flags — each event scored
  against its user's exact median and MAD (same engine/oracle median
  parity as a15, which grades per event type; this grades per USER
  and emits the offending EVENTS, the monitor_errors-style alert feed
  at row grain). Score = adev/mad rounded 6; mad=0 degenerate users
  are excluded identically on both sides.

Scale shapes: x58 broadcasts only the absolutely-bounded probe batch
and the queries×k result (corpus stays distributed, work linear in
corpus rows); x59's pair blocks key on (cluster, LSH bucket); a40 is
two keyed median passes + a user-grain broadcast back, like a15.

[EXT]-classic per SURVEY.md §2.11 scope.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from streaming_data_spark.operators import similarity
from streaming_data_spark.operators.similarity import _lsh_block_pairs, _rows_matrix
from streaming_data_spark.queries import _t

KNN_K = 5
SEM_THRESHOLD = 0.45  # near-orthogonal testdata; see x7
SEM_PLANES = 4  # LSH sub-blocking inside clusters; see x7_near_dup_lsh
# Corpus-scaled plane count (r6 verdict item 1): FIXED 4-plane
# blocking saturates — cluster count and bucket count are both
# constants, so block occupancy (and within-block pair work) grows
# quadratically once the corpus outgrows clusters x 2^4 (the 8.1x
# x10 ratio). One extra plane per corpus doubling keeps occupancy
# ~constant: planes = 4 + ceil(log2(n / SEM_N0)), capped. Recall is
# traded explicitly (more planes = finer blocks = fewer cross-bucket
# pairs surveyed); the oracle reproduces the exact same plane count
# from count(*) with the identical formula, so the gate stays exact
# at every scale. SEM_N0 = 2048 keeps planes = 4 at all test SFs
# (max 2000 embeddings), i.e. behavior at driver scales is unchanged.
SEM_N0 = 2048
# Cap raised 12 -> 16 (r16): the r16 x1000 chain (the first TRUE
# x1000 embeddings fan, 2M vectors) hit the cap's quadratic regime —
# past n = SEM_N0 * 2^(16-4-4)... i.e. once ceil(log2(n/2048)) > the
# cap's headroom, occupancy grows linearly with the corpus again and
# pair work quadratically (the x1000 leg ran >39 min/rep where the
# occupancy formula predicts seg ~50; with 14 effective planes at 2M
# vectors the same formula predicts occupancy ~12/block and a
# near-linear leg). 16 keeps the quadratic onset past 8.4M vectors
# per centroid family; at real 100 TB scale the CLUSTER count (here
# frozen to the label vocabulary by the data model) is the other
# factor to grow — SemDeDup production configs scale k with corpus.
# The bucket id stays well inside int32 and the oracle's masked
# SEM_PLANES_MAX-bit bucket tracks the new cap automatically (same
# f-string constant).
SEM_PLANES_MAX = 16


def _sem_planes(n: int) -> int:
    """LSH plane count for an n-vector corpus — mirrored exactly by
    the params CTE in SQL_X59 (same double-precision log2/ceil)."""
    if n <= SEM_N0:
        return SEM_PLANES
    return min(SEM_PLANES_MAX, SEM_PLANES + math.ceil(math.log2(n / float(SEM_N0))))


def q_x58_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, true_label, pred_label, votes): 5-NN majority-vote
    classification of every 25th vector."""
    emb = _t(spark, sf_dir, "embeddings")
    # Absolutely bounded probe batch (the x45 rule): % 25 alone makes
    # the probe count grow WITH the corpus and the brute-force kernel
    # quadratic at 10x; the id cap fixes the batch so work scales
    # linearly in corpus rows. (No-op at every test SF: ids < 2000.)
    queries = emb.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2000))
    nn = similarity.cosine_topk(emb, queries, k=KNN_K)
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    # queries×k rows broadcast into the corpus-sized label lookup —
    # the big side never moves.
    votes = (
        labels.join(F.broadcast(nn), "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("n_label")
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"), "votes")
    )
    true_l = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return true_l.join(F.broadcast(pred), "query_id").select(
        F.col("query_id").alias("vec_id"), "true_label", "pred_label", "votes"
    )


SQL_X58 = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS true_label, embedding AS q_vec
  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 2000
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS n_label,
    list_sum(list_transform(range(1, len(e.embedding) + 1),
      i -> q.q_vec[i]::DOUBLE * e.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(range(1, len(q.q_vec) + 1),
        i -> q.q_vec[i]::DOUBLE * q.q_vec[i]::DOUBLE)))
     * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))) AS cosine_raw
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, n_label,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_raw DESC, neighbor_id ASC) AS rank
  FROM scored
), votes AS (
  SELECT query_id, n_label, count(*) AS votes
  FROM ranked WHERE rank <= {KNN_K}
  GROUP BY query_id, n_label
), pred AS (
  SELECT query_id, n_label AS pred_label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, n_label ASC) AS rk
  FROM votes
)
SELECT q.query_id AS vec_id, q.true_label,
       p.pred_label, CAST(p.votes AS BIGINT) AS votes
FROM q JOIN pred p USING (query_id)
WHERE p.rk = 1
"""


def q_x59_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster, dropped): nearest-centroid cluster per vector
    and whether a smaller-id cluster-mate within cosine >= 0.45 marks
    it a semantic duplicate.

    The centroid argmin runs in numpy over Arrow batches; the pairs
    come from similarity's sign-LSH blocked kernel (the x7 scale path)
    blocked on (cluster, bucket), and the dropped set is the larger id
    of each pair. Emitted pairs are exactly those in one cluster with
    hamming(home_a, home_b) <= 1 over the corpus-derived plane count
    and cosine >= threshold, so the oracle reproduces the blocking
    bit-for-bit (frozen md5-derived hyperplanes, identical
    count(*)-driven plane formula, same sign convention as
    similarity.sign_bucket)."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    # Label centroids: ONE n×d-row posexplode + one grouped exchange
    # (label rides the select — the old shape paid a vec_id self-join
    # to attach it), collected as a bounded L×d driver scalar (the
    # ivf_topk centroid protocol; L = label vocabulary, never corpus).
    crows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.avg("x").alias("c"))
        .collect()
    )
    labels = sorted({r.clabel for r in crows})
    lidx = {lab: i for i, lab in enumerate(labels)}
    dim = max(r.pos for r in crows) + 1
    cent_mat = np.zeros((len(labels), dim), dtype=np.float64)
    for r in crows:
        cent_mat[lidx[r.clabel], r.pos] = r.c
    lab_arr = np.array(labels, dtype=np.int32)
    # The count() is one bounded driver scalar on a columnar scan.
    planes = _sem_planes(emb.count())

    def _assign(batches):
        # Squared L2 to every centroid; ties -> lowest label (numpy
        # argmin picks the first = label-ascending index, matching the
        # oracle's (d2, clabel) order).
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            mat = _rows_matrix(batch.column("embedding"))
            d2 = (
                (mat * mat).sum(1, keepdims=True)
                - 2.0 * mat @ cent_mat.T
                + (cent_mat * cent_mat).sum(1)[None, :]
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), pa.array(lab_arr[d2.argmin(1)]),
                 batch.column("embedding")],
                names=["vec_id", "cluster", "embedding"],
            )

    # vecs feeds the pair blocks AND the final flag join — ONE eager
    # checkpoint, or the argmin pipeline replays per consumer.
    vecs = (
        emb.select("vec_id", "embedding")
        .mapInArrow(_assign, StructType([
            emb.schema["vec_id"],
            StructField("cluster", IntegerType()),
            emb.schema["embedding"],
        ]))
        .localCheckpoint(eager=True)
    )
    # Blocking on (cluster, LSH bucket): a cluster-only join is
    # quadratic in cluster size once the corpus outgrows the fixed
    # centroid count (the 47x cliff the x10 probe caught); the bucket
    # keys the work on bucket occupancy instead, and the plane count
    # SCALES with the corpus (_sem_planes) so occupancy stays bounded
    # as the corpus outgrows cluster x bucket count.
    dropped = (
        _lsh_block_pairs(vecs, "vec_id", "embedding", SEM_THRESHOLD, planes,
                         block_cols=("cluster",))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    # NO broadcast hint here (r6 verdict item 1): SemDeDup at
    # production thresholds drops 20-50% of the corpus, so `dropped`
    # is O(corpus) — a forced broadcast is an OOM cliff at 100x. A
    # plain keyed left join lets AQE pick broadcast only when the
    # runtime size actually fits (plan-gated in tests/test_plans.py).
    return vecs.select("vec_id", "cluster").join(
        dropped.withColumn("_d", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id", "cluster", F.coalesce(F.col("_d"), F.lit(False)).alias("dropped")
    )


from streaming_data_spark.queries_ext import sign_bucket_sql as _sign_bucket_sql

# Bucket bits are per-plane constants (plane p's hyperplane depends
# only on p, not the total plane count), so the P-plane bucket equals
# the SEM_PLANES_MAX-plane bucket masked to its low P bits. The
# oracle therefore computes home at SEM_PLANES_MAX once and masks
# with the count(*)-derived plane count from the params CTE — the
# exact formula _sem_planes uses (same IEEE log2/ceil).
_SEM_BUCKET = _sign_bucket_sql("e.embedding", SEM_PLANES_MAX)

SQL_X59 = f"""
WITH params AS (
  SELECT CASE WHEN count(*) <= {SEM_N0} THEN {SEM_PLANES}
              ELSE least({SEM_PLANES_MAX},
                         {SEM_PLANES} + CAST(ceil(log2(count(*) / {SEM_N0}.0)) AS INT))
         END AS np
  FROM embeddings
), pos AS (
  SELECT vec_id, label, i AS pos, embedding[i] AS x
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(i)
),
cent AS (
  SELECT label AS clabel, pos, avg(x) AS c
  FROM pos GROUP BY label, pos
),
dist AS (
  SELECT p.vec_id, c.clabel, sum((p.x - c.c) * (p.x - c.c)) AS d2
  FROM pos p JOIN cent c USING (pos)
  GROUP BY p.vec_id, c.clabel
),
assigned AS (
  SELECT vec_id, clabel AS cluster
  FROM (
    SELECT vec_id, clabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, clabel ASC) AS rk
    FROM dist
  ) WHERE rk = 1
),
vecs AS (
  SELECT e.vec_id, a.cluster, e.embedding,
         (({_SEM_BUCKET}) & (((1 << p.np) - 1))) AS home
  FROM embeddings e JOIN assigned a USING (vec_id) CROSS JOIN params p
),
dup_pairs AS (
  SELECT b.vec_id AS dropped_id
  FROM vecs a JOIN vecs b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
   AND bit_count(xor(a.home, b.home)) <= 1
  WHERE
    list_sum(list_transform(range(1, len(a.embedding) + 1),
      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
        i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
     * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
        i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
    >= {SEM_THRESHOLD}
)
SELECT a.vec_id, a.cluster,
       (a.vec_id IN (SELECT dropped_id FROM dup_pairs)) AS dropped
FROM assigned a
"""


def q_a40_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_id, value, med, mad, score): events whose
    absolute deviation from the user's median exceeds 3 MAD."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "user_id")
        .filter((F.col("mad") > 0) & (F.col("adev") > 3 * F.col("mad")))
        .select(
            "user_id",
            "event_id",
            "value",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.round(F.col("adev") / F.col("mad"), 6).alias("score"),
        )
    )


SQL_A40 = """
WITH med AS (
  SELECT user_id, median(value) AS med FROM events GROUP BY user_id
),
dev AS (
  SELECT e.user_id, e.event_id, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (user_id)
),
mad AS (
  SELECT user_id, median(adev) AS mad FROM dev GROUP BY user_id
)
SELECT d.user_id, d.event_id, d.value,
       round(d.med, 6) AS med,
       round(m.mad, 6) AS mad,
       round(d.adev / m.mad, 6) AS score
FROM dev d JOIN mad m USING (user_id)
WHERE m.mad > 0 AND d.adev > 3 * m.mad
"""


EXT47_QUERIES = {
    "x58_knn_classify": q_x58_knn_classify,
    "x59_semdedup": q_x59_semdedup,
    "a40_anomaly_mad": q_a40_anomaly_mad,
}

EXT47_ORACLES = {
    "x58_knn_classify": SQL_X58,
    "x59_semdedup": SQL_X59,
    "a40_anomaly_mad": SQL_A40,
}
