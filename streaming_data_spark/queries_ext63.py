"""Sixty-third query wave — cardinality sketching, Bloom-filter
membership eval, seasonal exponential smoothing:

- x100_kmv_distinct: the KMV (k-minimum-values) distinct-count
  sketch (Bar-Yossef et al. 2002, public) evaluated against the
  exact count — per event_type, hash every distinct user to [0,1)
  with a frozen md5-derived 52-bit hash, keep the k=64 smallest,
  and estimate |D| ≈ (k−1)/h_(k). The one-pass mergeable
  cardinality sketch that replaces count(DISTINCT) when the key set
  no longer fits anywhere; emitting est vs exact vs rel_err makes
  the accuracy measurable, same philosophy as the x71/x80/x90
  recall evals. Every estimate op is single-shot IEEE arithmetic
  (52-bit int / 2^52, one subtraction, one division) — bit-exact in
  any engine, no rounding anywhere.
- x101_bloom_filter_eval: a deterministic Bloom filter (m=512 bits,
  j=3 md5-derived positions) built over one nation's customers and
  probed with every ordering customer — reports observed false-
  positive rate and the always-zero false-negative count (the Bloom
  guarantee, asserted cross-engine). m is deliberately small enough
  that the sf0.1/x10 corpus SATURATES the filter — the eval shows
  the undersizing failure mode instead of hiding it.
- a80_holt_winters: additive Holt-Winters (level+trend+weekly
  season, α=0.3 β=0.05 γ=0.2, m=7) over the daily order-revenue
  series — the seasonal upgrade of a37's Holt fold. Seeds: level =
  mean of week 1, trend = 0, s_i = y_i − level; smoothing starts on
  day 8 and every emitted row carries the one-step-ahead fit and
  residual. The seasonal state is a 7-slot ring that shifts each
  step, so the oracle is a RECURSIVE CTE carrying a DOUBLE[7] list
  column through the identical IEEE op order (the a37/a76 fold
  discipline, extended to vector state).

Scale shapes: x100 = distinct-pair groupBy, then a salted two-phase
min-k (per-(type,salt) window prune to ≤k, re-rank the ≤64k
survivors) — never a whole-type sort in one task at fact grain;
x101 = the bit-position table is ≤m rows broadcast BY CONSTRUCTION,
probes ride one distinct groupBy + a ×j posexplode + broadcast join
+ keyed agg into a 1-row report; a80 = fact rows collapse to the
day-grain series (≤ calendar days at ANY scale), the fold runs once
over that bounded table (same sanctioned shape as a37/a76/x43
folds).

[EXT]-classic per SURVEY.md §2.11 scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, DoubleType, StructField, StructType

from streaming_data_spark.queries import _t
from streaming_data_spark.streaming.stateful import _advance_holt_winters, _bind_fold

KMV_K = 64
KMV_SALTS = 64
_HASH_DEN = float(16 ** 13)  # 2^52 — division by it is IEEE-exact

BLOOM_M = 512
BLOOM_J = 3
BLOOM_NATION = 1

HW_ALPHA, HW_BETA, HW_GAMMA, HW_M = 0.3, 0.05, 0.2, 7


# --------------------------------------------------------------------------
# x100 — KMV distinct-count sketch vs exact
# --------------------------------------------------------------------------

def _unit_hash(col):
    """Frozen 52-bit md5 hash of a string column, scaled to [0, 1)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")
        / F.lit(_HASH_DEN)
    )


def q_x100_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_exact, n_kept, h_k, est, rel_err): KMV k=64
    cardinality estimate of distinct users per event type."""
    ev = _t(spark, sf_dir, "events")
    pairs = (
        ev.select("event_type", F.col("user_id").cast("string").alias("uid"))
        .distinct()
        .withColumn("h", _unit_hash(F.col("uid")))
    )
    # SINGLE cascade, one scan: (1) salted min-k prune — no task ever
    # sorts a whole type's users — with the per-salt-group size
    # ridden along on the same exchange; (2) re-rank the ≤ SALTS·k
    # survivors per type; (3) fold n_exact (Σ of salt-group sizes via
    # each group's rk==1 row), h_k (= max h among the global top-K —
    # identical to "the least(K, n)-th smallest", join-free), and
    # n_kept into ONE types-bounded groupBy.
    salt = F.pmod(
        F.conv(F.substring(F.md5("uid"), 14, 8), 16, 10).cast("long"),
        F.lit(KMV_SALTS),
    )
    w_salt = Window.partitionBy("event_type", "_salt").orderBy(
        F.asc("h"), F.asc("uid")
    )
    w_salt_all = Window.partitionBy("event_type", "_salt")
    pruned = (
        pairs.withColumn("_salt", salt)
        .withColumn("_rk", F.row_number().over(w_salt))
        .withColumn("_cnt_salt", F.count(F.lit(1)).over(w_salt_all))
        .filter(F.col("_rk") <= KMV_K)
    )
    w_type = Window.partitionBy("event_type").orderBy(F.asc("h"), F.asc("uid"))
    ranked = pruned.withColumn("rk", F.row_number().over(w_type))
    per_type = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("_rk") == 1, F.col("_cnt_salt"))).alias("n_exact"),
        F.sum(F.when(F.col("rk") <= KMV_K, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.max(F.when(F.col("rk") <= KMV_K, F.col("h"))).alias("h_k"),
    )
    return (
        per_type.select(
            "event_type",
            "n_exact",
            "n_kept",
            "h_k",
            F.when(
                F.col("n_exact") <= KMV_K, F.col("n_exact").cast("double")
            )
            .otherwise(F.lit(float(KMV_K - 1)) / F.col("h_k"))
            .alias("est"),
        )
        .withColumn(
            "rel_err",
            (F.col("est") - F.col("n_exact")) / F.col("n_exact"),
        )
    )


SQL_X100 = f"""
WITH pairs AS (
  SELECT DISTINCT event_type, user_id::VARCHAR AS uid FROM events
), hashed AS (
  SELECT event_type, uid,
         ('0x' || substr(md5(uid), 1, 13))::BIGINT / {_HASH_DEN!r} AS h
  FROM pairs
), exact AS (
  SELECT event_type, count(*) AS n_exact FROM pairs GROUP BY event_type
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY h ASC, uid ASC) AS rk
  FROM hashed
), hk AS (
  SELECT r.event_type, r.h AS h_k
  FROM ranked r JOIN exact e USING (event_type)
  WHERE r.rk = LEAST({KMV_K}, e.n_exact)
)
SELECT e.event_type, e.n_exact,
       LEAST({KMV_K}, e.n_exact) AS n_kept, h_k,
       CASE WHEN e.n_exact <= {KMV_K} THEN e.n_exact::DOUBLE
            ELSE {float(KMV_K - 1)!r} / h_k END AS est,
       (CASE WHEN e.n_exact <= {KMV_K} THEN e.n_exact::DOUBLE
             ELSE {float(KMV_K - 1)!r} / h_k END - e.n_exact)
         / e.n_exact AS rel_err
FROM exact e JOIN hk USING (event_type)
"""


# --------------------------------------------------------------------------
# x101 — Bloom filter build + probe with measured FPR
# --------------------------------------------------------------------------

def _bloom_pos(col, i: int):
    """Deterministic bit position j_i(key) in [0, BLOOM_M)."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"b{i}:"), col)), 1, 13), 16, 10
        ).cast("long"),
        F.lit(BLOOM_M),
    )


def q_x101_bloom_filter_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_probes, n_members, n_nonmembers, bits_set,
    n_pass, n_false_pos, n_false_neg, fpr): Bloom filter of nation-1
    customers probed with every ordering customer."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    member_keys = (
        cust.filter(F.col("c_nationkey") == BLOOM_NATION)
        .select(F.col("c_custkey").cast("string").alias("key"))
    )
    bits = (
        member_keys.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("key"), i) for i in range(BLOOM_J)])
            ).alias("pos")
        )
        .distinct()
    )
    probes = (
        orders.select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .withColumn("key", F.col("custkey").cast("string"))
    )
    truth = probes.join(
        cust.select(
            F.col("c_custkey").alias("custkey"),
            (F.col("c_nationkey") == BLOOM_NATION).alias("is_member"),
        ),
        "custkey",
    )
    probed = (
        truth.select(
            "custkey",
            "is_member",
            F.posexplode(
                F.array(*[_bloom_pos(F.col("key"), i) for i in range(BLOOM_J)])
            ).alias("i", "pos"),
        )
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("custkey", "is_member")
        .agg((F.count("hit") == BLOOM_J).alias("bloom_pass"))
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    return (
        probed.agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0))
            .cast("long")
            .alias("n_members"),
            F.sum(F.when(~F.col("is_member"), 1).otherwise(0))
            .cast("long")
            .alias("n_nonmembers"),
            F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.sum(
                F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
            F.sum(
                F.when(~F.col("bloom_pass") & F.col("is_member"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_neg"),
        )
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_probes",
            "n_members",
            "n_nonmembers",
            "bits_set",
            "n_pass",
            "n_false_pos",
            "n_false_neg",
            (F.col("n_false_pos") / F.col("n_nonmembers")).alias("fpr"),
        )
    )


_POS_SQL = " , ".join(
    f"('0x' || substr(md5('b{i}:' || key), 1, 13))::BIGINT % {BLOOM_M}"
    for i in range(BLOOM_J)
)

SQL_X101 = f"""
WITH member_keys AS (
  SELECT c_custkey::VARCHAR AS key FROM customer
  WHERE c_nationkey = {BLOOM_NATION}
), bits AS (
  SELECT DISTINCT unnest([{_POS_SQL}]) AS pos FROM member_keys
), probes AS (
  SELECT DISTINCT o_custkey AS custkey, o_custkey::VARCHAR AS key FROM orders
), truth AS (
  SELECT p.custkey, p.key, (c.c_nationkey = {BLOOM_NATION}) AS is_member
  FROM probes p JOIN customer c ON p.custkey = c.c_custkey
), probe_pos AS (
  SELECT custkey, is_member, unnest([{_POS_SQL}]) AS pos FROM truth
), per_key AS (
  SELECT custkey, is_member,
         (count(b.pos) = {BLOOM_J}) AS bloom_pass
  FROM probe_pos pp LEFT JOIN bits b ON pp.pos = b.pos
  GROUP BY custkey, is_member
)
SELECT
  CAST(count(*) AS BIGINT) AS n_probes,
  CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
  CAST(sum(CASE WHEN is_member THEN 0 ELSE 1 END) AS BIGINT) AS n_nonmembers,
  (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
  CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  CAST(sum(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
       AS BIGINT) AS n_false_pos,
  CAST(sum(CASE WHEN NOT bloom_pass AND is_member THEN 1 ELSE 0 END)
       AS BIGINT) AS n_false_neg,
  sum(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) * 1.0
    / sum(CASE WHEN is_member THEN 0 ELSE 1 END) AS fpr
FROM per_key
"""


# --------------------------------------------------------------------------
# a80 — additive Holt-Winters over daily order revenue
# --------------------------------------------------------------------------

_HW_SCHEMA = StructType(
    [
        StructField("d", DateType()),
        StructField("y", DoubleType()),
        StructField("s_used", DoubleType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("fitted", DoubleType()),
        StructField("resid", DoubleType()),
    ]
)


def q_a80_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, y, s_used, level, trend, fitted, resid): additive weekly
    Holt-Winters over daily order revenue, emitted from day m+1 on —
    the ``_advance_holt_winters`` fold, bound on a constant key so the
    whole day-grain series is one key folded in day order."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 6).alias("y")
    )
    a, b, g, m = HW_ALPHA, HW_BETA, HW_GAMMA, HW_M
    return _bind_fold(
        daily.withColumn("_series", F.lit(0)),
        "_series",
        ["d"],
        _HW_SCHEMA.fields,
        lambda state, batch: _advance_holt_winters(
            state, batch["d"], batch["y"], a, b, g, m
        ),
    ).drop("_series")


_A, _OMA = repr(HW_ALPHA), repr(1.0 - HW_ALPHA)
_B, _OMB = repr(HW_BETA), repr(1.0 - HW_BETA)
_G, _OMG = repr(HW_GAMMA), repr(1.0 - HW_GAMMA)
# the new-level expression, inlined wherever the fold reads it (the
# a37 discipline: recompute, don't reorder)
_NL = f"({_A} * (n.y - r.slist[1]) + {_OMA} * (r.level + r.trend))"

SQL_A80 = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, round(sum(o_totalprice), 6) AS y
  FROM orders GROUP BY 1
), numbered AS (
  SELECT d, y, row_number() OVER (ORDER BY d) AS rn FROM daily
), r AS (
  SELECT rn, d, y,
         y AS cum, [y] AS ys,
         CAST(NULL AS DOUBLE) AS level, CAST(NULL AS DOUBLE) AS trend,
         CAST(NULL AS DOUBLE[]) AS slist,
         CAST(NULL AS DOUBLE) AS s_used, CAST(NULL AS DOUBLE) AS fitted,
         CAST(NULL AS DOUBLE) AS resid
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.rn, n.d, n.y,
         CASE WHEN n.rn <= {HW_M} THEN r.cum + n.y ELSE 0.0 END,
         CASE WHEN n.rn < {HW_M} THEN list_concat(r.ys, [n.y])
              ELSE CAST(NULL AS DOUBLE[]) END,
         CASE WHEN n.rn < {HW_M} THEN CAST(NULL AS DOUBLE)
              WHEN n.rn = {HW_M} THEN (r.cum + n.y) / {float(HW_M)!r}
              ELSE {_NL} END,
         CASE WHEN n.rn < {HW_M} THEN CAST(NULL AS DOUBLE)
              WHEN n.rn = {HW_M} THEN 0.0
              ELSE {_B} * ({_NL} - r.level) + {_OMB} * r.trend END,
         CASE WHEN n.rn < {HW_M} THEN CAST(NULL AS DOUBLE[])
              WHEN n.rn = {HW_M} THEN list_transform(
                     list_concat(r.ys, [n.y]),
                     v -> v - ((r.cum + n.y) / {float(HW_M)!r}))
              ELSE list_concat(
                     r.slist[2:{HW_M}],
                     [{_G} * (n.y - {_NL}) + {_OMG} * r.slist[1]]) END,
         CASE WHEN n.rn > {HW_M} THEN r.slist[1]
              ELSE CAST(NULL AS DOUBLE) END,
         CASE WHEN n.rn > {HW_M} THEN r.level + r.trend + r.slist[1]
              ELSE CAST(NULL AS DOUBLE) END,
         CASE WHEN n.rn > {HW_M}
              THEN n.y - (r.level + r.trend + r.slist[1])
              ELSE CAST(NULL AS DOUBLE) END
  FROM numbered n JOIN r ON n.rn = r.rn + 1
)
SELECT d, y, s_used, level, trend, fitted, resid
FROM r WHERE rn > {HW_M}
"""


EXT63_QUERIES = {
    "x100_kmv_distinct": q_x100_kmv_distinct,
    "x101_bloom_filter_eval": q_x101_bloom_filter_eval,
    "a80_holt_winters": q_a80_holt_winters,
}

EXT63_ORACLES = {
    "x100_kmv_distinct": SQL_X100,
    "x101_bloom_filter_eval": SQL_X101,
    "a80_holt_winters": SQL_A80,
}
