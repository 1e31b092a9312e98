"""Fifty-ninth query wave — graph metrology, Pareto coverage, repeat
cadence:

- x92_dup_clustering_coeff: the global clustering coefficient of the
  near-dup graph (3·triangles / wedges) — ONE number separating
  template-spam cliques (gcc → 1) from hub-and-spoke partial-copy
  stars (gcc → 0); the summary metric over x57's triangle
  enumeration and the degree profile.
- a71_revenue_pareto: how many top customers cover {50, 80, 90}% of
  revenue — the Pareto coverage points behind a61's Gini (the same
  sorted-cumulative machinery, answering the planner's question
  directly).
- a74_repeat_purchase_gap: the distribution of days between a
  customer's consecutive orders (mean / p50 / p90) — the
  repeat-cadence input to any reorder-prediction or churn window.

Scale shapes: x92 = one prefix pair pass materialized once + degree
groupBy + the x57 wedge joins + 1-row agg; a71 = customer-grain agg
+ ONE sanctioned cumulative window over it + a 3-row agg; a74 =
customer-keyed lag window folded into a 1-row percentile agg.

[EXT]-classic per SURVEY.md §2.11 scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_spark.operators import dedup, graph
from streaming_data_spark.queries import _t
from streaming_data_spark.queries_ext9 import _EDGE_SQL

PARETO_PCTS = (0.5, 0.8, 0.9)


def q_x92_dup_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_edges, n_wedges, n_triangles, gcc): global clustering
    coefficient of the Jaccard>=0.8 near-dup graph."""
    docs = _t(spark, sf_dir, "documents")
    # shared tier already localCheckpoints the pair set — no second cut
    pairs = dedup.ngram_jaccard_pairs_prefix_shared(
        docs, "doc_id", "text", n=3, threshold=0.8
    ).select("id_a", "id_b")
    deg = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias(
            "n_wedges"
        )
    )
    tris = graph.triangles(pairs, "id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tris))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
                   ).otherwise(F.lit(0.0)).alias("gcc"),
        )
    )


SQL_X92 = f"""
WITH RECURSIVE {_EDGE_SQL},
deg AS (
  SELECT id, count(*) AS d FROM (
    SELECT id_a AS id FROM edges UNION ALL SELECT id_b FROM edges
  ) GROUP BY id
),
w AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
t AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.id_b = e2.id_a
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
e AS (SELECT count(*) AS n_edges FROM edges)
SELECT e.n_edges, w.n_wedges, t.n_triangles,
       CASE WHEN w.n_wedges > 0
            THEN round(3.0 * t.n_triangles / w.n_wedges, 6)
            ELSE 0.0 END AS gcc
FROM e CROSS JOIN w CROSS JOIN t
"""


def q_a71_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pct, n_customers_needed, share_of_customers): smallest top
    customer set covering each revenue share."""
    orders = _t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    # sanctioned: rank + cumulative over the customer-grain aggregate
    w = Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
    ranked = cust.withColumn("rk", F.row_number().over(w)).withColumn(
        "cum", F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    totals = ranked.agg(
        F.count(F.lit(1)).alias("n_cust"), F.sum("rev").alias("total")
    )
    marks = ranked.crossJoin(F.broadcast(totals)).groupBy().agg(
        F.max(F.col("n_cust")).alias("n_cust"),
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.lit(p) * F.col("total"), F.col("rk")
                )
            ).alias(f"k{int(p * 100)}")
            for p in PARETO_PCTS
        ],
    )
    return marks.select(
        F.expr(
            "stack("
            + str(len(PARETO_PCTS))
            + ", "
            + ", ".join(
                f"CAST({p} AS DOUBLE), k{int(p * 100)}" for p in PARETO_PCTS
            )
            + ") as (pct, n_customers_needed)"
        ),
        "n_cust",
    ).select(
        "pct",
        "n_customers_needed",
        F.round(F.col("n_customers_needed") / F.col("n_cust"), 6).alias(
            "share_of_customers"
        ),
    )


SQL_A71 = f"""
WITH cust AS (
  SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS rk,
         sum(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM cust
), totals AS (
  SELECT count(*) AS n_cust, sum(rev) AS total FROM cust
), ks AS (
  SELECT unnest([{", ".join(f"CAST({p} AS DOUBLE)" for p in PARETO_PCTS)}])
    AS pct
)
SELECT ks.pct,
       (SELECT min(rk) FROM ranked r, totals t
        WHERE r.cum >= ks.pct * t.total) AS n_customers_needed,
       round((SELECT min(rk) FROM ranked r, totals t
              WHERE r.cum >= ks.pct * t.total) * 1.0
             / (SELECT n_cust FROM totals), 6) AS share_of_customers
FROM ks
"""


def q_a74_repeat_purchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_gaps, mean_days, p50_days, p90_days): days between a
    customer's consecutive orders, corpus-wide distribution."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.datediff("o_orderdate", "prev").alias("gap"))
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap"), 6).alias("mean_days"),
        F.round(F.expr("percentile(gap, 0.5)"), 6).alias("p50_days"),
        F.round(F.expr("percentile(gap, 0.9)"), 6).alias("p90_days"),
    )


SQL_A74 = """
WITH gaps AS (
  SELECT date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate ASC,
                                                   o_orderkey ASC),
                   o_orderdate) AS gap
  FROM orders
)
SELECT count(*) AS n_gaps,
       round(avg(gap), 6) AS mean_days,
       round(quantile_cont(gap, 0.5), 6) AS p50_days,
       round(quantile_cont(gap, 0.9), 6) AS p90_days
FROM gaps WHERE gap IS NOT NULL
"""


EXT59_QUERIES = {
    "x92_dup_clustering_coeff": q_x92_dup_clustering_coeff,
    "a71_revenue_pareto": q_a71_revenue_pareto,
    "a74_repeat_purchase_gap": q_a74_repeat_purchase_gap,
}

EXT59_ORACLES = {
    "x92_dup_clustering_coeff": SQL_X92,
    "a71_revenue_pareto": SQL_A71,
    "a74_repeat_purchase_gap": SQL_A74,
}
