"""Sixty-first query wave — link prediction, graph mixing, survival:

- x96_adamic_adar: Adamic-Adar link-prediction scores for the top-20
  non-adjacent pairs of the near-dup graph — Σ_z 1/ln(deg(z)) over
  common neighbors z. The classic "which docs are about to become
  duplicates" / recommender signal; wedge enumeration rides the
  same forward-oriented join shape as x57's triangles, and the
  candidate set is wedge-bounded (never all-pairs).
- x97_degree_assortativity: the Pearson correlation of endpoint
  degrees over the symmetric edge set — do high-degree templates
  attach to other templates (assortative, r>0) or to one-off docs
  (disassortative, r<0)? Every sum in the closed form is an INTEGER
  (degrees × degrees), so the five accumulators are BIGINT-exact in
  any engine at any scale; only the final r expression is floating.
- a78_kaplan_meier: the Kaplan-Meier survival curve over customer
  order-lifetimes (first→last order span, censored when the last
  order falls within 90 days of the dataset horizon) — the honest
  churn curve that a naive "avg lifetime" overstates under
  censoring. Event-time-grain output; the cumulative product runs
  as exp(Σ ln(1-d/n)) over the ordered event-time table with an
  explicit zero-factor guard (Spark's log(0)=NULL vs DuckDB's -inf).

Scale shapes: x96 = prefix pair-gen (the known x41/x13 family) +
degree groupBy + one wedge self-join grouped to candidate pairs +
global top-k (TakeOrderedAndProject); x97 = same pair-gen + degree
groupBy + ONE keyed join per endpoint folded into a 1-row integer
agg; a78 = customer-grain agg → lifetime-grain counts (≤ calendar
days rows) → one sanctioned cumulative window over that bounded
table.

[EXT]-classic per SURVEY.md §2.11 scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_spark.operators import dedup
from streaming_data_spark.queries import _t
from streaming_data_spark.queries_ext9 import _EDGE_SQL

AA_TOPK = 20
KM_CENSOR_DAYS = 90


def _sym_edges(docs: DataFrame) -> DataFrame:
    """Symmetric (node, nbr) adjacency of the Jaccard≥0.8 near-dup
    graph, materialized once (three consumers downstream)."""
    pairs = dedup.ngram_jaccard_pairs_prefix_shared(
        docs, "doc_id", "text", n=3, threshold=0.8
    ).select("id_a", "id_b")
    return (
        pairs.select(F.col("id_a").alias("node"), F.col("id_b").alias("nbr"))
        .union(
            pairs.select(
                F.col("id_b").alias("node"), F.col("id_a").alias("nbr")
            )
        )
        .localCheckpoint(eager=True)
    )


_SYM_SQL = f"""{_EDGE_SQL},
sym AS (
  SELECT id_a AS node, id_b AS nbr FROM edges
  UNION ALL
  SELECT id_b AS node, id_a AS nbr FROM edges
)"""


def q_x96_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, n_common, aa_score): top-20 non-adjacent pairs by
    Adamic-Adar common-neighbor score."""
    docs = _t(spark, sf_dir, "documents")
    sym = _sym_edges(docs)
    # only deg>=2 nodes can center a wedge, and the explicit filter
    # keeps ANSI mode off the 1/ln(1) division for deg-1 nodes
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    wsym = (
        sym.join(deg.filter(F.col("d") >= 2), "node")
        .select(
            "node",
            "nbr",
            (1.0 / F.log(F.col("d").cast("double"))).alias("w"),
        )
    )
    cand = (
        wsym.select(F.col("node"), F.col("nbr").alias("id_a"), "w")
        .join(
            wsym.select(F.col("node"), F.col("nbr").alias("id_b")),
            "node",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum("w"), 6).alias("aa_score"),
        )
    )
    edges = sym.filter(F.col("node") < F.col("nbr")).select(
        F.col("node").alias("id_a"), F.col("nbr").alias("id_b")
    )
    return (
        cand.join(edges, ["id_a", "id_b"], "left_anti")
        .orderBy(F.desc("aa_score"), F.asc("id_a"), F.asc("id_b"))
        .limit(AA_TOPK)
    )


SQL_X96 = f"""
WITH RECURSIVE {_SYM_SQL},
deg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
wsym AS (
  SELECT s.node, s.nbr, 1.0 / ln(CAST(d.d AS DOUBLE)) AS w
  FROM sym s JOIN deg d ON s.node = d.node AND d.d >= 2
),
cand AS (
  SELECT a.nbr AS id_a, b.nbr AS id_b,
         count(*) AS n_common, round(sum(a.w), 6) AS aa_score
  FROM wsym a JOIN wsym b ON a.node = b.node AND a.nbr < b.nbr
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, aa_score
FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM edges e WHERE e.id_a = c.id_a AND e.id_b = c.id_b
)
ORDER BY aa_score DESC, id_a ASC, id_b ASC
LIMIT {AA_TOPK}
"""


def q_x97_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_ends, mean_deg, assortativity): Pearson r of endpoint
    degrees over the symmetric near-dup edge set."""
    docs = _t(spark, sf_dir, "documents")
    sym = _sym_edges(docs)
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    ends = (
        sym.join(deg, "node")
        .select("nbr", F.col("d").alias("dx"))
        .join(
            deg.select(F.col("node").alias("nbr"), F.col("d").alias("dy")),
            "nbr",
        )
    )
    sums = ends.agg(
        F.count(F.lit(1)).alias("n_ends"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    n = F.col("n_ends").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        "n_ends",
        F.round(F.col("sx") / n, 6).alias("mean_deg"),
        F.round(num / den, 6).alias("assortativity"),
    )


SQL_X97 = f"""
WITH RECURSIVE {_SYM_SQL},
deg AS (SELECT node, count(*) AS d FROM sym GROUP BY node),
ends AS (
  SELECT da.d AS dx, db.d AS dy
  FROM sym s
  JOIN deg da ON s.node = da.node
  JOIN deg db ON s.nbr = db.node
), sums AS (
  SELECT count(*) AS n_ends,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM ends
)
SELECT n_ends,
       round(sx / CAST(n_ends AS DOUBLE), 6) AS mean_deg,
       round((CAST(n_ends AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n_ends AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n_ends AS DOUBLE) * syy - sy * sy)), 6)
         AS assortativity
FROM sums
"""


def q_a78_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_days, n_at_risk, n_events, n_censored, survival): KM churn
    curve over repeat-customer order lifetimes."""
    orders = _t(spark, sf_dir, "orders")
    horizon = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("dmax")
    )
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.min(F.to_date("o_orderdate")).alias("first_d"),
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 2)
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_d", "first_d").alias("t"),
            (
                F.datediff("dmax", "last_d") > KM_CENSOR_DAYS
            ).alias("observed"),
        )
    )
    counts = cust.groupBy("t").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum(F.when(~F.col("observed"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    # sanctioned: cumulative windows over the lifetime-grain table
    # (rows bounded by the calendar span, never by fact volume)
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # at-risk at t = everyone whose lifetime >= t = total - strictly-before
    staged = counts.withColumn(
        "before", F.coalesce(F.sum(F.col("d") + F.col("c")).over(prev), F.lit(0))
    )
    total = counts.agg(
        F.sum(F.col("d") + F.col("c")).cast("long").alias("total")
    )
    km = (
        staged.crossJoin(F.broadcast(total))
        .withColumn("n_at_risk", F.col("total") - F.col("before"))
        .filter(F.col("d") > 0)
        .withColumn(
            "factor",
            1.0 - F.col("d") / F.col("n_at_risk").cast("double"),
        )
        .withColumn(
            "zero_seen",
            F.max(F.when(F.col("factor") <= 0.0, 1).otherwise(0)).over(cum),
        )
        .withColumn(
            "cum_ln",
            F.sum(
                F.when(F.col("factor") > 0.0, F.log("factor")).otherwise(0.0)
            ).over(cum),
        )
    )
    return km.select(
        F.col("t").alias("t_days"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(F.col("zero_seen") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("cum_ln"), 6))
        .alias("survival"),
    )


SQL_A78 = f"""
WITH horizon AS (
  SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders
), cust AS (
  SELECT date_diff('day', min(CAST(o_orderdate AS DATE)),
                   max(CAST(o_orderdate AS DATE))) AS t,
         date_diff('day', max(CAST(o_orderdate AS DATE)),
                   (SELECT dmax FROM horizon)) > {KM_CENSOR_DAYS}
           AS observed
  FROM orders GROUP BY o_custkey HAVING count(*) >= 2
), counts AS (
  SELECT t,
         CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS c
  FROM cust GROUP BY t
), staged AS (
  SELECT t, d, c,
         COALESCE(sum(d + c) OVER (ORDER BY t
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS before,
         (SELECT sum(d + c) FROM counts) AS total
  FROM counts
), km AS (
  SELECT t, CAST(total - before AS BIGINT) AS n_at_risk, d, c,
         1.0 - d / CAST(total - before AS DOUBLE) AS factor
  FROM staged WHERE d > 0
), curve AS (
  SELECT t, n_at_risk, d, c,
         max(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS zero_seen,
         sum(CASE WHEN factor > 0.0 THEN ln(factor) ELSE 0.0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum_ln
  FROM km
)
SELECT t AS t_days, n_at_risk, d AS n_events, c AS n_censored,
       CASE WHEN zero_seen = 1 THEN 0.0
            ELSE round(exp(cum_ln), 6) END AS survival
FROM curve
"""


EXT61_QUERIES = {
    "x96_adamic_adar": q_x96_adamic_adar,
    "x97_degree_assortativity": q_x97_degree_assortativity,
    "a78_kaplan_meier": q_a78_kaplan_meier,
}

EXT61_ORACLES = {
    "x96_adamic_adar": SQL_X96,
    "x97_degree_assortativity": SQL_X97,
    "a78_kaplan_meier": SQL_A78,
}
