"""Fifty-second query wave — graph coreness, tier evaluation, ops KPIs:

- x70_kcore: 2-core peeling (4 fixed rounds) over the Jaccard>=0.8
  near-dup graph — completes the graph family (PageRank centrality,
  triangle clustering, CC identity): coreness separates densely
  mirrored template clusters from chains of partial copies.
- x71_lsh_recall_eval: the measured-tier-switching harness as a
  registry query — exact cosine near-dup pairs vs the multiprobe
  sign-LSH blocked tier, emitting (n_exact, n_lsh, n_common, recall,
  precision) in one row. The LSH tier is a candidate RESTRICTION of
  the exact predicate, so precision is 1.0 by construction and the
  query demonstrates it; recall is the number a tier switch is
  decided on (run on a sample at 100 TB — the exact side is the
  O(n^2) baseline).
- a52_supplier_lead_time: per-supplier order-to-ship lead time
  (n_lines, mean and p95 days) — the operations KPI over the
  lineitem⋈orders fact-fact join.
- x73_lang_confusion: confusion matrix of the x6 stopword lang-ID
  heuristic against the documents table's labeled lang — the
  eval-harness companion of X3 (language-ID is only useful with a
  measured error profile).
- a53_dau_mau: per-month MAU, average DAU and the DAU/MAU stickiness
  ratio — the engagement KPI every product warehouse publishes.

Scale shapes: x70 = per-round degree groupBy + two semi-joins on a
graph that only shrinks (localCheckpoint per round, fixed rounds —
the pagerank oracle contract); x71 = one full-outer pair join + a
1-row agg (exact side is the sanctioned n^2 baseline); a52 = keyed
fact-fact join + supplier-grain agg; x73 = row-local scoring + a
|langs|^2-bounded groupBy; a53 = day-grain then month-grain distinct
aggs, months-bounded output.

[EXT]-classic per SURVEY.md §2.11 scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_spark.operators import dedup, graph, similarity, text
from streaming_data_spark.queries import _t
from streaming_data_spark.queries_ext4 import NEAR_DUP_THRESHOLD
from streaming_data_spark.queries_ext9 import _EDGE_SQL

KCORE_K = 2
KCORE_ROUNDS = 4


def q_x70_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, degree): nodes surviving 4 rounds of 2-core peeling on the
    document near-dup graph, with their final peeled degree."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_prefix_shared(
        docs, "doc_id", "text", n=3, threshold=0.8
    )
    return graph.kcore_peel(pairs, k=KCORE_K, rounds=KCORE_ROUNDS)


def _kcore_sql(k: int, rounds: int) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs, so
    # each unrolled round would re-derive the whole shingle-join edge
    # CTE ~5x over — measured 257s vs ~4s materialized at sf0.001.
    body = [
        "e0 AS MATERIALIZED (SELECT least(id_a, id_b) AS a,"
        " greatest(id_a, id_b) AS b"
        " FROM edges WHERE id_a <> id_b GROUP BY 1, 2)"
    ]
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        body.append(
            f"d{r} AS MATERIALIZED (SELECT id, count(*) AS deg FROM"
            f" (SELECT a AS id FROM {prev} UNION ALL SELECT b FROM {prev})"
            f" GROUP BY id)"
        )
        body.append(f"s{r} AS (SELECT id FROM d{r} WHERE deg >= {k})")
        body.append(
            f"e{r} AS MATERIALIZED (SELECT e.a, e.b FROM {prev} e"
            f" JOIN s{r} sa ON e.a = sa.id"
            f" JOIN s{r} sb ON e.b = sb.id)"
        )
    chain = ",\n".join(body)
    return f"""
WITH RECURSIVE {_EDGE_SQL},
{chain}
SELECT id, count(*) AS degree
FROM (SELECT a AS id FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY id
"""


SQL_X70 = _kcore_sql(KCORE_K, KCORE_ROUNDS)


def q_x71_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_exact, n_lsh, n_common, recall, precision): multiprobe
    sign-LSH near-dup tier measured against the exact all-pairs
    baseline at the same cosine threshold.

    The exact side is O(n^2) by definition, so the eval runs on an
    ABSOLUTELY bounded sample (the x45 rule — a no-op at every test
    SF, a cap at 100x): recall estimated on a fixed sub-corpus is
    exactly how the tier switch is measured on a 100 TB corpus."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < X71_SAMPLE_CAP
    )
    exact = similarity.cosine_near_dup(
        emb, threshold=NEAR_DUP_THRESHOLD
    ).select("id_a", "id_b", F.lit(True).alias("_e"))
    lsh = similarity.cosine_near_dup(
        emb, threshold=NEAR_DUP_THRESHOLD, n_planes=4
    ).select("id_a", "id_b", F.lit(True).alias("_l"))
    both = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum(F.when(F.col("_e"), 1).otherwise(0)).alias("n_exact"),
        F.sum(F.when(F.col("_l"), 1).otherwise(0)).alias("n_lsh"),
        F.sum(
            F.when(F.col("_e") & F.col("_l"), 1).otherwise(0)
        ).alias("n_common"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_common",
        (F.col("n_common") / F.col("n_exact")).alias("recall"),
        (F.col("n_common") / F.col("n_lsh")).alias("precision"),
    )


from streaming_data_spark.queries_ext4 import SQL_X7, SQL_X7_LSH  # noqa: E402

X71_SAMPLE_CAP = 4000

# The x7 oracle bodies read the full embeddings view; the eval runs
# them over the bounded sample via a straight table swap (one FROM
# site in each body — asserted in tests so a future x7 edit can't
# silently desynchronize the harness).
_X7_EX_SAMPLED = SQL_X7.replace("FROM embeddings", "FROM emb_sample")
_X7_LSH_SAMPLED = SQL_X7_LSH.replace("FROM embeddings", "FROM emb_sample")

SQL_X71 = f"""
WITH emb_sample AS (
  SELECT * FROM embeddings WHERE vec_id < {X71_SAMPLE_CAP}
),
ex AS (SELECT id_a, id_b FROM ({_X7_EX_SAMPLED}) ),
ls AS (SELECT id_a, id_b FROM ({_X7_LSH_SAMPLED}) ),
j AS (
  SELECT coalesce(ex.id_a, ls.id_a) AS id_a,
         (ex.id_a IS NOT NULL) AS in_ex,
         (ls.id_a IS NOT NULL) AS in_ls
  FROM ex FULL OUTER JOIN ls USING (id_a, id_b)
)
SELECT CAST(sum(CASE WHEN in_ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN in_ls THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
       CAST(sum(CASE WHEN in_ex AND in_ls THEN 1 ELSE 0 END) AS BIGINT)
         AS n_common,
       sum(CASE WHEN in_ex AND in_ls THEN 1 ELSE 0 END) * 1.0
         / sum(CASE WHEN in_ex THEN 1 ELSE 0 END) AS recall,
       sum(CASE WHEN in_ex AND in_ls THEN 1 ELSE 0 END) * 1.0
         / sum(CASE WHEN in_ls THEN 1 ELSE 0 END) AS precision
FROM j
"""


def q_a52_supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_suppkey, n_lines, mean_lead_days, p95_lead_days): days from
    order date to line ship date per supplier."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lead = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_suppkey",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lead"),
    )
    return lead.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg("lead"), 6).alias("mean_lead_days"),
        F.round(F.expr("percentile(lead, 0.95)"), 6).alias("p95_lead_days"),
    )


SQL_A52 = """
WITH lead AS (
  SELECT l.l_suppkey,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lead
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT l_suppkey,
       count(*) AS n_lines,
       round(avg(lead), 6) AS mean_lead_days,
       round(quantile_cont(lead, 0.95), 6) AS p95_lead_days
FROM lead
GROUP BY l_suppkey
"""


def q_x73_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, lang_guess, n): confusion matrix of the stopword lang-ID
    heuristic against the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    guessed = docs.select(
        "lang", text.lang_id(text.tokens(F.col("text"))).alias("lang_guess")
    )
    return guessed.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )


def _lang_confusion_sql() -> str:
    def hits(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
        return (
            f"list_sum(list_transform(toks, t -> "
            f"CASE WHEN list_contains([{lst}], t) THEN 1 ELSE 0 END))"
        )

    score_cols = ",\n    ".join(
        f"{hits(lang)} AS s_{lang}" for lang in text.LANG_PRIORITY
    )
    mx = "greatest(" + ", ".join(
        f"s_{lang}" for lang in text.LANG_PRIORITY
    ) + ")"
    lang_case = (
        "CASE WHEN " + mx + " = 0 THEN 'und' "
        + " ".join(
            f"WHEN s_{lang} = {mx} THEN '{lang}'"
            for lang in text.LANG_PRIORITY
        )
        + " ELSE 'und' END"
    )
    return rf"""
WITH base AS (
  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), scored AS (
  SELECT lang, {score_cols} FROM base
)
SELECT lang, {lang_case} AS lang_guess, count(*) AS n
FROM scored
GROUP BY lang, {lang_case}
"""


SQL_X73 = _lang_confusion_sql()


def q_a53_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, mau, avg_dau, stickiness): monthly actives, mean daily
    actives, and the DAU/MAU engagement ratio."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    dau = days.groupBy("month", "day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    mau = days.groupBy("month").agg(
        F.count_distinct("user_id").alias("mau")
    )
    return (
        dau.groupBy("month")
        .agg(F.round(F.avg("dau"), 6).alias("avg_dau"))
        .join(mau, "month")
        .select(
            "month",
            "mau",
            "avg_dau",
            F.round(F.col("avg_dau") / F.col("mau"), 6).alias("stickiness"),
        )
    )


SQL_A53 = """
WITH days AS (
  SELECT date_trunc('month', ts) AS month, date_trunc('day', ts) AS day,
         user_id
  FROM events
), dau AS (
  SELECT month, day, count(DISTINCT user_id) AS dau
  FROM days GROUP BY month, day
), mau AS (
  SELECT month, count(DISTINCT user_id) AS mau FROM days GROUP BY month
)
SELECT d.month, m.mau, round(avg(d.dau), 6) AS avg_dau,
       round(round(avg(d.dau), 6) / m.mau, 6) AS stickiness
FROM dau d JOIN mau m USING (month)
GROUP BY d.month, m.mau
"""


EXT52_QUERIES = {
    "x70_kcore": q_x70_kcore,
    "x71_lsh_recall_eval": q_x71_lsh_recall_eval,
    "a52_supplier_lead_time": q_a52_supplier_lead_time,
    "x73_lang_confusion": q_x73_lang_confusion,
    "a53_dau_mau": q_a53_dau_mau,
}

EXT52_ORACLES = {
    "x70_kcore": SQL_X70,
    "x71_lsh_recall_eval": SQL_X71,
    "a52_supplier_lead_time": SQL_A52,
    "x73_lang_confusion": SQL_X73,
    "a53_dau_mau": SQL_A53,
}
