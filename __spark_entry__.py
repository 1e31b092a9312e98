"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's J1 dim⋈fact
CTAS join, upbit_data_pipeline.py:171-176, transposed to testdata).
``queries()`` / ``oracle_sql()`` expose the full operator registry
from ``streaming_data_spark.queries`` (SURVEY.md §2 coverage).
"""

from __future__ import annotations

import importlib
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from streaming_data_spark.queries import q_j1_dim_fact_join

    return q_j1_dim_fact_join(spark, "/root/testdata/sf0.001")


# Merge order of the registry modules. The first 50 entries in
# insertion order are the ones oracle-checked each round, so queries()
# fronts _R17_WINDOW + _R17_TAIL; the rest keeps this historical wave
# order.
_MODULES = (
    *(f"queries_ext{n}" for n in range(29, 66)),
    "queries",
    "queries_ext",
    *(f"queries_ext{n}" for n in range(2, 29)),
)


def _merged(kind: str) -> dict:
    """Merge each module's ``<PREFIX>_<kind>`` dict in ``_MODULES``
    order (``CORE_`` for ``queries``, ``EXT<n>_`` for ``queries_ext<n>``)."""
    out: dict = {}
    for mod in _MODULES:
        m = importlib.import_module(f"streaming_data_spark.{mod}")
        prefix = "CORE" if mod == "queries" else mod.removeprefix("queries_").upper()
        out.update(getattr(m, f"{prefix}_{kind}"))
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    merged = _merged("QUERIES")
    front = [n for n in _R17_WINDOW + _R17_TAIL if n in merged]
    return {**{n: merged[n] for n in front}, **merged}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column aliases)."""
    return _merged("ORACLES")


# Round-17 driver window. Generated by `python tools/freshness.py
# --window 50 --upto 16 --front <auto + 3>` over the r1..r16 driver
# history + the PLAN_FPS snapshots. The front is `--front auto`'s 17
# findings (every r16-touched query whose fingerprint postdates its
# last driver row: the star-CC/Arrow-kernel/prefix-build consumers
# the r16 verdict item 3 asked to front) PLUS the three queries THIS
# round changed after their r16 driver rows (q3_shipping_priority,
# x63_boilerplate_ngrams, x66_ngram_novelty — the r10 precedent: the
# upto=16 snapshots predate the current round's own edits, so auto
# cannot see them; PLAN_FPS_r17 records the new fingerprints),
# appended in CORRECTNESS_r16.json order (staleness-tie order = that
# round's driver file order). Body = oldest-first minus the front; the
# freshness floor advances to r13 when the r17 driver records these
# rows.
_R17_WINDOW = [
    "x80_minhash_recall_eval",
    "x89_split_leakage",
    "x91_threshold_sweep",
    "x98_containment_pairs",
    "x2_minhash_lsh",
    "x70_kcore",
    "x92_dup_clustering_coeff",
    "x96_adamic_adar",
    "x97_degree_assortativity",
    "q5_regional_revenue",
    "x13_dup_clusters_star",
    "x59_semdedup",
    "x41_canonical_by_quality",
    "x30_inverted_index",
    "x2_ngram_jaccard_prefix",
    "x35_lm_score",
    "x30_inverted_index_capped",
    "q3_shipping_priority",
    "x63_boilerplate_ngrams",
    "x66_ngram_novelty",
    "x71_lsh_recall_eval",
    "a54_priority_sla",
    "a58_daily_peak_hour",
    "a60_return_cohort",
    "x82_vocab_coverage",
    "a66_new_vs_returning",
    "x86_dup_family_hist",
    "x99_rrf_fusion",
    "a77_open_order_backlog",
    "x100_kmv_distinct",
    "x101_bloom_filter_eval",
    "a80_holt_winters",
    "x102_ndcg_eval",
    "x103_hubness_koccurrence",
    "a81_decile_migration",
    "a10_percentiles",
    "a11_cube_counts",
    "j5_interval_join",
    "q10_returned_items",
    "q14_promo_revenue",
    "q16_supplier_cnt",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "x11_train_test_split",
    "x14_chunk_documents",
    "x15_pack_sequences",
]
_R17_TAIL = [
    "x16_decontaminate",
    "x17_tfidf_terms",
    "x18_vocab_top_tokens",
    "x19_stratified_sample",
    "x1_exact_dedup",
    "x20_source_quota",
    "x2_ngram_jaccard",
    "x2_ngram_jaccard_capped",
    "x4_simhash",
    "x5_signlsh_topk",
    "a12_profile_customer",
    "asof_join",
    "f17_backoff",
    "udf_scalar_pandas",
    "udf_grouped_agg",
    "set_intersect",
    "set_except",
    "p7_dropna",
    "p10_flatten_cast",
    "w2_pagination",
    "sessionization",
    "rollup_totals",
    "pivot_counts",
    "x7_cosine_near_dup",
    "x7_near_dup_lsh",
    "x8_ivf_topk",
    "j_salted_join",
    "a_salted_agg",
    "x9_media_features",
    "q4_exists_priority",
    "q17_below_avg_revenue",
    "a9_count_distinct",
    "x5_cosine_topk",
    "x6_text_metrics",
    "x104_quantized_recall",
    "x105_knn_reciprocity",
    "a82_promo_lift_curve",
    "x12_clean_corpus",
    "a4_rolling_24h",
    "a5_change_codes",
    "a6_rolling_extremes",
    "w1_top1_per_key",
    "w3_global_topk",
    "p4_filter_project",
    "p6_p12_normalize",
    "union_all",
    "f_dates_json",
    "f_strings",
    "x21_winnow_overlap",
    "x22_repetition",
]
