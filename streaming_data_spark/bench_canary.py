"""The bench's shared_pair_build canary, defined ONCE.

bench.py times this pair build as its own line, tools/plan_fps.py
fingerprints it and tools/explain_dump.py dumps its plan. Until r14
each site hand-copied the spec (documents table, doc_id / text, n=3,
threshold=0.8), so a one-site edit (say the bench moving to n=4)
would silently leave the fingerprint describing a DIFFERENT plan from
the one timed, with no test failing. Every site now imports from here.

The spec itself mirrors the shared-pair consumers' registry config
(x41, x70, x89, x92, x96 and x97 all read this exact pair set from one
session temp view, ``dedup.ngram_jaccard_pairs_prefix_shared``), which
is why the bench times it as its own line: only whichever consumer
runs first pays the build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CANARY_TABLE = "documents"
CANARY_ID_COL = "doc_id"
CANARY_TEXT_COL = "text"
CANARY_N = 3
CANARY_THRESHOLD = 0.8


def canary_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_spark.queries import _t

    return _t(spark, sf_dir, CANARY_TABLE)


def build_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unshared builder — the deterministic analyzed plan
    tools/plan_fps.py fingerprints (the shared build returns a view
    over a checkpointed LogicalRDD)."""
    from streaming_data_spark.operators import dedup

    return dedup.ngram_jaccard_pairs_prefix(
        canary_input(spark, sf_dir), CANARY_ID_COL, CANARY_TEXT_COL,
        n=CANARY_N, threshold=CANARY_THRESHOLD,
    )


def build_memoized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared build bench.py TIMES (call
    ``dedup.drop_pair_views(spark)`` first or the call is a view hit)."""
    from streaming_data_spark.operators import dedup

    return dedup.ngram_jaccard_pairs_prefix_shared(
        canary_input(spark, sf_dir), CANARY_ID_COL, CANARY_TEXT_COL,
        n=CANARY_N, threshold=CANARY_THRESHOLD,
    )
