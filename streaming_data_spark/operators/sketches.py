"""[EXT] Heavy hitters: Misra-Gries candidates + exact verify.

``heavy_hitters`` is the bounded-memory tier of the exact
full-vocabulary groupBy (``x18_vocab_top_tokens``); the registry
query ``x36_heavy_hitters`` (queries_ext32.py) runs it and matches
the DuckDB HAVING-threshold oracle hash-for-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Heavy hitters — Misra-Gries candidates + exact verify (frequent items)
# ---------------------------------------------------------------------------


def _mg_factory():
    def mg_summary(items, k: int) -> dict:
        """Pure Misra-Gries frequency summary: ≤ k counters, one pass.
        Guarantees after n items: every counter UNDERCOUNTS by at most
        ⌊n/(k+1)⌋, and any item with true count > n/(k+1) is present.
        The decrement-all step is the textbook form (O(k) per
        eviction); a Space-Saving ring buys O(1) evictions at 100 TB
        item rates but carries the same bounds — the guarantee, not
        the constant, is what the verify pass below relies on."""
        counters: dict = {}
        for x in items:
            if x in counters:
                counters[x] += 1
            elif len(counters) < k:
                counters[x] = 1
            else:
                for key in list(counters):
                    counters[key] -= 1
                    if counters[key] == 0:
                        del counters[key]
        return counters

    return mg_summary


# Built through a factory ON PURPOSE: heavy_hitters ships this kernel
# into Python workers inside a mapInPandas closure, and cloudpickle
# serializes a plain module-level def BY REFERENCE (workers would then
# need this repo importable — untrue when the driver runs from an
# arbitrary cwd). A factory-made function fails the qualname lookup
# and is pickled BY VALUE, keeping the worker closure self-contained
# while tests and heavy_hitters share the ONE implementation.
mg_summary = _mg_factory()


def mg_partials(df: DataFrame, col: str, k: int = 100) -> DataFrame:
    """Pass 1 of heavy_hitters as a standalone lazy DataFrame — one
    Misra-Gries summary (+ a NULL-keyed row-count sentinel) per
    partition. Factored out so plan audits can inspect the sketch
    pass: heavy_hitters itself COLLECTS this frame (bounded driver
    pull), which removes it from the returned DataFrame's lineage and
    would otherwise blind the fleet-wide plan gates to pass 1
    (tests/test_plans.py::test_x36_sketch_pass_plan covers it here)."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    part_schema = StructType(
        [
            StructField(col, df.schema[col].dataType),
            StructField("pid", IntegerType()),
            StructField("n_part", LongType()),
            # sentinel rows carry ONLY the partition row count; a NULL
            # key alone cannot mark them — NULL is a legal item (the
            # GROUP BY oracle keeps its group, so must the sketch)
            StructField("is_sentinel", BooleanType()),
        ]
    )

    def _partials(pdfs):
        import pandas as pd
        from pyspark import TaskContext

        n_rows = 0

        def _walk():
            nonlocal n_rows
            for pdf in pdfs:
                n_rows += len(pdf)
                s = pdf[col]
                # None for NULLs so the MG dict sees ONE hashable key
                # (pandas would otherwise surface NaN, and distinct
                # NaN objects void the counter bound). Vectorized
                # null check — a per-element pd.isna here cost ~4x
                # the whole sketch pass.
                if s.isna().any():
                    s = s.astype(object).where(s.notna(), None)
                yield from s

        counters = mg_summary(_walk(), k)
        pid = TaskContext.get().partitionId()
        keys = [*counters, None]  # final None row = the sentinel
        yield pd.DataFrame(
            {
                col: keys,
                "pid": [pid] * len(keys),
                "n_part": [n_rows] * len(keys),
                "is_sentinel": [False] * len(counters) + [True],
            }
        )

    return df.select(col).mapInPandas(_partials, schema=part_schema)


def heavy_hitters(df: DataFrame, col: str, k: int = 100) -> DataFrame:
    """Items whose frequency exceeds n/(k+1), with EXACT counts, in
    bounded memory — the sketch tier of the exact full-vocabulary
    groupBy (x18_vocab_top_tokens).

    Plan — exactly TWO passes over the input: (1) one Misra-Gries
    summary per PARTITION via mapInPandas (state ≤ k counters per
    task, never a full vocabulary), which also carries each
    partition's row count so the global total rides the same scan —
    including a NULL-keyed sentinel row per partition, because a
    summary can legitimately end EMPTY (k=2 over [a,b,c] evicts
    everything) and its row count must still reach the total; (2) the
    union of partial candidates is provably a superset of every
    global heavy hitter (an item with global count > n/(k+1) must
    exceed the local threshold in at least one partition, by
    averaging), and a broadcast semi-join + count verifies candidates
    EXACTLY — so the final answer is deterministic, independent of
    partitioning, and the DuckDB HAVING-threshold oracle matches it
    hash-for-hash.

    The summary (≤ (k+1) × partitions rows) is collected to the
    driver between the passes — the same bounded-driver-pull contract
    as the k-means centroids (similarity.py): its size is set by k
    and the partition count, never by the corpus. That materializes
    the sketch pass exactly once with no lingering cache, and the
    verify pass then shuffles only candidate rows (≤ k × partitions
    keys after map-side combine), not the corpus.

    NULL is a legal item: sentinel rows are flagged by a dedicated
    marker column, NULL candidates survive via a null-safe (<=>)
    semi-join, and the groupBy keeps the NULL group — so a NULL heavy
    hitter matches the GROUP BY oracle instead of silently vanishing.
    Float/double columns are REJECTED up front: distinct NaN objects
    hash apart in the MG dict, voiding the error bound (bucket or
    cast continuous values before sketching them).
    """
    from pyspark.sql.types import DoubleType, FloatType, StructField, StructType

    if isinstance(df.schema[col].dataType, (FloatType, DoubleType)):
        raise ValueError(
            f"heavy_hitters over float column {col!r}: NaN keys void the "
            "Misra-Gries bound — bucket/cast to a discrete type first"
        )
    items = df.select(col)
    summary = mg_partials(df, col, k).collect()
    n_total = sum({r["pid"]: r["n_part"] for r in summary}.values())
    cand_vals = {r[col] for r in summary if not r["is_sentinel"]}
    has_null_cand = None in cand_vals
    cand_vals = sorted(v for v in cand_vals if v is not None)
    if has_null_cand:
        cand_vals.append(None)
    if not cand_vals or n_total == 0:
        return (
            items.limit(0)
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("n_item"))
        )
    cand = df.sparkSession.createDataFrame(
        [(v,) for v in cand_vals],
        StructType([StructField(col, df.schema[col].dataType)]),
    ).withColumnRenamed(col, "__cand")
    return (
        items.join(
            F.broadcast(cand), F.col(col).eqNullSafe(F.col("__cand")), "left_semi"
        )
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_item"))
        .filter(F.col("n_item") > F.lit(float(n_total) / (k + 1)))
        .select(col, "n_item")
    )
