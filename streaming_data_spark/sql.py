"""SQL entry point — run the reference's dialect directly on Spark.

The reference's relational engine is PostgreSQL: every analytical
operation a user of it runs today is a SQL string shipped over
psycopg2/SQLAlchemy (the CTAS join at upbit_data_pipeline.py:171-176,
the filtered read at log_to_csv.py:25, the per-key max at
upbit_daily_candels.py:152-156, the insert-if-absent staging pattern
at upbit_daily_candels.py:241). Those users switch engines by keeping
their SQL: ``register_catalog`` exposes the testdata tables as temp
views and ``run_sql`` executes any ANSI query against them through
Catalyst — same optimizer, same pushdown, same plans as the DataFrame
API (Spark compiles both to one logical plan language).

Temp views are session-scoped metadata over the parquet scans — no
data copy; predicate pushdown and column pruning reach the files
exactly as with ``load_table``. The first registration in a session
reads each table's parquet footer (one Spark job per table);
``load_table`` keeps the schemas for the session, so every later
``run_sql`` over unchanged files runs no job before its action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from streaming_data_spark.schemas import TESTDATA_TABLES, load_table


def register_catalog(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a session temp view (idempotent).

    Views go through ``load_table`` so the events.ts dtype
    normalization (nanos/NTZ era handling) applies to SQL users too,
    and a repeat registration over unchanged files runs no Spark job.
    """
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Register the catalog and run one SQL query against it."""
    register_catalog(spark, sf_dir)
    return spark.sql(query)


def run_stream_sql(
    spark: SparkSession,
    query: str,
    views: dict[str, DataFrame],
) -> DataFrame:
    """Continuous SQL over streaming views — the ksqlDB analog
    (reference: kafka/full-stack.yml:61-104 runs ksqlDB next to the
    brokers so users type ``SELECT … GROUP BY window(…)`` against
    topics; here the same SQL text compiles through Catalyst into a
    STREAMING plan with the engine's state/watermark machinery).

    ``views`` maps view name → streaming DataFrame (``readStream``
    sources, optionally ``withWatermark``-tagged — SQL itself has no
    watermark clause, so late-data bounds attach on the input frame
    before registration, exactly where ksqlDB puts its grace
    periods). The returned frame is streaming: hand it to
    ``writeStream`` with the trigger/sink of choice.

    Scale shape: identical to the DataFrame form — Catalyst compiles
    both to one logical language, so a windowed aggregate gets the
    same keyed state store, AQE-less streaming exchanges, and
    incremental execution whether typed as SQL or chained methods
    (stream==batch equality is pinned in tests/test_sql.py).
    """
    for name, df in views.items():
        if not df.isStreaming:
            raise ValueError(
                f"view {name!r} is a batch frame; run_stream_sql is the "
                "continuous surface — use run_sql for batch"
            )
        df.createOrReplaceTempView(name)
    out = spark.sql(query)
    if not out.isStreaming:
        raise ValueError(
            "query compiled to a batch plan — it references no streaming "
            "view (check the FROM clause against the registered names)"
        )
    return out
