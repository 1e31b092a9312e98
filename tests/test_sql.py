"""SQL-surface parity: the reference's users write raw SQL (its engine
is Postgres); these tests prove the same SQL shapes run through
spark.sql over the registered catalog and agree with the DataFrame
API / DuckDB oracle on identical inputs."""

from __future__ import annotations

import pytest

from streaming_data_spark import plans
from streaming_data_spark.sql import register_catalog, run_sql
from tests.oracle import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle_con(sf_oracle):
    con = duckdb_conn(sf_oracle)
    yield con
    con.close()


# Reference-shaped SQL: the CTAS dim-fact join (upbit_data_pipeline.py
# :171-176), the filtered projection (log_to_csv.py:25), the per-key
# max watermark (upbit_daily_candels.py:152-156), and the anti-join
# staging insert (upbit_daily_candels.py:241) — transposed to the
# testdata schema, runnable verbatim on BOTH Spark and DuckDB.
REFERENCE_SHAPED_SQL = {
    "ctas_join": """
        SELECT c_custkey, c_name, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    "filtered_projection": """
        SELECT event_id, user_id, value FROM events
        WHERE event_type = 'click'
    """,
    "per_key_max_watermark": """
        SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id
    """,
    "anti_join_staging": """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderkey NOT IN (
            SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL)
    """,
}


@pytest.mark.parametrize("name", sorted(REFERENCE_SHAPED_SQL))
def test_reference_sql_matches_duckdb(name, spark, sf_oracle, oracle_con):
    got = run_sql(spark, sf_oracle, REFERENCE_SHAPED_SQL[name])
    want = oracle_con.execute(REFERENCE_SHAPED_SQL[name]).df()
    compare(got, want, name=name)


def test_register_catalog_is_idempotent_and_complete(spark, sf_oracle):
    register_catalog(spark, sf_oracle)
    register_catalog(spark, sf_oracle)  # second call must not raise
    tables = {t.name for t in spark.catalog.listTables()}
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        assert t in tables, t


def test_sql_view_keeps_pushdown_and_pruning(spark, sf_oracle):
    """A temp view is metadata, not a materialization: filters and
    projections written in SQL must still reach the parquet scan."""
    df = run_sql(
        spark, sf_oracle,
        "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 40",
    )
    pushed = plans.pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed
    schemas = plans.read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}, schemas


def test_sql_events_view_gets_normalized_ts(spark, sf_oracle):
    """SQL users must see the same TimestampType events.ts the
    DataFrame path guarantees (the testdata-drift normalization runs
    inside the view registration)."""
    from pyspark.sql.types import TimestampType

    df = run_sql(spark, sf_oracle, "SELECT ts FROM events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)


def test_recursive_cte_capability_pin(spark):
    """Documents WHY connected components is an iterative DataFrame
    loop and not a recursive CTE: Spark 4.1 supports WITH RECURSIVE,
    but only with UNION ALL — and a transitive closure over a CYCLIC
    duplicate graph under UNION ALL re-derives rows forever (DuckDB's
    oracle terminates because UNION-distinct dedups per level). If a
    future Spark adds UNION-distinct recursion, this pin flips and a
    SQL CC tier becomes viable."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    # bounded linear recursion works
    row = spark.sql(
        """WITH RECURSIVE t(n) AS (
             SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 5
           ) SELECT sum(n) AS s FROM t"""
    ).collect()[0]
    assert row.s == 15

    # UNION-distinct recursion (what graph closure needs) is rejected
    spark.createDataFrame([(1, 2)], "a long, b long").createOrReplaceTempView(
        "_pin_edges"
    )
    with pytest.raises(AnalysisException, match="UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"):
        spark.sql(
            """WITH RECURSIVE reach(id) AS (
                 SELECT a AS id FROM _pin_edges
                 UNION
                 SELECT b AS id FROM _pin_edges JOIN reach ON a = id
               ) SELECT count(*) FROM reach"""
        ).collect()


# ---------------------------------------------------------------------------
# Streaming SQL surface (ksqlDB analog — kafka/full-stack.yml:61-104)
# ---------------------------------------------------------------------------

STREAM_WINDOWED_SQL = """
    SELECT window(ts, '1 hour').start AS ws, event_type,
           count(*) AS n, round(sum(value), 6) AS sum_value
    FROM ev
    GROUP BY window(ts, '1 hour'), event_type
"""

STREAM_FILTERED_SQL = """
    SELECT event_id, user_id, round(value * 2, 6) AS doubled
    FROM ev
    WHERE event_type = 'click'
"""


def _event_files(spark, sf_small, tmp_path, n=300, batches=3):
    """n ts-ordered events split into micro-batch files + the batch df."""
    import os

    from streaming_data_spark.schemas import load_table

    events = (
        load_table(spark, sf_small, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts", "event_id")
        .limit(n)
    )
    pdf = events.toPandas()
    src = tmp_path / "sqlstream_src"
    src.mkdir()
    step = n // batches
    for i in range(batches):
        chunk = pdf.iloc[i * step : (i + 1) * step if i < batches - 1 else n]
        p = src / f"b{i}.json"
        chunk.assign(ts=chunk["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    return stream, events


def test_stream_sql_windowed_agg_matches_batch(spark, sf_small, tmp_path):
    """The exact SQL text a ksqlDB user types — windowed GROUP BY over
    a stream — must compile to a STREAMING plan and, drained to
    completion, equal the same SQL over the same rows as a batch
    frame (stream==batch, the T3 contract via SQL)."""
    from streaming_data_spark.sql import run_stream_sql
    from conftest import run_to_completion

    stream, events = _event_files(spark, sf_small, tmp_path)
    out = run_stream_sql(spark, STREAM_WINDOWED_SQL, views={"ev": stream})
    assert out.isStreaming
    run_to_completion(
        out.writeStream.format("memory")
        .queryName("sqlstream_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
    )
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM sqlstream_win").collect()
    }
    events.createOrReplaceTempView("ev")
    want = {tuple(r) for r in spark.sql(STREAM_WINDOWED_SQL).collect()}
    assert got == want and len(got) > 1


def test_stream_sql_filtered_projection_matches_batch(spark, sf_small, tmp_path):
    from streaming_data_spark.sql import run_stream_sql
    from conftest import run_to_completion

    stream, events = _event_files(spark, sf_small, tmp_path)
    out = run_stream_sql(spark, STREAM_FILTERED_SQL, views={"ev": stream})
    run_to_completion(
        out.writeStream.format("memory")
        .queryName("sqlstream_proj")
        .option("checkpointLocation", str(tmp_path / "ckpt_proj"))
    )
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM sqlstream_proj").collect()
    }
    events.createOrReplaceTempView("ev")
    want = {tuple(r) for r in spark.sql(STREAM_FILTERED_SQL).collect()}
    assert got == want and len(got) > 0


def test_stream_sql_rejects_batch_views_and_batch_plans(spark, sf_small, tmp_path):
    from streaming_data_spark.schemas import load_table
    from streaming_data_spark.sql import run_stream_sql

    events = load_table(spark, sf_small, "events")
    with pytest.raises(ValueError, match="batch frame"):
        run_stream_sql(spark, "SELECT 1", views={"ev": events})

    stream, _ = _event_files(spark, sf_small, tmp_path)
    with pytest.raises(ValueError, match="batch plan"):
        run_stream_sql(spark, "SELECT 1 AS one", views={"ev": stream})
