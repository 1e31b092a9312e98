"""Schema registry.

The reference declares fixed schemas at every durable boundary (DDL /
ORM; SURVEY.md §1.3) and infers only at ingest edges. We mirror that:
one declared ``StructType`` per named table, plus loaders for the
driver testdata catalog (TESTDATA.md).

Reference schema citations:
- upbit_markets  → airflow/dags/upbit_data_pipeline.py:25-31
- upbit_prices   → airflow/dags/upbit_data_pipeline.py:68-93
- daily_candles  → api_rapid/insert_csv_to_postgres.py:34-42
- users (fake)   → airflow/dags/data_generate_send_postgres_alert_slack.py:48-61
- instagram      → docker-elk/logstash/pipeline/instagram-profiles.conf:25-43
- target_table   → airflow/dags/etl_pipeline.py:82-89
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# --------------------------------------------------------------------------
# Reference-derived schemas (the engine's "catalog" for reference shapes)
# --------------------------------------------------------------------------

UPBIT_MARKETS = StructType(
    [
        StructField("market", StringType(), False),
        StructField("korean_name", StringType(), True),
        StructField("english_name", StringType(), True),
    ]
)

UPBIT_PRICES = StructType(
    [
        StructField("market", StringType(), False),
        StructField("trade_date", DateType(), True),
        StructField("trade_time", StringType(), True),
        StructField("trade_price", DoubleType(), True),
        StructField("opening_price", DoubleType(), True),
        StructField("high_price", DoubleType(), True),
        StructField("low_price", DoubleType(), True),
        StructField("prev_closing_price", DoubleType(), True),
        StructField("change", StringType(), True),  # RISE / EVEN / FALL
        StructField("change_price", DoubleType(), True),
        StructField("change_rate", DoubleType(), True),
        StructField("trade_volume", DoubleType(), True),
        StructField("acc_trade_price", DoubleType(), True),
        StructField("acc_trade_price_24h", DoubleType(), True),
        StructField("acc_trade_volume", DoubleType(), True),
        StructField("acc_trade_volume_24h", DoubleType(), True),
        StructField("highest_52_week_price", DoubleType(), True),
        StructField("highest_52_week_date", DateType(), True),
        StructField("lowest_52_week_price", DoubleType(), True),
        StructField("lowest_52_week_date", DateType(), True),
        StructField("timestamp", LongType(), True),  # epoch millis
    ]
)

DAILY_CANDLES = StructType(
    [
        StructField("market", StringType(), False),
        StructField("candle_date_time_kst", TimestampType(), False),
        StructField("opening_price", DoubleType(), True),
        StructField("high_price", DoubleType(), True),
        StructField("low_price", DoubleType(), True),
        StructField("trade_price", DoubleType(), True),
        StructField("candle_acc_trade_volume", DoubleType(), True),
    ]
)

FAKE_USERS = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("name", StringType(), True),
        StructField("job", StringType(), True),
        StructField("residence", StringType(), True),
        StructField("blood_group", StringType(), True),
        StructField("sex", StringType(), True),
        StructField("birthdate", StringType(), True),  # 'YYYYMMDD' string (ref keeps it as text)
        StructField("phone_number", StringType(), True),
        StructField("email", StringType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)

INSTAGRAM_PROFILE_NESTED = StructType(
    [
        StructField(
            "parsed_data",
            StructType(
                [
                    StructField("full_name", StringType(), True),
                    StructField("id", StringType(), True),
                    StructField("is_new", StringType(), True),
                    StructField("is_private", StringType(), True),
                    StructField("is_verified", StringType(), True),
                    StructField("latest_reel_media", StringType(), True),
                    StructField("profile_pic_id", StringType(), True),
                    StructField("profile_pic_url", StringType(), True),
                    StructField("username", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

INSTAGRAM_PROFILE_FLAT = StructType(
    [
        StructField("full_name", StringType(), True),
        StructField("id", StringType(), True),
        StructField("is_new", BooleanType(), True),
        StructField("is_private", BooleanType(), True),
        StructField("is_verified", BooleanType(), True),
        StructField("latest_reel_media", IntegerType(), True),
        StructField("profile_pic_id", StringType(), True),
        StructField("profile_pic_url", StringType(), True),
        StructField("username", StringType(), True),
    ]
)

TARGET_TABLE = StructType(
    [
        StructField("id", LongType(), False),  # SERIAL → unique, not gap-free
        StructField("name", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)

# --------------------------------------------------------------------------
# Driver testdata catalog (TESTDATA.md) — TPC-H-ish star schema + events
# + training-data tables (documents, embeddings)
# --------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EVENTS = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),  # JSON string payload
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
        StructField("label", IntegerType(), True),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (columnar parquet scan — pushdown
    and pruning reach the scan; see plans.checks).

    ``events.ts`` has shipped as either timezone-less parquet
    TIMESTAMP(MICROS) — which Spark loads as TIMESTAMP_NTZ, rejected
    by ``unix_micros``/``unix_millis``/window range frames — or
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    outright. Normalize both eras to TimestampType: NTZ is cast under
    the session's pinned UTC timezone (value-preserving); nanos are
    read as long and floor-truncated to microseconds (identical to
    DuckDB's ns→us handling). The declared EVENTS schema (ts:
    TimestampType) is the contract; tests/test_schemas.py guards it
    against the next testdata regeneration.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}; one of {TESTDATA_TABLES}")
    if name == "events":
        # Scope the legacy-nanos conf to this read: the conf is only
        # consulted at schema resolution (spark.read is eager about
        # the footer), so restoring it immediately after keeps later
        # nanos-parquet reads in the same session on default behavior.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        from pyspark.sql import functions as F

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):  # nanos-era file
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):  # micros-era, tz-less
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

