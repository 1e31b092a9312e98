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


def _file_stamp(spark: SparkSession, path: str) -> tuple | None:
    """(length, modification time) of ``path`` from one Hadoop
    ``getFileStatus`` call, or None when it has no status (a missing
    table). For a single-file table that is the file itself; a
    directory table's time moves whenever a file in it is added,
    renamed or removed, which covers Spark's writes (an overwrite
    deletes and recreates the directory). One call, about 1 ms of py4j
    round trips and no Spark job, whatever the number of part files."""
    from py4j.protocol import Py4JJavaError

    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        status = root.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(root)
    except Py4JJavaError:
        return None
    return status.getLen(), status.getModificationTime()


def _read_parquet(spark: SparkSession, path: str, nanos_as_long: bool = False) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the file schema once per
    session and file stamp.

    The first load of a stamp infers the schema, which costs a Spark
    job to read the parquet footer, and records it. Later loads read
    with that schema and run no job. The record is an attribute of the
    session object, so it ends with the session, as the shared pair
    views do; a rewritten input gets a new stamp and is inferred again.
    A path without a stamp is read as is, so a missing table fails
    with Spark's own error. ``nanos_as_long`` infers TIMESTAMP(NANOS)
    columns as long.
    """
    known = getattr(spark, "_sds_file_schemas", None)
    if known is None:
        known = spark._sds_file_schemas = {}
    # stamp before reading: a rewrite racing the inference leaves an
    # old stamp, which the next load re-infers
    stamp = _file_stamp(spark, path)
    hit = known.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    # Scope the legacy-nanos conf to the inference: a read given a
    # long ts schema decodes nanos without it, so later nanos-parquet
    # reads in the same session keep default behavior.
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    if nanos_as_long:
        spark.conf.set(key, "true")
    try:
        df = spark.read.parquet(path)
    finally:
        if nanos_as_long and prev is None:
            spark.conf.unset(key)
        elif nanos_as_long:
            spark.conf.set(key, prev)
    if stamp is not None:
        known[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (columnar parquet scan — pushdown
    and pruning reach the scan; see plans.checks).

    The file schema is inferred once per session and file stamp
    (length and modification time; see :func:`_read_parquet`): the first
    load of a table runs one footer-read job, every later load of the
    unchanged file runs none.

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
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return _read_parquet(spark, path)
    from pyspark.sql import functions as F

    df = _read_parquet(spark, path, nanos_as_long=True)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):  # nanos-era file
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):  # micros-era, tz-less
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
