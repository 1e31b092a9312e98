"""File sources (SURVEY.md §2.1 S8).

CSV reading with required-column validation mirrors the reference's
pre-load checks (insert_csv_to_postgres.py:56-58,88-91). JDBC scans
live in ``sources/jdbc.py``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SchemaValidationError(ValueError):
    """Required columns missing at ingest (the reference logs and
    aborts the load — insert_csv_to_postgres.py:56-58)."""


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    required_columns: Sequence[str] = (),
    header: bool = True,
) -> DataFrame:
    """S8 — CSV read with header + schema validation. Explicit schema
    preferred (inference is a dev convenience; SURVEY §1.3)."""
    reader = spark.read.option("header", str(header).lower())
    df = reader.csv(path, schema=schema) if schema else reader.option("inferSchema", "true").csv(path)
    missing = [c for c in required_columns if c not in df.columns]
    if missing:
        raise SchemaValidationError(f"missing required columns: {missing}")
    return df


def read_orc(
    spark: SparkSession,
    path: str,
    required_columns: Sequence[str] = (),
) -> DataFrame:
    """S8+ — ORC read (Spark-native format, bundled reader; same
    pushdown/pruning guarantees as parquet — predicates and column
    selection reach the ORC scan). Same required-column contract as
    read_csv."""
    df = spark.read.orc(path)
    missing = [c for c in required_columns if c not in df.columns]
    if missing:
        raise SchemaValidationError(f"missing required columns: {missing}")
    return df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC writer twin of read_orc — columnar with footer statistics,
    so the min/max-skipping story (operators/layout.py) applies to ORC
    stripes exactly as to parquet row groups."""
    df.write.mode(mode).orc(path)
