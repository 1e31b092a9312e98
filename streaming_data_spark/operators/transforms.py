"""Row-level transforms (SURVEY.md §2.3, P1–P13).

The reference scatters these across SQL select-lists, pandas calls and
Logstash filter blocks; here each is a pure DataFrame→DataFrame
function built from Catalyst-optimizable expressions (no Python UDFs),
so projection pruning and predicate pushdown reach the scan for free.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType


def project(df: DataFrame, cols: Sequence[str | Column]) -> DataFrame:
    """P1/P2 — column projection. Ref: upbit_data_pipeline.py:173,
    generate_fake_data.py:11-16."""
    return df.select(*cols)


def rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P3 — subset + rename on ingest. Ref: upbit_daily_candels.py:212-220."""
    return df.select(*[F.col(src).alias(dst) for src, dst in mapping.items()])


def filter_eq(df: DataFrame, col: str, value) -> DataFrame:
    """P4/P5 — equality / parameterized key filter. Ref: log_to_csv.py:25,
    upbit_daily_candels.py:185-190. Pushed down to the source by Catalyst."""
    return df.filter(F.col(col) == F.lit(value))


def filter_contains(df: DataFrame, col: str, needle: str) -> DataFrame:
    """P6 — substring-presence filter. Ref: get_coopang_best_item_id.py:20."""
    return df.filter(F.col(col).contains(needle))


def copy_column(df: DataFrame, src: str, dst: str) -> DataFrame:
    """P9 — derived/copy column. Ref: container-logs.conf:15-17."""
    return df.withColumn(dst, F.col(src))


def flatten_struct(df: DataFrame, struct_col: str, drop_struct: bool = True) -> DataFrame:
    """P10 — flatten a one-level nested struct to top level (the Logstash
    rename-map block). Ref: instagram-profiles.conf:24-46."""
    nested = [f.name for f in df.schema[struct_col].dataType.fields]  # type: ignore[union-attr]
    flat = [F.col(f"{struct_col}.{name}").alias(name) for name in nested]
    others = [F.col(c) for c in df.columns if c != struct_col]
    if not drop_struct:
        others.append(F.col(struct_col))
    return df.select(*others, *flat)


def cast_columns(df: DataFrame, casts: Mapping[str, DataType | str]) -> DataFrame:
    """P11 — type casts. Ref: instagram-profiles.conf:38-43."""
    out = df
    for col, dtype in casts.items():
        out = out.withColumn(col, F.col(col).cast(dtype))
    return out


def normalize_nulls(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """P12/F16 — empty-string→NULL normalization (the Logstash per-field
    remove_field chain; sparse documents become SQL NULLs).
    Ref: instagram-profiles.conf:50-58. String columns only."""
    targets = set(cols) if cols is not None else {
        f.name for f in df.schema.fields if f.dataType.typeName() == "string"
    }
    exprs = [
        F.nullif(F.col(c), F.lit("")).alias(c) if c in targets else F.col(c)
        for c in df.columns
    ]
    return df.select(*exprs)


def logstash_normalize(
    df: DataFrame,
    json_col: str,
    payload_schema: StructType,
    casts: Mapping[str, DataType | str] | None = None,
    required: str | None = None,
) -> DataFrame:
    """The composed Logstash-equivalent pipeline: parse → drop-if-empty →
    flatten → cast → empty-string→null (P8+P10+P11+P12+F14).

    Ref: docker-elk/logstash/pipeline/instagram-profiles.conf:10-59 —
    the full filter block of the instagram pipeline, as one declarative
    (fully Catalyst-visible, codegen-able) transform.
    """
    parsed = df.withColumn("_payload", F.from_json(F.col(json_col), payload_schema))
    parsed = parsed.filter(F.col("_payload").isNotNull())
    if required:
        parsed = parsed.filter(F.col(f"_payload.{required}").isNotNull())
    flat = flatten_struct(parsed.drop(json_col), "_payload")
    if casts:
        flat = cast_columns(flat, casts)
    return normalize_nulls(flat)
