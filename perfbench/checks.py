"""Correctness checks, run outside the timed region.

Batch results are compared with the DuckDB oracle through the
repository's own oracle harness (``tests/oracle.py``, imported
read-only). Stream sinks are compared with the generated events: the
append sink must hold every delivery, redeliveries included, and the
upsert target each distinct event_id exactly once, with the generated
field values.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
from collections import Counter

import duckdb
import pandas as pd
from pyspark.sql.types import StructType

STREAM_PAYLOAD = (
    StructType()
    .add("event_id", "long")
    .add("ts", "timestamp")
    .add("user_id", "long")
    .add("event_type", "string")
    .add("value", "double")
    .add("created_s", "double")
)
_FIELDS = ("event_id", "user_id", "event_type", "value")


@functools.cache
def _oracle_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(root, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_conn(data_dir: str) -> duckdb.DuckDBPyConnection:
    """The oracle's connection over the two tables the curation
    queries read."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class _Collected:
    """Adapter: the oracle harness compares a Spark frame via
    ``toPandas()``; the benchmark collected that frame already."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - the harness's interface
        return self._pdf


def compare_to_oracle(got: pd.DataFrame, con, sql: str, name: str) -> None:
    """Raise AssertionError unless ``got`` equals the oracle's rows."""
    oracle = _oracle_module()
    oracle.compare(_Collected(got), oracle.run_oracle(con, sql, name), name)


def check_job_summary(summary: dict[str, int], n_docs: int) -> None:
    """Raise AssertionError unless the curation job's per-stage survivor
    counts start at the whole corpus and every later stage keeps a
    subset of the one before (chunks excepted: a document yields one or
    more)."""
    keep = [summary[s] for s in ("input", "quality_gate", "exact_dedup", "near_dedup",
                                 "decontaminated") if s in summary]
    if summary.get("input") != n_docs:
        raise AssertionError(f"input {summary.get('input')} != {n_docs}")
    if any(b > a for a, b in zip(keep, keep[1:])):
        raise AssertionError(f"survivors grow: {summary}")
    if not summary.get("chunks", 0) >= keep[-1] > 0:
        raise AssertionError(f"chunks: {summary}")


def expected_events(files) -> pd.DataFrame:
    """One row per generated delivery (redeliveries repeat their row)."""
    rows = []
    for f in files:
        for line in f.body.splitlines():
            value = json.loads(json.loads(line)["value"])
            rows.append({k: value[k] for k in _FIELDS})
    return pd.DataFrame(rows)


def _read(path: str, con) -> pd.DataFrame:
    if not os.path.isdir(path):
        return pd.DataFrame(columns=list(_FIELDS))
    cols = ", ".join(_FIELDS)
    return con.sql(
        f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    ).df()


def _diff(got: pd.DataFrame, want: pd.DataFrame) -> tuple[int, int]:
    """(rows missing from ``got``, rows in ``got`` beyond ``want``),
    comparing whole rows as multisets."""
    g = Counter(map(tuple, got[list(_FIELDS)].astype(object).values.tolist()))
    w = Counter(map(tuple, want[list(_FIELDS)].astype(object).values.tolist()))
    return sum((w - g).values()), sum((g - w).values())


def check_sinks(append_dir: str, upsert_dir: str, files) -> tuple[dict[str, int], int]:
    """Failure counts by kind, and the upsert target's row count."""
    want = expected_events(files)
    con = duckdb.connect()
    try:
        appended = _read(append_dir, con)
        upserted = _read(upsert_dir, con)
    finally:
        con.close()
    lost_a, extra_a = _diff(appended, want)
    lost_u, extra_u = _diff(upserted, want.drop_duplicates("event_id"))
    return ({"lost from the append sink": lost_a,
             "duplicated in the append sink": extra_a,
             "lost from the upsert target": lost_u,
             "duplicated in the upsert target": extra_u},
            len(upserted))
