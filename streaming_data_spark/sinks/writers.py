"""Batch writers (SURVEY.md §2.2 K1–K8, §4.2-1).

The reference's load path is ``INSERT ... ON CONFLICT DO NOTHING``
(upbit_data_pipeline.py:35-41,109-140; insert_csv_to_postgres.py:97-112).
Spark has no conflict-skipping JDBC writer, so the engine's canonical
writer is **idempotent keyed append**: dedup the batch on the key,
anti-join against the existing target, append the remainder. Running
it twice on overlapping input adds zero duplicate rows — the property
the reference relies on for replay tolerance, and what makes
at-least-once streaming delivery exactly-once-observable (T1).

The keyed writers run on every micro-batch, so each call runs one
action, the write, and takes the appended-row count from an
``Observation`` on it. ``write_if_absent`` runs at most 3 Spark jobs
per call on an existing parquet target; its docstring gives the
budget and why the batch is not persisted.

Not atomic under concurrent writers (SURVEY §7.4-1) — the reference
is single-writer too (one transaction per load,
upbit_daily_candels.py:241). Document, don't pretend.
"""
from __future__ import annotations

import json
import os
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _is_missing_path(exc: AnalysisException) -> bool:
    """True only for 'target does not exist yet' — anything else
    (corrupt file, permissions, FS outage) must propagate, or a
    transient read error would silently disable the anti-join and
    break the idempotent-append guarantee."""
    msg = str(exc)
    return (
        "PATH_NOT_FOUND" in msg
        or "Path does not exist" in msg
        or "UNABLE_TO_INFER_SCHEMA" in msg  # empty dir: no files yet
    )


class ConcurrentWriterError(RuntimeError):
    """Another writer holds the table's single-writer lock."""


@contextmanager
def _single_writer_lock(target_path: str):
    """Advisory single-writer enforcement: exclusively CREATE a lock
    file next to the table; a concurrent holder makes the second
    writer fail FAST instead of silently racing the anti-join (the
    read-check-append sequence is not atomic — two writers that both
    pass the anti-join both append, breaking the at-most-once-per-key
    contract). This makes the engine's documented single-writer
    assumption (reference is single-writer too: one transaction per
    load, upbit_daily_candels.py) an ENFORCED invariant rather than a
    comment. True multi-writer semantics need a transactional table
    format (Delta/Iceberg) — documented upgrade path, SURVEY §7.4.

    Scope: LOCAL/POSIX paths only — os.open(O_CREAT|O_EXCL) is atomic
    there. A URI-schemed target (s3a://, hdfs://, abfs://) would get a
    meaningless LOCAL lock giving false assurance, so it is rejected
    outright: on object stores there is no portable exclusive-create
    primitive visible from here, and the honest answer is the
    transactional-format upgrade (Delta/Iceberg). A crashed writer
    leaves a stale lock that the operator removes (the lock carries
    pid + timestamp for that triage).
    """
    import re as _re
    import time as _time

    if _re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", target_path) and not target_path.startswith("file://"):
        raise NotImplementedError(
            "single-writer lock enforcement is local-filesystem-only; a "
            f"local lock cannot exclude writers of {target_path!r} — use a "
            "transactional table format (Delta/Iceberg) for remote tables"
        )
    os.makedirs(target_path, exist_ok=True)
    lock = os.path.join(target_path, "_sds_writer.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentWriterError(
            f"another writer holds {lock}; concurrent keyed appends would "
            "race the anti-join (remove the lock only if its owner is dead)"
        ) from None
    with os.fdopen(fd, "w") as fh:
        fh.write(json.dumps({"pid": os.getpid(), "ts": _time.time()}))
    try:
        yield
    finally:
        os.remove(lock)


def write_if_absent(
    new: DataFrame,
    target_path: str,
    keys: Sequence[str],
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
    enforce_single_writer: bool = False,
) -> int:
    """K1/K2 — idempotent keyed append to a path-based table.

    Returns the number of rows actually appended, counted by an
    ``Observation`` on the write, so the count covers exactly the rows
    written.

    Job budget on an existing parquet target: at most 3 Spark jobs —
    the key-only scan of the target (broadcast or shuffled), the
    shuffle stage of the batch dedup, then the write. The target's key
    schema is declared (see _read_keys), so no schema-inference job
    runs. The batch is
    not persisted: AQE may not coalesce the shuffle output of a cached
    plan (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    is off by default), so a cached write would put one file per
    shuffle partition into the target on every call, and every later
    call would read them all back. Uncached, the anti-join shuffle is
    AQE-sized and a small batch lands as one file.

    A call that inserts nothing still runs the write: the target keeps
    its rows, and Spark may add one schema-only file to it. On a
    missing target that creates it, empty.

    ``enforce_single_writer=True`` wraps the read-check-append in the
    advisory lock (see _single_writer_lock) so a concurrent writer
    fails fast instead of silently double-inserting.
    """
    if enforce_single_writer:
        with _single_writer_lock(target_path):
            return write_if_absent(
                new, target_path, keys, fmt, partition_by,
                enforce_single_writer=False,
            )
    keys = list(keys)
    to_insert = new.dropDuplicates(keys)
    try:
        existing = _read_keys(new, target_path, keys, fmt)
        to_insert = to_insert.join(existing, on=keys, how="left_anti")
    except AnalysisException as exc:
        if not _is_missing_path(exc):
            raise
        # target doesn't exist yet — first load
    to_insert, obs = _counted(to_insert)
    writer = to_insert.write.mode("append").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(target_path)
    return obs.get["n"]


# Spark records each parquet file's Spark schema in its footer here.
_SPARK_PARQUET_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_keys(
    new: DataFrame, target_path: str, keys: list[str], fmt: str
) -> DataFrame:
    """The target's key columns, typed as the target stores them, so
    the anti-join coerces types exactly as an inferred read would.

    Parquet declares that key schema instead of inferring it: Spark's
    inference is a Spark job, while the stored types come from one
    file's footer, read on the driver. The batch's key types only
    serve to list the files. A declared type that differs from the
    stored one is not safe to keep: the parquet reader reads a stored
    decimal, date or timestamp declared as bigint as its raw integer.

    Other formats infer. ORC inference already reads one footer on the
    driver, with no job. JSON stores no types, and its reader converts
    a stored token to a declared type it does not hold (the number 50.0
    read as the string "50.0"), which would re-insert matching rows.
    CSV matches a declared schema by position, not by name.
    """
    spark = new.sparkSession
    if fmt != "parquet":
        return spark.read.format(fmt).load(target_path).select(*keys)
    by_name = {f.name.lower(): f for f in new.schema}
    declared = StructType([by_name[k.lower()] for k in keys])
    existing = spark.read.schema(declared).parquet(target_path)
    files = existing.inputFiles()
    if not files:
        return existing
    stored = _parquet_footer_schema(files[0])
    if stored is None:  # let Spark infer
        return spark.read.parquet(target_path).select(*keys)
    stored_types = {f.name.lower(): f.dataType for f in stored}
    # a key missing from the footer is a partition column, typed by
    # its directory values; it keeps the batch's type
    key_schema = StructType([
        StructField(f.name, stored_types.get(f.name.lower(), f.dataType))
        for f in declared
    ])
    if [f.dataType for f in key_schema] == [f.dataType for f in declared]:
        return existing
    return spark.read.schema(key_schema).parquet(target_path)


def _parquet_footer_schema(path: str) -> StructType | None:
    """The Spark schema a parquet file's footer records; None for a
    file written by another engine or on a filesystem pyarrow cannot
    open. Reads the footer only."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    try:
        fs, fs_path = pafs.FileSystem.from_uri(path)
        meta = pq.read_schema(fs_path, filesystem=fs).metadata or {}
    except (OSError, ValueError):  # unsupported scheme: infer instead
        return None
    raw = meta.get(_SPARK_PARQUET_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df``, and an Observation whose ``get["n"]`` is its row count
    once the action that runs it (the write) is done — no extra job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def incremental_load(
    source: DataFrame,
    target_path: str,
    keys: Sequence[str],
    watermark_col: str,
    fmt: str = "parquet",
) -> int:
    """§3.3 — the reference's incremental-ingest pattern
    (upbit_daily_candels.py:184-207): read the target's max watermark,
    keep only newer source rows, idempotent-append them.

    The watermark probe is an aggregate over the target's single
    column (column-pruned, predicate-pushed scan).
    """
    spark = source.sparkSession
    try:
        wm = (
            spark.read.format(fmt).load(target_path)
            .agg(F.max(watermark_col).alias("wm"))
            .collect()[0]["wm"]
        )
    except AnalysisException as exc:
        if not _is_missing_path(exc):
            raise
        wm = None
    fresh = source if wm is None else source.filter(F.col(watermark_col) > F.lit(wm))
    return write_if_absent(fresh, target_path, keys, fmt=fmt)


def append_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batchsize: int = 1000,
    properties: dict[str, str] | None = None,
) -> None:
    """K3 — batched JDBC append (insert_rows commit_every=1000,
    etl_pipeline.py:63-70). Thin wrapper; needs a JDBC driver jar on
    the classpath at deploy time."""
    writer = (
        df.write.mode("append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    for key, val in (properties or {}).items():
        writer = writer.option(key, val)
    writer.save()


def write_if_absent_jdbc(
    new: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    batchsize: int = 1000,
    properties: dict[str, str] | None = None,
) -> int:
    """K1/K2 over JDBC — the reference's actual load statement is
    ``INSERT ... ON CONFLICT DO NOTHING`` into Postgres
    (upbit_data_pipeline.py:109-140). Same shape as ``write_if_absent``
    but the anti-join reads only the key columns of the remote table
    (Spark prunes the generated SELECT), so the read traffic is keys,
    not rows. Returns rows actually appended.

    Single-writer semantics, like the reference (one transaction per
    load) — concurrent writers can still race between probe and append.
    The count is observed on the append, as in ``write_if_absent``; a
    call that inserts nothing still runs the (empty) append, which
    creates the table on a first load.
    """
    from streaming_data_spark.sources.jdbc import jdbc_table

    keys = list(keys)
    to_insert = new.dropDuplicates(keys)
    try:
        existing = jdbc_table(
            new.sparkSession, url, table, properties=properties
        ).select(*keys)
        to_insert = to_insert.join(existing, on=keys, how="left_anti")
    except Exception as exc:  # noqa: BLE001 — JDBC surfaces Py4JJavaError
        if "does not exist" not in str(exc):
            raise
        # table doesn't exist yet — first load
    to_insert, obs = _counted(to_insert)
    append_jdbc(to_insert, url, table, batchsize=batchsize, properties=properties)
    return obs.get["n"]


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """K7 — CSV sink with header (log_to_csv.py:29-33,
    upbit_api_candle_info.py:117-124)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    fmt: str = "parquet",
    mode: str = "append",
) -> None:
    """K5/K8 — date-partitioned sink: the Logstash
    ``container-logs-%{+YYYY.MM.dd}`` index naming (container-logs.conf:23)
    and the S3 date-stamped key (monitor_errors.py:38) become a
    partition column — partition pruning replaces index-name routing."""
    (
        df.withColumn("event_date", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        .write.mode(mode)
        .partitionBy("event_date")
        .format(fmt)
        .save(path)
    )


def gated_write(df: DataFrame, write_fn, *args, **kwargs) -> bool:
    """K10 — conditional sink (``if failed_logs:`` gate,
    log_to_csv.py:21-35): write only when rows exist; probes with
    limit(1), not a full count."""
    if df.limit(1).count() == 0:
        return False
    write_fn(df, *args, **kwargs)
    return True


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    The 100 TB join strategy: two tables bucketed on the same key with
    the same bucket count join WITHOUT any exchange — the shuffle is
    paid once at write time, then every downstream join/aggregation on
    that key is co-located (asserted in tests/test_bucketing.py).
    Sorted buckets additionally skip the sort of a sort-merge join.
    """
    cols = list(bucket_cols)
    writer = df.write.mode(mode).bucketBy(n_buckets, cols[0], *cols[1:])
    if sort_cols:
        sort_cols = list(sort_cols)
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    writer.saveAsTable(table)


def write_text_log(
    df: DataFrame,
    path: str,
    stamp_col: str | None = None,
) -> None:
    """K8 — stringified rows to a text sink (monitor_errors.py:29-42
    pushes failed rows as one text blob to a date-stamped S3 key;
    stored_postgres_data_send_s3.py:15-22 the generic form). Rows are
    serialized as JSON lines; the date stamp becomes a partition value
    (dt=YYYYMMDD) so readers prune by day exactly like the reference's
    key naming scheme. Any fs scheme works (file://, s3a://, ...).
    """
    payload = F.to_json(F.struct(*df.columns)).alias("value")
    if stamp_col is not None:
        out = df.select(payload, F.date_format(F.col(stamp_col), "yyyyMMdd").alias("dt"))
        out.write.mode("append").partitionBy("dt").text(path)
    else:
        df.select(payload).write.mode("append").text(path)
