"""Writer properties (SURVEY.md §5.2): idempotency of the keyed
writer, incremental load, conditional gating."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from streaming_data_spark.schemas import load_table
from streaming_data_spark.sinks import gated_write, incremental_load, write_csv, write_if_absent


@pytest.fixture()
def target(tmp_path):
    return str(tmp_path / "target")


def test_write_if_absent_idempotent(spark, sf_small, target):
    """The ON CONFLICT DO NOTHING property: re-running on overlapping
    input adds zero duplicates (insert_csv_to_postgres.py:104)."""
    events = load_table(spark, sf_small, "events").limit(200)
    n1 = write_if_absent(events, target, keys=["event_id"])
    assert n1 == 200
    n2 = write_if_absent(events, target, keys=["event_id"])
    assert n2 == 0
    stored = spark.read.parquet(target)
    assert stored.count() == 200
    assert stored.select("event_id").distinct().count() == 200


def test_write_if_absent_partial_overlap(spark, sf_small, target):
    events = load_table(spark, sf_small, "events")
    first = events.filter(F.col("event_id") < 100)
    overlap = events.filter((F.col("event_id") >= 50) & (F.col("event_id") < 150))
    write_if_absent(first, target, keys=["event_id"])
    n = write_if_absent(overlap, target, keys=["event_id"])
    assert n == 50  # only the 100-149 half is new
    assert spark.read.parquet(target).count() == 150


def test_write_if_absent_dedups_batch(spark, sf_small, target):
    events = load_table(spark, sf_small, "events").limit(50)
    doubled = events.unionByName(events)
    n = write_if_absent(doubled, target, keys=["event_id"])
    assert n == 50


def test_incremental_load_watermark(spark, sf_small, target):
    """The upbit_daily_candels incremental pattern: only rows past the
    target's max watermark are fetched and appended."""
    events = load_table(spark, sf_small, "events")
    old = events.filter(F.col("event_id") < 300)
    incremental_load(old, target, keys=["event_id"], watermark_col="ts")
    n = incremental_load(events, target, keys=["event_id"], watermark_col="ts")
    stored = spark.read.parquet(target)
    assert stored.count() == old.count() + n
    # re-run: nothing new
    assert incremental_load(events, target, keys=["event_id"], watermark_col="ts") == 0


def test_gated_write(spark, sf_small, tmp_path):
    events = load_table(spark, sf_small, "events")
    empty = events.filter(F.col("event_type") == "nope")
    assert gated_write(empty, write_csv, str(tmp_path / "a")) is False
    assert gated_write(events.limit(5), write_csv, str(tmp_path / "b")) is True
    assert spark.read.option("header", "true").csv(str(tmp_path / "b")).count() == 5


def test_write_text_log_date_partitioned(spark, sf_small, tmp_path):
    """K8 — failed-rows-to-text with the reference's date-stamped key
    layout (monitor_errors.py:38): one dt= partition per day, JSON-line
    payloads round-trip."""
    from streaming_data_spark.sinks.writers import write_text_log

    events = load_table(spark, sf_small, "events").limit(50)
    out = str(tmp_path / "logs")
    write_text_log(events, out, stamp_col="ts")
    back = spark.read.text(out)
    assert back.count() == 50
    days = {r.dt for r in spark.read.format("text").option("pathGlobFilter", "*").load(out)
            .select(F.regexp_extract(F.input_file_name(), r"dt=(\d{8})", 1).alias("dt"))
            .collect()}
    assert all(len(d) == 8 for d in days) and days
    parsed = spark.read.json(out)
    assert "event_id" in parsed.columns


def test_single_writer_lock_blocks_concurrent_append(spark, sf_small, tmp_path):
    """The advisory lock makes the documented single-writer assumption
    enforced: a second writer starting while the lock is held fails
    FAST (instead of racing the anti-join into double inserts), and
    the lock is released after a successful write."""
    import os

    import pytest

    from streaming_data_spark.schemas import load_table
    from streaming_data_spark.sinks.writers import (
        ConcurrentWriterError,
        write_if_absent,
    )

    rows = load_table(spark, sf_small, "documents").select("doc_id", "lang").limit(20)
    target = str(tmp_path / "locked_table")

    n = write_if_absent(rows, target, keys=["doc_id"], enforce_single_writer=True)
    assert n == 20
    assert not os.path.exists(os.path.join(target, "_sds_writer.lock"))

    # simulate a concurrent holder
    lock = os.path.join(target, "_sds_writer.lock")
    with open(lock, "w") as fh:
        fh.write("{}")
    with pytest.raises(ConcurrentWriterError, match="another writer"):
        write_if_absent(rows, target, keys=["doc_id"], enforce_single_writer=True)
    os.remove(lock)

    # replay after release: idempotent, appends nothing
    n2 = write_if_absent(rows, target, keys=["doc_id"], enforce_single_writer=True)
    assert n2 == 0


# -- cost and type contracts of the keyed writer -----------------------------


def _keyed_batch(spark, lo, hi, key_type="bigint"):
    """``hi - lo`` rows over 4 input partitions, keyed ``k``. The modulo
    hides the range's uniqueness from the optimizer, so the dedup keeps
    its shuffle, as on a streamed batch."""
    return spark.range(lo, hi, numPartitions=4).select(
        (F.col("id") % (1 << 40)).cast(key_type).alias("k"),
        F.col("id").cast("string").alias("v"),
    )


def _data_files(path):
    return set(glob.glob(f"{path}/**/part-*", recursive=True))


def test_write_if_absent_job_budget_on_existing_target(spark, target, jobs_of):
    """At most 3 jobs per call on a non-empty target: the key scan,
    the dedup's shuffle stage and the write. No schema-inference job,
    no persist + count."""
    write_if_absent(_keyed_batch(spark, 0, 3000), target, keys=["k"])
    n, jobs = jobs_of(
        lambda: write_if_absent(_keyed_batch(spark, 1500, 4500), target, keys=["k"])
    )
    assert n == 1500
    assert jobs <= 3, jobs


def test_write_if_absent_small_batch_lands_as_one_file(spark, target):
    """A 3k-row call adds one data file, not one per shuffle partition:
    the write is not planned from a cached relation, so AQE coalesces
    the anti-join shuffle."""
    write_if_absent(_keyed_batch(spark, 0, 3000), target, keys=["k"])
    before = _data_files(target)
    assert write_if_absent(_keyed_batch(spark, 3000, 6000), target, keys=["k"]) == 3000
    assert len(_data_files(target) - before) == 1


def test_write_if_absent_empty_replay_adds_only_a_schema_file(spark, target):
    """A replay that inserts nothing returns 0 and leaves the rows
    unchanged. The write still runs (the count is observed on it), and
    Spark's empty write adds exactly one schema-only file."""
    batch = _keyed_batch(spark, 0, 3000)
    write_if_absent(batch, target, keys=["k"])
    before = _data_files(target)
    assert write_if_absent(batch, target, keys=["k"]) == 0
    added = _data_files(target) - before
    assert len(added) == 1
    assert spark.read.parquet(*added).count() == 0
    assert spark.read.parquet(target).count() == 3000


@pytest.mark.parametrize("fmt", ["json", "orc"])
def test_write_if_absent_other_name_resolved_formats(spark, target, fmt, jobs_of):
    """JSON and ORC targets keep the keyed-append contract. ORC reads
    its key schema from a footer on the driver, so it stays inside the
    same 3-job budget as parquet."""
    assert write_if_absent(_keyed_batch(spark, 0, 100), target, ["k"], fmt=fmt) == 100
    n, jobs = jobs_of(
        lambda: write_if_absent(_keyed_batch(spark, 50, 150), target, ["k"], fmt=fmt)
    )
    assert n == 50
    if fmt == "orc":
        assert jobs <= 3, jobs
    assert write_if_absent(_keyed_batch(spark, 50, 150), target, ["k"], fmt=fmt) == 0
    stored = spark.read.format(fmt).load(target)
    assert stored.count() == stored.select("k").distinct().count() == 150


def test_write_if_absent_csv_keeps_inference(spark, target):
    """CSV matches a declared schema by position, so its key read is
    inferred: a headerless target's columns are ``_c0``, ``_c1``, and
    the key fails to resolve instead of being read from the wrong
    column."""
    from pyspark.errors import AnalysisException

    batch = _keyed_batch(spark, 0, 100).select("v", "k")
    write_if_absent(batch, target, ["k"], fmt="csv")
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        write_if_absent(batch, target, ["k"], fmt="csv")


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
@pytest.mark.parametrize(
    "stored_type,batch_type",
    [("bigint", "int"), ("decimal(10,2)", "bigint"), ("double", "string")],
)
def test_write_if_absent_key_type_mismatch_never_duplicates(
    spark, target, fmt, stored_type, batch_type
):
    """A batch whose key type differs from the target's either matches
    the stored keys (as a join of the two types would) or raises. It
    never re-inserts the keys it shares with the target. Parquet would
    read a stored decimal declared as bigint as its raw unscaled
    integer, so the declared key types are the stored ones."""
    write_if_absent(_keyed_batch(spark, 0, 100, stored_type), target, ["k"], fmt=fmt)
    try:
        n = write_if_absent(_keyed_batch(spark, 50, 150, batch_type), target, ["k"], fmt=fmt)
    except Exception:  # noqa: BLE001 — raising is the other allowed outcome
        assert spark.read.format(fmt).load(target).count() == 100
        return
    assert n == 50
    assert spark.read.format(fmt).load(target).count() == 150


def test_write_if_absent_infers_when_the_footer_has_no_spark_schema(
    spark, target, monkeypatch
):
    """A parquet target written by another engine has no Spark schema
    in its footers; the key read falls back to inference."""
    from streaming_data_spark.sinks import writers

    write_if_absent(_keyed_batch(spark, 0, 100, "decimal(10,2)"), target, ["k"])
    monkeypatch.setattr(writers, "_parquet_footer_schema", lambda path: None)
    assert write_if_absent(_keyed_batch(spark, 50, 150), target, ["k"]) == 50
