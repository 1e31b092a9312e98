"""Testdata dtype-drift guard.

Round 3 proved a driver testdata regeneration can silently flip
events.ts between parquet TIMESTAMP(NANOS) (→ long under the legacy
conf), timezone-less TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ), and proper
TIMESTAMP — and each flip broke every downstream events query
(unix_micros, window range frames, sessionization) plus the whole
bench run. These tests pin load_table's OUTPUT contract to the
declared EVENTS schema so the next regeneration fails here, loudly,
instead of as five cascading query errors.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, TimestampType

from streaming_data_spark import schemas


@pytest.mark.parametrize("fixture_name", ["sf_small", "sf_oracle"])
def test_events_ts_is_timestamp(spark, fixture_name, request):
    sf_dir = request.getfixturevalue(fixture_name)
    df = schemas.load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType == TimestampType(), (
        "events.ts must normalize to TIMESTAMP regardless of the parquet "
        f"era the driver shipped; got {df.schema['ts'].dataType}"
    )


def test_events_full_schema_matches_declared(spark, sf_small):
    df = schemas.load_table(spark, sf_small, "events")
    declared = {f.name: f.dataType for f in schemas.EVENTS.fields}
    actual = {f.name: f.dataType for f in df.schema.fields}
    assert actual == declared


def test_events_ts_usable_by_micros_functions(spark, sf_small):
    # The exact expression class that broke in r3: unix_micros requires
    # TIMESTAMP (not TIMESTAMP_NTZ). One row is enough — this is an
    # analysis-time check, not a data check.
    df = schemas.load_table(spark, sf_small, "events")
    row = df.select(
        F.unix_micros("ts").alias("us"), F.unix_millis("ts").alias("ms")
    ).first()
    assert row.us is not None and row.ms == row.us // 1000


def test_documents_and_embeddings_schemas_match_declared(spark, sf_small):
    """Extend the drift guard to the other [EXT]-critical tables: a
    regeneration that flips embeddings to array<double> (or renames a
    documents column) should fail HERE, not inside ANN/quantization
    math or the text toolchain."""
    docs = schemas.load_table(spark, sf_small, "documents")
    assert {f.name: f.dataType for f in docs.schema.fields} == {
        f.name: f.dataType for f in schemas.DOCUMENTS.fields
    }
    emb = schemas.load_table(spark, sf_small, "embeddings")
    assert {f.name: f.dataType for f in emb.schema.fields} == {
        f.name: f.dataType for f in schemas.EMBEDDINGS.fields
    }


def test_relational_tables_have_expected_key_columns(spark, sf_small):
    """Cheap presence guard for the TPC-H-ish tables: the join keys
    every registry query depends on must exist with integral types —
    a regeneration that re-types a key breaks half the registry."""
    from pyspark.sql.types import IntegerType

    keys = {
        "region": ["r_regionkey"],
        "nation": ["n_nationkey", "n_regionkey"],
        "customer": ["c_custkey", "c_nationkey"],
        "supplier": ["s_suppkey", "s_nationkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    }
    for table, cols in keys.items():
        df = schemas.load_table(spark, sf_small, table)
        fields = {f.name: f.dataType for f in df.schema.fields}
        for c in cols:
            assert c in fields, (table, c, sorted(fields))
            assert isinstance(fields[c], (LongType, IntegerType)), (table, c, fields[c])


def test_second_load_of_an_unchanged_table_runs_no_job(spark, sf_small, jobs_of):
    """The file schema is resolved once per session and file stamp:
    a repeat load reads with it instead of a footer-read job."""
    first = schemas.load_table(spark, sf_small, "orders")
    again, n_jobs = jobs_of(lambda: schemas.load_table(spark, sf_small, "orders"))
    assert n_jobs == 0
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_spark_overwrite_of_a_directory_table_is_re_resolved(spark, tmp_path, jobs_of):
    """A directory table (several part files, as the scale probe's
    replicas are) is stamped by the directory's own status: a repeat
    load runs no job, and a Spark overwrite that changes a column's
    type is inferred again."""
    path = str(tmp_path / "orders.parquet")
    spark.range(40).withColumn("o_custkey", F.col("id")).repartition(4) \
        .write.mode("overwrite").parquet(path)
    first = schemas.load_table(spark, str(tmp_path), "orders")
    assert first.schema["o_custkey"].dataType == LongType()
    _, n_jobs = jobs_of(lambda: schemas.load_table(spark, str(tmp_path), "orders"))
    assert n_jobs == 0
    spark.range(40).withColumn("o_custkey", F.col("id").cast("string")).repartition(4) \
        .write.mode("overwrite").parquet(path)
    again = schemas.load_table(spark, str(tmp_path), "orders")
    assert again.schema["o_custkey"].dataType == StringType()
    assert sorted(r.o_custkey for r in again.collect()) == sorted(str(i) for i in range(40))


def test_missing_table_raises_spark_path_not_found(spark, tmp_path):
    """A table that is not there has no stamp and is read as is, so
    the load fails with Spark's own error, as without the resolver."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        schemas.load_table(spark, str(tmp_path), "documents")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        schemas.load_table(spark, str(tmp_path), "events")


def _write_events(path, ts_unit: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_700_000_000_123_456, 1_700_086_400_000_001, 1_700_172_800_999_999]
    scale = {"us": 1, "ns": 1000}[ts_unit]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([m * scale for m in micros], pa.timestamp(ts_unit)),
        }),
        path, version="2.6", coerce_timestamps=None,
    )


def test_in_place_rewrite_from_micros_ntz_to_nanos_is_re_resolved(spark, tmp_path):
    """A testdata regeneration that rewrites events.parquet in place
    with another ts encoding gets a new file stamp, so its schema is
    inferred again: ts stays TimestampType with the same values. A
    resolver that ignored the stamp would read the nanos file with the
    micros-NTZ schema."""
    path = tmp_path / "events.parquet"
    _write_events(path, "us")

    def ts_micros():
        df = schemas.load_table(spark, str(tmp_path), "events")
        assert df.schema["ts"].dataType == TimestampType()
        return [r.us for r in df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()]

    before = ts_micros()
    assert ts_micros() == before  # the cached-schema path
    _write_events(path, "ns")
    assert ts_micros() == before


def test_a_new_session_resolves_again(sf_small, tmp_path):
    """The resolver lives and dies with its session: after
    ``spark.stop()`` the next session pays its own footer-read job.
    Run in a child process, so the suite's session stays up."""
    import os
    import subprocess
    import sys

    code = f"""
import sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from streaming_data_spark.schemas import load_table
from streaming_data_spark.session import get_session

def jobs(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    load_table(spark, {sf_small!r}, "orders")
    return len(sc.statusTracker().getJobIdsForGroup(group))

spark = get_session(app_name="resolver-a")
print(jobs(spark, "first"), jobs(spark, "again"))
spark.stop()
spark = get_session(app_name="resolver-b")
print(jobs(spark, "new-session"))
spark.stop()
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["1", "0", "1"]
