"""Streaming tests mirroring the reference's test strategy (SURVEY §5):
- kafka/test.sh round-trip: N in → N out, exact count + key-set match
- run-tests-core.sh E2E: inject event → assert parsed/flattened/cast
  at the date-partitioned sink
- idempotency under replay (T1)
- windowed aggs match their batch forms (A3/A8)
- fan-out + dead-letter routing + alert listener
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Window as SparkWindow
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from conftest import run_to_completion
from streaming_data_spark.operators import aggregates as agg
from streaming_data_spark.operators import indicators as ind
from streaming_data_spark.operators.joins import dim_join
from streaming_data_spark.schemas import load_table
from streaming_data_spark.streaming import pipeline as sp
from streaming_data_spark.streaming import stateful
from streaming_data_spark.streaming.listeners import AlertingListener, run_job_with_alerts

PAYLOAD_SCHEMA = (
    StructType()
    .add("event_id", "long")
    .add("ts", "timestamp")
    .add("user_id", "long")
    .add("event_type", "string")
    .add("value", "double")
)


@pytest.fixture()
def event_stream_dir(spark, sf_small, tmp_path):
    """100 events as (key, value-JSON) envelopes — the send_to_kafka.py
    contract (key=uuid, value=json.dumps(message)) as files."""
    events = load_table(spark, sf_small, "events").limit(100)
    envelope = events.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value")
        ).alias("value"),
    )
    path = str(tmp_path / "stream_in")
    envelope.coalesce(1).write.mode("overwrite").json(path)
    return path


def test_roundtrip_count_and_keys(spark, event_stream_dir, tmp_path):
    """kafka/test.sh:40-50 — produce 100, consume, assert exactly 100
    and the same key set."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    writer = normalized.writeStream.format("memory").queryName("roundtrip")
    run_to_completion(writer)
    out = spark.sql("SELECT * FROM roundtrip")
    assert out.count() == 100
    got_keys = {r.event_id for r in out.select("event_id").collect()}
    want_keys = {r.event_id for r in
                 spark.read.json(event_stream_dir).select(F.col("key").cast("long").alias("event_id")).collect()}
    assert got_keys == want_keys


def test_e2e_partitioned_sink(spark, event_stream_dir, tmp_path):
    """run-tests-core.sh — event in, materialized parsed + partitioned
    at the sink (the container-logs date-partitioned index, K5)."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    out_path = str(tmp_path / "sink")
    writer = sp.stream_to_partitioned_sink(
        normalized, out_path, ts_col="ts", checkpoint=str(tmp_path / "ckpt")
    )
    run_to_completion(writer)
    stored = spark.read.parquet(out_path)
    assert stored.count() == 100
    assert "event_date" in stored.columns
    # partition dirs exist on disk (pruning-ready layout)
    import os

    assert any(d.startswith("event_date=") for d in os.listdir(out_path))


def test_idempotent_sink_absorbs_replay(spark, event_stream_dir, tmp_path):
    """T1 — replaying the same input through a fresh checkpoint adds
    zero duplicates (at-least-once → exactly-once-observable)."""
    target = str(tmp_path / "idem_target")
    for attempt in range(2):  # second run = full replay
        stream = sp.file_json_source(spark, event_stream_dir)
        normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
        writer = sp.idempotent_stream_sink(
            normalized, target, keys=["event_id"],
            checkpoint=str(tmp_path / f"ckpt{attempt}"),
        )
        run_to_completion(writer)
    stored = spark.read.parquet(target)
    assert stored.count() == 100
    assert stored.select("event_id").distinct().count() == 100


def test_dead_letter_split(spark, tmp_path):
    """T8 — corrupt payloads route to the dead-letter stream with the
    raw value intact, good ones parse."""
    lines = [
        {"key": "1", "value": json.dumps({"event_id": 1, "ts": "2024-01-01 00:00:00",
                                          "user_id": 7, "event_type": "click", "value": 1.5})},
        {"key": "2", "value": "{this is not json"},
    ]
    src = str(tmp_path / "dl_in")
    import os

    os.makedirs(src)
    with open(f"{src}/part.json", "w") as fh:
        for line in lines:
            fh.write(json.dumps(line) + "\n")

    stream = sp.file_json_source(spark, src)
    good, dead = sp.dead_letter_split(stream, PAYLOAD_SCHEMA)
    run_to_completion(good.writeStream.format("memory").queryName("dl_good"))
    run_to_completion(dead.writeStream.format("memory").queryName("dl_dead"))
    good_rows = spark.sql("SELECT * FROM dl_good").collect()
    dead_rows = spark.sql("SELECT * FROM dl_dead").collect()
    assert len(good_rows) == 1 and good_rows[0].event_id == 1
    assert len(dead_rows) == 1 and dead_rows[0].value == "{this is not json"


def test_windowed_rollup_matches_batch(spark, sf_small, event_stream_dir, tmp_path):
    """A8 — the streaming tumbling-window rollup equals the batch
    date_trunc rollup on the same 100 events."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    rolled = sp.windowed_rollup(normalized, "ts", ["event_type"], "value",
                                window_duration="1 minute")
    # complete mode: a finite drain never advances the watermark past
    # the last window, so append would withhold final windows
    writer = rolled.writeStream.format("memory").queryName("roll").outputMode("complete")
    run_to_completion(writer)
    got = spark.sql(
        "SELECT period_start, event_type, n, round(avg_value,6) avg_value, max_value FROM roll"
    )
    batch = load_table(spark, sf_small, "events").limit(100)
    want = agg.periodic_rollup(batch, "ts", ["event_type"], "value", period="minute").select(
        F.col("period_start"), "event_type", "n",
        F.round("avg_value", 6).alias("avg_value"), "max_value",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_streaming_ohlcv_matches_batch(spark, sf_small, event_stream_dir, tmp_path):
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    candles = sp.streaming_ohlcv(normalized, "user_id", "ts", "value")
    writer = candles.writeStream.format("memory").queryName("candles").outputMode("complete")
    run_to_completion(writer)
    got = spark.sql("SELECT user_id, bucket_ts, open, high, low, close, round(volume,6) volume, n_trades FROM candles")
    batch = load_table(spark, sf_small, "events").limit(100)
    want = agg.ohlcv(batch, "user_id", "ts", "value").select(
        "user_id", "bucket_ts", "open", "high", "low", "close",
        F.round("volume", 6).alias("volume"), "n_trades",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_fanout_two_sinks(spark, event_stream_dir, tmp_path):
    """T9 — one stream, two sinks, one persisted batch."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    sinks = [
        lambda b, e: b.write.mode("append").parquet(p1),
        lambda b, e: b.select("event_id", "event_type").write.mode("append").parquet(p2),
    ]
    writer = sp.fanout_sink(normalized, sinks, checkpoint=str(tmp_path / "ckpt"))
    run_to_completion(writer)
    assert spark.read.parquet(p1).count() == 100
    assert spark.read.parquet(p2).columns == ["event_id", "event_type"]


def test_alert_listener_and_job_wrapper(spark, event_stream_dir, tmp_path):
    """K9 — lifecycle alerts captured via injected transport."""
    captured: list[dict] = []
    listener = AlertingListener(captured.append)
    spark.streams.addListener(listener)
    try:
        stream = sp.file_json_source(spark, event_stream_dir)
        normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
        writer = normalized.writeStream.format("memory").queryName("alerts_q")
        run_to_completion(writer)
        # listener events are delivered asynchronously
        import time

        for _ in range(50):
            if any(p["event"] == "terminated" for p in captured):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    kinds = {p["event"] for p in captured}
    assert "started" in kinds and "terminated" in kinds
    assert all(p.get("status") != "FAILED" for p in captured)

    # batch wrapper: success + failure paths
    assert run_job_with_alerts(lambda: 42, captured.append, "ok_job") == 42
    assert captured[-1]["event"] == "job_succeeded"
    with pytest.raises(ValueError):
        run_job_with_alerts(lambda: (_ for _ in ()).throw(ValueError("boom")),
                            captured.append, "bad_job")
    assert captured[-1]["event"] == "job_failed"


def test_kafka_options_contract_and_wire_projection(spark):
    """S4/K4 — no broker or spark-sql-kafka jar ships in this
    container, so this test freezes the exact Kafka wiring instead
    (kafka/test.sh:36-50 is the behavior mirrored): the reader/writer
    option sets, and the wire-schema projection run for real on a
    static DataFrame with Kafka's record schema. Any drift in the
    option names, casts, or output contract fails here."""
    assert sp.kafka_source_options("broker:9092", "events", "earliest", 5000) == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "5000",
    }
    assert sp.kafka_source_options("b:9092", "t") == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "latest",
    }
    assert sp.kafka_sink_options("broker:9092", "out", "/ckpt") == {
        "kafka.bootstrap.servers": "broker:9092",
        "topic": "out",
        "checkpointLocation": "/ckpt",
    }

    # wire projection on Kafka's actual record schema (binary key/value)
    wire = spark.createDataFrame(
        [(bytearray(b"k1"), bytearray(b'{"a":1}'), "events", 0, 42,
          __import__("datetime").datetime(2024, 1, 1), 0)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int",
    )
    row = sp.project_kafka_wire(wire).collect()[0]
    assert (row.key, row.value, row.topic, row.partition, row.offset) == (
        "k1", '{"a":1}', "events", 0, 42,
    )

    # producer payload: key cast to string, whole row as JSON value
    batch = spark.createDataFrame([(7, "click", 1.5)], "event_id long, event_type string, value double")
    out = sp.to_kafka_payload(batch, "event_id").collect()[0]
    assert out.key == "7"
    assert json.loads(out.value) == {"event_id": 7, "event_type": "click", "value": 1.5}


def test_stateful_sessionization_across_batches(spark, sf_small, tmp_path):
    """T6 — applyInPandasWithState sessionization: state (the open
    session) must carry across micro-batches, and every session proven
    closed by a later event must be emitted exactly once."""
    import os

    from streaming_data_spark.streaming.stateful import sessionize_stream

    events = (
        load_table(spark, sf_small, "events")
        .select("user_id", "ts", "value")
        .orderBy("ts")
        .limit(300)
    )
    pdf = events.toPandas().sort_values("ts").reset_index(drop=True)

    # three sequential micro-batches (file modtime drives pickup order)
    src = tmp_path / "sessions_in"
    src.mkdir()
    for i, chunk in enumerate((pdf.iloc[:100], pdf.iloc[100:200], pdf.iloc[200:])):
        p = src / f"part-{i}.json"
        chunk.assign(ts=chunk["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    schema = (
        StructType().add("user_id", "long").add("ts", "timestamp").add("value", "double")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    sessions = sessionize_stream(stream, gap_minutes=30)
    writer = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    run_to_completion(writer)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.session_value, 4))
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }

    # expected: batch sessionization of the SAME rows, dropping each
    # user's final (still-open) session
    gap_us = 30 * 60 * 1_000_000
    want = set()
    for uid, grp in pdf.groupby("user_id"):
        grp = grp.sort_values("ts")
        cur = None
        for _, row in grp.iterrows():
            t = row["ts"].value // 1000
            if cur is None:
                cur = [t, t, 1, float(row["value"])]
            elif t - cur[1] > gap_us:
                want.add((uid, cur[0], cur[1], cur[2], round(cur[3], 4)))
                cur = [t, t, 1, float(row["value"])]
            else:
                cur[1] = max(cur[1], t)
                cur[2] += 1
                cur[3] += float(row["value"])
        # final session stays open — not emitted by the stream
    import pandas as pd

    got_norm = {
        (u, pd.Timestamp(s).value // 1000, pd.Timestamp(e).value // 1000, n, v)
        for (u, s, e, n, v) in got
    }
    assert got_norm == want
    assert len(got_norm) > 0, "expected at least one closed session in testdata"


def test_socket_source_against_real_tcp_server(spark):
    """S5 — the raw TCP source (logstash.conf:6-8 tcp input) run for
    real: an in-process TCP server feeds 20 lines to Spark's socket
    source and every line must land in the sink, exactly once."""
    import socket
    import threading
    import time

    lines = [f"log-line-{i:02d}" for i in range(20)]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    stop = threading.Event()

    def serve() -> None:
        conn, _ = server.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        stop.wait(30)  # hold the connection open while Spark drains it
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = sp.socket_source(spark, "127.0.0.1", port)
    query = (
        stream.writeStream.format("memory")
        .queryName("sock_lines").outputMode("append").start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            query.processAllAvailable()
            if spark.sql("SELECT * FROM sock_lines").count() >= len(lines):
                break
            time.sleep(0.25)
        got = [r.value for r in spark.sql("SELECT value FROM sock_lines").collect()]
        assert sorted(got) == lines
    finally:
        stop.set()
        query.stop()
        server.close()


def test_console_sink_drains_stream(spark, event_stream_dir):
    """K6 — the debug sink (stdout { codec => rubydebug }) actually
    drains the stream: all 100 envelopes flow through the console
    sink's commit path. (The table itself prints from the JVM, whose
    stdout fd predates any per-test capture, so the assertion is on
    the query's committed progress, not captured text.)"""
    stream = sp.file_json_source(spark, event_stream_dir)
    query = sp.console_sink(stream).start()
    query.processAllAvailable()
    query.stop()
    progress = query.recentProgress
    assert sum(p["numInputRows"] for p in progress) == 100
    assert any("console" in str(p["sink"]).lower() for p in progress)


def test_streaming_session_window_matches_batch(spark, sf_small, event_stream_dir):
    """T6 native form — session_window gap sessions maintained in
    streaming state equal the same expression evaluated in batch, and
    agree with first principles: consecutive events of a session are
    never more than the gap apart, and splitting points always are."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    sessions = sp.streaming_session_rollup(
        normalized, "user_id", "ts", "value", gap="2 hours"
    )
    writer = (
        sessions.writeStream.format("memory")
        .queryName("native_sessions").outputMode("complete")
    )
    run_to_completion(writer)
    got = spark.sql(
        "SELECT session_start, session_end, user_id, n_events,"
        " round(session_value, 6) AS session_value FROM native_sessions"
    )

    # the JSON envelope truncates ts to millis — mirror that in batch
    batch = (
        load_table(spark, sf_small, "events").limit(100)
        .withColumn("ts", F.timestamp_millis(F.floor(F.unix_micros("ts") / 1000).cast("long")))
    )
    want = (
        batch.groupBy(F.session_window("ts", "2 hours"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("session_value"))
        .select(F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "user_id", "n_events", "session_value")
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # first principles on one multi-event user: window extent must be
    # [first_ts, last_ts + gap) and event count must match
    sample = got.filter(F.col("n_events") >= 2).orderBy(F.desc("n_events")).first()
    if sample:
        evs = (
            batch.filter((F.col("user_id") == sample.user_id)
                         & (F.col("ts") >= sample.session_start)
                         & (F.col("ts") < sample.session_end))
            .orderBy("ts").collect()
        )
        assert len(evs) == sample.n_events
        assert evs[0].ts == sample.session_start
        import datetime
        assert sample.session_end == evs[-1].ts + datetime.timedelta(hours=2)


def test_dedup_stream_drops_in_stream_duplicates(spark, sf_small, tmp_path):
    """X1 streaming — each event written TWICE into the source (the
    producer-retry / at-least-once shape); dropDuplicatesWithinWatermark
    emits exactly one row per event_id with the full payload intact."""
    events = load_table(spark, sf_small, "events").limit(50)
    env = events.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct("event_id", "ts", "user_id", "event_type", "value")).alias("value"),
    )
    src = str(tmp_path / "dup_in")
    env.union(env).coalesce(1).write.json(src)  # every envelope twice

    stream = sp.file_json_source(spark, src)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    deduped = sp.dedup_stream(normalized, ["event_id"], "ts")
    run_to_completion(
        deduped.writeStream.format("memory").queryName("dedup_out")
    )
    out = spark.sql("SELECT * FROM dedup_out")
    assert out.count() == 50
    assert out.select("event_id").distinct().count() == 50
    # payload survives: spot-check one row against the batch source
    want = {r.event_id: (r.user_id, r.event_type) for r in events.collect()}
    got = {r.event_id: (r.user_id, r.event_type) for r in out.collect()}
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_small, event_stream_dir, tmp_path):
    """T — the watermarked view⋈click attribution join equals the same
    range equi-join computed in batch, and unbounded shapes are refused."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    views = normalized.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    clicks = normalized.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = sp.stream_stream_join(
        views.withColumnRenamed("user_id", "key_uid"),
        clicks.withColumnRenamed("c_user_id", "key_uid"),
        key="key_uid", left_ts="view_ts", right_ts="click_ts",
        max_delay="6 hours", watermark="1 day",
    ).select(
        views["view_id"].alias("view_id"), F.col("click_id"),
        F.col("view_ts"), F.col("click_ts"),
    )
    writer = joined.writeStream.format("memory").queryName("attrib").outputMode("append")
    run_to_completion(writer)
    got = spark.sql("SELECT view_id, click_id FROM attrib")

    batch = load_table(spark, sf_small, "events").limit(100)
    bv = batch.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    bc = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    want = bv.join(
        bc,
        (bv["user_id"] == bc["c_user_id"])
        & (bc["click_ts"] >= bv["view_ts"])
        & (bc["click_ts"] <= bv["view_ts"] + F.expr("INTERVAL 6 hours")),
    ).select("view_id", "click_id")
    assert want.count() > 0, "fixture produced no attributable pairs"
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    with pytest.raises(ValueError):
        sp.stream_stream_join(views, clicks, key="user_id",
                              left_ts="view_ts", right_ts="click_ts", how="fullOuter")


def test_backpressure_caps_rows_per_microbatch(spark, sf_small, tmp_path):
    """T7 — the backpressure knob must actually bound each micro-batch:
    40 rows land as 8 files (5 rows each); with the cap at 2
    files/trigger every micro-batch ingests ≤ 10 rows, it takes ≥ 4
    batches to drain the backlog, and nothing is lost or duplicated.
    (Kafka's maxOffsetsPerTrigger is the same knob on the offset axis —
    kafka_source_options plumbs it; the file double proves the
    per-batch cap behavior.)"""
    events = load_table(spark, sf_small, "events").limit(40)
    envelope = events.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct("event_id", "value")).alias("value"),
    )
    src_dir = str(tmp_path / "bp_in")
    envelope.repartition(8).write.mode("overwrite").json(src_dir)

    stream = sp.file_json_source(spark, src_dir, max_files_per_trigger=2)
    batch_sizes: list[int] = []
    seen_keys: list[str] = []

    def _collect(batch_df, _batch_id):
        rows = batch_df.collect()
        batch_sizes.append(len(rows))
        seen_keys.extend(r.key for r in rows)

    writer = stream.writeStream.foreachBatch(_collect).option(
        "checkpointLocation", str(tmp_path / "bp_ckpt")
    )
    run_to_completion(writer)

    sizes = [s for s in batch_sizes if s > 0]
    assert sum(sizes) == 40
    assert len(seen_keys) == len(set(seen_keys)) == 40
    assert len(sizes) >= 4, sizes  # the backlog drained in bounded bites
    assert max(sizes) <= 10, sizes  # 2 files/trigger × ≤5 rows/file


def _drive_change_alerts(spark, sf_small, tmp_path):
    """Feed 300 ts-ordered events through 3 micro-batches and return
    (streamed alert set, batch-twin alert set)."""
    import os

    from pyspark.sql import Window

    from streaming_data_spark.streaming.stateful import change_alert_stream

    events = (
        load_table(spark, sf_small, "events")
        .select("user_id", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(300)
    )
    pdf = events.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)

    src = tmp_path / "alerts_in"
    src.mkdir()
    for i, chunk in enumerate((pdf.iloc[:100], pdf.iloc[100:200], pdf.iloc[200:])):
        p = src / f"part-{i}.json"
        chunk.assign(ts=chunk["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    schema = (
        StructType()
        .add("user_id", "long")
        .add("event_id", "long")
        .add("ts", "timestamp")
        .add("value", "double")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    # seq_col: same-ts events resolve by event_id, matching the batch
    # twin's lag ordering below (determinism across replays).
    alerts = change_alert_stream(stream, pct=0.5, seq_col="event_id")
    writer = (
        alerts.writeStream.format("memory")
        .queryName("alerts")
        .option("checkpointLocation", str(tmp_path / "ckpt_alerts"))
    )
    run_to_completion(writer)
    got = {
        (r.user_id, r.ts, round(r.value, 4), round(r.prev_value, 4), r.change_pct)
        for r in spark.sql("SELECT * FROM alerts").collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        events.withColumn("prev_value", F.lag("value").over(w))
        .filter(
            F.col("prev_value").isNotNull()
            # zero baselines never alert (kernel contract: relative
            # change against 0 is undefined; engine division -> NULL)
            & (F.col("prev_value") != 0)
            & (F.abs(F.col("value") - F.col("prev_value")) > 0.5 * F.abs("prev_value"))
        )
        .withColumn(
            "change_pct",
            F.round((F.col("value") - F.col("prev_value")) / F.col("prev_value"), 6),
        )
    )
    want = {
        (r.user_id, r.ts, round(r.value, 4), round(r.prev_value, 4), r.change_pct)
        for r in batch.collect()
    }
    return got, want


def test_change_alert_stream_matches_batch(spark, sf_small, tmp_path):
    """T6 — per-key change alerts: state (last seen event) must
    survive micro-batch boundaries, and the streamed alert set must
    equal the batch lag() computation."""
    got, want = _drive_change_alerts(spark, sf_small, tmp_path)
    assert got == want
    assert len(got) > 0  # the threshold actually fires on this data


def test_round6_half_up_matches_spark_round(spark):
    """The stream kernels' rounding helper must give Spark's round(x, 6)
    bit-for-bit. Spark rounds the double's decimal string HALF_UP, so
    these half-way values, whose binary product x * 1e6 falls on the
    other side of .5, are where a float-arithmetic rounding disagrees."""
    from streaming_data_spark.streaming.stateful import _round6_half_up

    xs = [65.4790125, 66.5467925, 67.21619749999999, 64.4549735, 69.91917049999999]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    df.createOrReplaceTempView("round6_probe")
    rounded = spark.sql("SELECT round(x, 6) AS r FROM round6_probe ORDER BY i")
    want = [r.r for r in rounded.collect()]
    assert [_round6_half_up(x) for x in xs] == want


def test_stateful_folds_unpickle_without_the_package(tmp_path):
    """Executor Python workers need not have this package importable
    (a driver may run from any directory), so the folds the batch
    indicators ship must travel by value: a fold pickled here has to
    load and run in an interpreter that cannot import the package."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from streaming_data_spark.streaming.stateful import _advance_ewma

    payload = cloudpickle.dumps(lambda d, c: _advance_ewma(None, d, c, 0.5)[0])
    code = "import pickle, sys; print(pickle.loads(sys.stdin.buffer.read())([1, 2], [2.0, 4.0]))"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=payload, cwd=tmp_path, env=env, capture_output=True, check=True,
    )
    assert out.stdout.decode().strip() == "[(1, 2.0, 2.0), (2, 4.0, 3.0)]"


def test_change_alert_stream_runs_on_string_key(spark, tmp_path):
    """The alert rows carry the input's key column under its own name
    and type: a string key must run to completion and come back as
    strings, not fail the query at the first alert."""
    import pandas as pd

    from streaming_data_spark.streaming.stateful import change_alert_stream

    src = tmp_path / "sym_src"
    src.mkdir()
    pd.DataFrame(
        {
            "sym": ["A"] * 3 + ["B"] * 3,
            "ts": [f"2024-01-0{d}T00:00:00" for d in (1, 2, 3)] * 2,
            "value": [10.0, 20.0, 21.0, 5.0, 5.1, 1.0],
        }
    ).to_json(src / "b1.json", orient="records", lines=True)
    schema = (
        StructType().add("sym", "string").add("ts", "timestamp").add("value", "double")
    )
    alerts = change_alert_stream(
        spark.readStream.schema(schema).json(str(src)), key_col="sym", pct=0.5
    )
    got = {
        (r.sym, r.value, r.prev_value)
        for r in _drain(spark, alerts, "sym_alerts", tmp_path).collect()
    }
    assert got == {("A", 20.0, 10.0), ("B", 1.0, 5.1)}, got


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """T — leftOuter stream-stream join: an impression with no click
    inside [ts, ts+max_delay] must surface exactly once with nulls —
    but only after the watermark PROVES no match can still arrive.
    A far-future flush event advances event time past the horizon."""
    import os

    import pandas as pd

    left_dir = tmp_path / "imp"
    right_dir = tmp_path / "clk"
    left_dir.mkdir()
    right_dir.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    def _write(d, name, rows, cols):
        p = d / name
        pd.DataFrame(rows, columns=cols).assign(
            ts=lambda f: f.ts.dt.strftime("%Y-%m-%dT%H:%M:%S")
        ).to_json(p, orient="records", lines=True)
        os.utime(p, (1_700_000_000, 1_700_000_000))

    # impressions: key 1 (will match), key 2 (never clicked)
    _write(
        left_dir,
        "a.json",
        [(1, base), (2, base), (99, base + pd.Timedelta(days=10))],
        ["k", "ts"],
    )
    # clicks: key 1 inside the 10-minute window; the key-99 flush row
    # pushes BOTH watermarks far past the horizon
    _write(
        right_dir,
        "a.json",
        [(1, base + pd.Timedelta(minutes=5)), (99, base + pd.Timedelta(days=10))],
        ["k", "ts"],
    )

    schema = StructType().add("k", "long").add("ts", "timestamp")
    left = (
        spark.readStream.schema(schema)
        .json(str(left_dir))
        .selectExpr("k", "ts AS imp_ts")
    )
    right = (
        spark.readStream.schema(schema)
        .json(str(right_dir))
        .selectExpr("k", "ts AS clk_ts")
    )
    joined = sp.stream_stream_join(
        left,
        right,
        key="k",
        left_ts="imp_ts",
        right_ts="clk_ts",
        max_delay="10 minutes",
        watermark="1 minute",
        how="leftOuter",
    )
    writer = (
        joined.writeStream.format("memory")
        .queryName("outer_join_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
    )
    q = writer.start()
    # two passes: micro-batch 1 ingests, micro-batch 2 closes outer state
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    # both sides carry a `k` column (condition join, not USING) —
    # read positionally: [left k, imp_ts, right k, clk_ts]
    rows = spark.sql("SELECT * FROM outer_join_out").collect()
    got = {(r[0], r[3] is None) for r in rows}
    assert (1, False) in got, got      # matched pair emitted
    assert (2, True) in got, got       # unmatched left emitted with nulls
    assert (99, False) in got, got     # flush rows match each other


def test_available_now_incremental_restart_processes_only_new_files(
    spark, sf_small, tmp_path
):
    """T5 — trigger(availableNow): drain-everything-then-stop batches
    over a streaming checkpoint. A restart after new files land must
    process ONLY the new files (offsets carry across runs) and append
    without duplicating the first run's output — the engine-native
    form of the reference's fetch-since-max incremental loop."""
    import os

    events = (
        load_table(spark, sf_small, "events")
        .select("event_id", "user_id", "value")
        .limit(60)
        .toPandas()
    )
    src = tmp_path / "incr_src"
    src.mkdir()
    out = str(tmp_path / "incr_out")
    ckpt = str(tmp_path / "incr_ckpt")
    schema = (
        StructType().add("event_id", "long").add("user_id", "long").add("value", "double")
    )

    def _run_once() -> None:
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    p1 = src / "batch1.json"
    events.iloc[:40].to_json(p1, orient="records", lines=True)
    os.utime(p1, (1_700_000_000, 1_700_000_000))
    _run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 40

    p2 = src / "batch2.json"
    events.iloc[40:].to_json(p2, orient="records", lines=True)
    os.utime(p2, (1_700_000_100, 1_700_000_100))
    _run_once()
    back = spark.read.parquet(out)
    assert back.count() == 60  # no reprocessing, no duplicates
    assert back.select("event_id").distinct().count() == 60


def test_metrics_collector_accounts_every_input_row(spark, event_stream_dir, tmp_path):
    """Observability contract: the per-batch metrics the collector
    captures must ACCOUNT for the stream — total numInputRows across
    progress events equals the rows actually delivered to the sink."""
    from streaming_data_spark.streaming.listeners import MetricsCollector

    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        stream = sp.file_json_source(spark, event_stream_dir)
        normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
        writer = (
            normalized.writeStream.format("memory")
            .queryName("metrics_probe")
            .option("checkpointLocation", str(tmp_path / "ckpt_metrics"))
        )
        run_to_completion(writer)
        # listener delivery is async — wait for the progress events
        import time

        delivered = spark.sql("SELECT count(*) AS n FROM metrics_probe").collect()[0].n
        for _ in range(40):
            if sum(r["numInputRows"] for r in collector.records) >= delivered:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(collector)

    s = collector.summary()
    assert s["total_rows"] == delivered, (s, delivered)
    assert s["n_batches"] >= 1
    assert all(r["batchDuration_ms"] >= 0 for r in collector.records)


def test_streaming_windowed_distinct_matches_batch_within_tolerance(
    spark, sf_small, event_stream_dir, tmp_path
):
    """T3 + sketches — streaming per-window distinct users: exact
    distinct state is unbounded, so the streaming tier is per-window
    HLL; its estimates must land within the sketch tolerance of the
    batch exact counts for every window."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    est = sp.windowed_distinct_users(
        normalized, window_duration="6 hours", watermark="2 days", rsd=0.01
    )
    writer = (
        est.writeStream.format("memory")
        .queryName("dau_est")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_dau"))
    )
    run_to_completion(writer)
    got = {
        r.period_start: r.dau_est
        for r in spark.sql("SELECT * FROM dau_est").collect()
    }

    batch = (
        spark.read.json(event_stream_dir)
        .select(F.from_json("value", PAYLOAD_SCHEMA).alias("p"))
        .select("p.*")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.countDistinct("user_id").alias("n"))
        .select(F.col("window.start").alias("bucket_ts"), "n")
    )
    want = {r.bucket_ts: r.n for r in batch.collect()}
    assert set(got) == set(want)
    for b, exact in want.items():
        assert abs(got[b] - exact) <= max(2, 0.05 * exact), (b, got[b], exact)


def test_streaming_windowed_median_rank_error_bounded(
    spark, sf_small, event_stream_dir, tmp_path
):
    """Approximate tier of the exact rolling median (a25): streaming
    per-window percentile_approx must return a TRUE element of each
    window whose rank is within the GK sketch's guarantee
    (n/accuracy, +1 slack for even-count windows where "the median"
    is either middle element) of the true median rank."""
    import bisect

    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    est = sp.streaming_windowed_median(
        normalized, window_duration="6 hours", watermark="2 days"
    )
    writer = (
        est.writeStream.format("memory")
        .queryName("med_est")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_med"))
    )
    run_to_completion(writer)
    got = {
        r.bucket_ts: (r.med_est, r.n)
        for r in spark.sql("SELECT * FROM med_est").collect()
    }

    batch = (
        spark.read.json(event_stream_dir)
        .select(F.from_json("value", PAYLOAD_SCHEMA).alias("p"))
        .select("p.*")
        .groupBy(F.window("ts", "6 hours"))
        .agg(F.sort_array(F.collect_list("value")).alias("vals"))
        .select(F.col("window.start").alias("bucket_ts"), "vals")
    )
    want = {r.bucket_ts: r.vals for r in batch.collect()}
    assert set(got) == set(want)
    for b, vals in want.items():
        est_v, n = got[b]
        assert n == len(vals), (b, n, len(vals))
        lo = bisect.bisect_left(vals, est_v)
        hi = bisect.bisect_right(vals, est_v)
        assert lo < hi, f"estimate {est_v} not an element of window {b}"
        target = (n - 1) / 2
        # closest rank the (possibly duplicated) estimate occupies
        rank_err = max(0.0, max(lo - target, target - (hi - 1)))
        assert rank_err <= 1 + n / 10_000, (b, est_v, rank_err, n)


def test_sma_cross_stream_matches_batch(spark, sf_small, tmp_path):
    """T6 — streaming golden/death-cross alerts: the trailing-window
    state must survive micro-batch boundaries (short=3/long=5 windows
    straddle the batch cuts below), and the streamed warmed rows must
    equal the batch sma_crossover operator row-for-row, signals
    included."""
    import os

    daily = (
        ind.daily_closes(load_table(spark, sf_small, "events"))
        .filter(F.col("user_id") < 40)
        .orderBy("day", "user_id")
    )
    pdf = daily.toPandas().sort_values(["day", "user_id"]).reset_index(drop=True)
    n = len(pdf)
    assert n > 60  # enough days per user that windows straddle batches

    src = tmp_path / "cross_in"
    src.mkdir()
    cuts = (pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :])
    for i, chunk in enumerate(cuts):
        p = src / f"part-{i}.json"
        chunk.assign(day=chunk["day"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    schema = (
        StructType()
        .add("user_id", "long")
        .add("day", "timestamp")
        .add("close", "double")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    crosses = ind.sma_crossover(stream, short=3, long=5)
    writer = (
        crosses.writeStream.format("memory")
        .queryName("sma_cross")
        .option("checkpointLocation", str(tmp_path / "ckpt_cross"))
    )
    run_to_completion(writer)
    got = {
        (r.user_id, r.day, r.close, r.sma_s, r.sma_l, r.signal)
        for r in spark.sql("SELECT * FROM sma_cross").collect()
    }

    want = {
        (r.user_id, r.day, r.close, r.sma_s, r.sma_l, r.signal)
        for r in ind.sma_crossover(daily, short=3, long=5).collect()
    }
    assert got == want
    assert len(got) > 0
    assert any(s in ("GOLDEN", "DEATH") for *_, s in got), "no cross fired"


def test_enrich_stream_matches_batch_and_keeps_unmatched(spark, sf_small, event_stream_dir, tmp_path):
    """Stream-static enrichment: every streamed event must come out
    enriched exactly as the batch broadcast join enriches it, and
    events with no dimension row must pass through with NULLs, never
    drop."""
    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    # dimension covering only HALF the users → real unmatched rows
    dim = (
        load_table(spark, sf_small, "events")
        .select("user_id").distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn("segment", F.concat(F.lit("seg-"), F.col("user_id") % 3))
    )
    enriched = dim_join(
        normalized, dim, on="user_id",
        select=["event_id", "user_id", "segment"], how="left",
    )
    writer = (
        enriched.writeStream.format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
    )
    run_to_completion(writer)
    got = {
        (r.event_id, r.user_id, r.segment)
        for r in spark.sql("SELECT * FROM enriched").collect()
    }

    batch = (
        spark.read.json(event_stream_dir)
        .select(F.from_json("value", PAYLOAD_SCHEMA).alias("p"))
        .select("p.*")
        .join(dim, "user_id", "left")
        .select("event_id", "user_id", "segment")
    )
    want = {(r.event_id, r.user_id, r.segment) for r in batch.collect()}
    assert got == want
    assert any(seg is None for *_, seg in got), "expected unmatched events"
    assert any(seg is not None for *_, seg in got)


def test_sma_cross_state_survives_query_restart(spark, sf_small, tmp_path):
    """T1+T6 — the trailing-window state must survive a FULL query
    stop/restart through the checkpoint, not just micro-batch
    boundaries within one run: batches 1-2 run under one query, the
    process 'restarts' (new query object, same checkpoint), batch 3
    arrives, and the union of emitted rows must still equal the batch
    operator — including crosses whose two sides straddle the
    restart."""
    import os

    daily = (
        ind.daily_closes(load_table(spark, sf_small, "events"))
        .filter(F.col("user_id") < 40)
        .orderBy("day", "user_id")
    )
    pdf = daily.toPandas().sort_values(["day", "user_id"]).reset_index(drop=True)
    n = len(pdf)

    src = tmp_path / "restart_in"
    src.mkdir()

    def _write_file(i, chunk):
        p = src / f"part-{i}.json"
        chunk.assign(day=chunk["day"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    schema = (
        StructType()
        .add("user_id", "long")
        .add("day", "timestamp")
        .add("close", "double")
    )

    out_dir = str(tmp_path / "cross_out")

    def _drive():
        # file sink, NOT memory: the memory sink refuses checkpoint
        # recovery, and recovery is exactly what this test is about
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        crosses = ind.sma_crossover(stream, short=3, long=5)
        writer = (
            crosses.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt_restart"))
            .outputMode("append")
        )
        run_to_completion(writer)
        return {
            (r.user_id, r.day, r.close, r.sma_s, r.sma_l, r.signal)
            for r in spark.read.parquet(out_dir).collect()
        }

    # first life: two thirds of the days
    _write_file(0, pdf.iloc[: n // 3])
    _write_file(1, pdf.iloc[n // 3 : 2 * n // 3])
    first = _drive()

    # restart: a NEW query resumes from the checkpoint; only batch 3 is new
    _write_file(2, pdf.iloc[2 * n // 3 :])
    everything = _drive()

    want = {
        (r.user_id, r.day, r.close, r.sma_s, r.sma_l, r.signal)
        for r in ind.sma_crossover(daily, short=3, long=5).collect()
    }
    assert everything == want
    # life 2 appended ONLY post-restart rows (state carried, nothing
    # replayed), and crosses straddling the restart still fired
    assert first < everything
    assert first and (everything - first), "both lives must emit"


def test_change_alert_state_survives_query_restart(spark, tmp_path):
    """The per-key (ts, seq, value) alert state must survive a full
    query stop/restart through the checkpoint: an alert whose two
    events straddle the restart still fires, and nothing replays."""
    import os

    import pandas as pd

    from streaming_data_spark.streaming.stateful import change_alert_stream

    # unique ts per key: no seq_col needed to keep the twin total-ordered
    rows = pd.DataFrame(
        {
            "user_id": [1] * 4 + [2] * 4,
            "ts": pd.to_datetime(
                [f"2024-01-0{d} 00:00:00" for d in (1, 2, 3, 4)] * 2
            ),
            "value": [10.0, 11.0, 30.0, 5.0, 100.0, 90.0, 10.0, 40.0],
        }
    )
    src = tmp_path / "restart_src"
    src.mkdir()
    out = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    schema = (
        StructType().add("user_id", "long").add("ts", "timestamp").add("value", "double")
    )

    def _run_once() -> None:
        stream = spark.readStream.schema(schema).json(str(src))
        alerts = change_alert_stream(stream, pct=0.5)
        q = (
            alerts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def _dump(chunk, name, mtime):
        p = src / name
        chunk.assign(ts=chunk["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (mtime, mtime))

    _dump(rows.iloc[:4], "b1.json", 1_700_000_000)
    _run_once()
    # second run: the cross-run alert (user 2: 100 -> 10 and 10 -> 40)
    # only fires if the state survived the checkpoint round-trip
    _dump(rows.iloc[4:], "b2.json", 1_700_000_100)
    _run_once()

    got = {
        (r.user_id, r.value, r.prev_value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (1, 30.0, 11.0),  # +172%
        (1, 5.0, 30.0),  # -83%
        (2, 10.0, 90.0),  # -89%, prev carried from run 1's state
        (2, 40.0, 10.0),  # +300%
    }
    assert got == want, got


@pytest.mark.parametrize(
    "op, key_arg",
    [
        pytest.param(stateful.sessionize_stream, "key_col", id="sessionize_stream"),
        pytest.param(stateful.change_alert_stream, "key_col", id="change_alert_stream"),
        # ids: each indicator's stream form, which is the batch function
        pytest.param(ind.sma_crossover, "key", id="sma_cross_stream"),
        pytest.param(ind.bollinger_bands, "key", id="bollinger_stream"),
        pytest.param(ind.ewma, "key", id="ewma_stream"),
        pytest.param(ind.rsi, "key", id="rsi_stream"),
        pytest.param(ind.atr, "key", id="atr_stream"),
        pytest.param(ind.stochastic, "key", id="stochastic_stream"),
        pytest.param(ind.obv, "key", id="obv_stream"),
        pytest.param(ind.holt, "key", id="holt_stream"),
    ],
)
def test_stateful_streams_respect_key_col_name(spark, tmp_path, op, key_arg):
    """A non-default key column must come back under ITS name and
    type — not silently renamed to user_id — on a stream and on a
    batch alike (schema is built from the input; asserted without
    running a job)."""
    schema = (
        StructType()
        .add("symbol", "string")
        .add("ts", "timestamp")
        .add("value", "double")
        .add("day", "timestamp")
        .add("high", "double")
        .add("low", "double")
        .add("close", "double")
        .add("n_trades", "long")
    )
    stream = spark.readStream.schema(schema).json(str(tmp_path))
    for df in (stream, spark.createDataFrame([], schema)):
        out = op(df, **{key_arg: "symbol"})
        assert out.isStreaming == df.isStreaming
        assert out.schema.fieldNames()[0] == "symbol"
        assert out.schema["symbol"].dataType.typeName() == "string"
        assert "user_id" not in out.schema.fieldNames()


def _daily_stream(spark, sf_small, tmp_path, tag):
    """Per-user daily closes split into 3 micro-batch files + batch df."""
    import os

    daily = (
        ind.daily_closes(load_table(spark, sf_small, "events"))
        .filter(F.col("user_id") < 40)
        .orderBy("day", "user_id")
    )
    pdf = daily.toPandas().sort_values(["day", "user_id"]).reset_index(drop=True)
    n = len(pdf)
    src = tmp_path / f"daily_in_{tag}"
    src.mkdir()
    cuts = (pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :])
    for i, chunk in enumerate(cuts):
        p = src / f"part-{i}.json"
        chunk.assign(day=chunk["day"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    schema = (
        StructType()
        .add("user_id", "long")
        .add("day", "timestamp")
        .add("close", "double")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    return stream, daily


def test_bollinger_stream_matches_batch(spark, sf_small, tmp_path):
    """T6 — streaming Bollinger bands: the trailing window straddles
    micro-batch cuts; warmed rows must equal the batch operator
    row-for-row — rounded bands AND classification (the kernel
    repeats Spark's Average + CentralMomentAgg fold order)."""
    stream, daily = _daily_stream(spark, sf_small, tmp_path, "boll")
    bands = ind.bollinger_bands(stream, periods=5, n_std=2.0)
    run_to_completion(
        bands.writeStream.format("memory")
        .queryName("boll_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_boll"))
    )
    got = {
        (r.user_id, r.day, r.close, r.mid, r.upper, r.lower, r.position)
        for r in spark.sql("SELECT * FROM boll_stream").collect()
    }
    want = {
        (r.user_id, r.day, r.close, r.mid, r.upper, r.lower, r.position)
        for r in ind.bollinger_bands(daily, periods=5, n_std=2.0).collect()
    }
    assert got == want
    assert len(got) > 0
    assert {p for *_, p in got} >= {"IN"}, "no classified rows"


def test_ewma_stream_matches_batch(spark, sf_small, tmp_path):
    """T6 — streaming EWMA: the recursion's O(1) state carries across
    micro-batches and the streamed values are BIT-identical to the
    batch mapInPandas fold (same IEEE op order, no rounding)."""
    stream, daily = _daily_stream(spark, sf_small, tmp_path, "ewma")
    smoothed = ind.ewma(stream, alpha=0.2)
    run_to_completion(
        smoothed.writeStream.format("memory")
        .queryName("ewma_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
    )
    got = {
        (r.user_id, r.day, r.close, r.ewma)
        for r in spark.sql("SELECT * FROM ewma_stream").collect()
    }
    want = {
        (r.user_id, r.day, r.close, r.ewma)
        for r in ind.ewma(daily, alpha=0.2).collect()
    }
    assert got == want
    assert len(got) == daily.count()


def _ohlcv_stream(spark, sf_small, tmp_path, tag):
    """Per-user daily OHLCV rows split into 3 micro-batch files."""
    import os

    from streaming_data_spark.operators import aggregates as agg

    daily = (
        agg.ohlcv(load_table(spark, sf_small, "events"),
                  key="user_id", ts="ts", price="value")
        .withColumnRenamed("bucket_ts", "day")
        .select("user_id", "day", "high", "low", "close", "n_trades")
        .filter(F.col("user_id") < 40)
        .orderBy("day", "user_id")
    )
    pdf = daily.toPandas().sort_values(["day", "user_id"]).reset_index(drop=True)
    n = len(pdf)
    src = tmp_path / f"ohlcv_in_{tag}"
    src.mkdir()
    cuts = (pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :])
    for i, chunk in enumerate(cuts):
        p = src / f"part-{i}.json"
        chunk.assign(day=chunk["day"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")).to_json(
            p, orient="records", lines=True
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    schema = (
        StructType()
        .add("user_id", "long")
        .add("day", "timestamp")
        .add("high", "double")
        .add("low", "double")
        .add("close", "double")
        .add("n_trades", "long")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    return stream, daily


def _drain(spark, stream_df, name, tmp_path):
    run_to_completion(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
    )
    return spark.sql(f"SELECT * FROM {name}")


def test_rsi_stream_matches_batch(spark, sf_small, tmp_path):
    """T6 — streaming Wilder RSI: the seed/recursion state crosses
    micro-batch cuts; streamed rows equal the batch fold exactly."""
    stream, _ = _daily_stream(spark, sf_small, tmp_path, "rsi")
    got = {
        tuple(r)
        for r in _drain(spark, ind.rsi(stream, periods=5), "rsi_s", tmp_path).collect()
    }
    daily = (
        ind.daily_closes(load_table(spark, sf_small, "events"))
        .filter(F.col("user_id") < 40)
    )
    want = {tuple(r) for r in ind.rsi(daily, periods=5).collect()}
    assert got == want and len(got) > 0


def test_atr_stream_matches_batch(spark, sf_small, tmp_path):
    stream, daily = _ohlcv_stream(spark, sf_small, tmp_path, "atr")
    got = {
        tuple(r)
        for r in _drain(spark, ind.atr(stream, periods=5), "atr_s", tmp_path).collect()
    }
    want = {tuple(r) for r in ind.atr(daily, periods=5).collect()}
    assert got == want and len(got) > 0


def test_stochastic_stream_matches_batch(spark, sf_small, tmp_path):
    stream, daily = _ohlcv_stream(spark, sf_small, tmp_path, "stoch")
    got = {
        tuple(r)
        for r in _drain(
            spark, ind.stochastic(stream, periods=5, smooth=3), "stoch_s", tmp_path
        ).collect()
    }
    want = {tuple(r) for r in ind.stochastic(daily, periods=5, smooth=3).collect()}
    assert got == want and len(got) > 0


def test_obv_stream_matches_batch(spark, sf_small, tmp_path):
    """Integer-exact: no rounding contract anywhere — the streamed
    running totals must equal the batch cumulative sums exactly."""
    stream, daily = _ohlcv_stream(spark, sf_small, tmp_path, "obv")
    got = {
        tuple(r) for r in _drain(spark, ind.obv(stream), "obv_s", tmp_path).collect()
    }
    want = {tuple(r) for r in ind.obv(daily).collect()}
    assert got == want and len(got) > 0


def test_chi2_drift_stream_matches_independent_batch(
    spark, sf_small, event_stream_dir
):
    """The streaming GOF chi-square (one windowed aggregation with
    conditional per-category sums) equals an INDEPENDENT batch
    formulation (window x category cell grid + joins) on the same 100
    events — different plan, different summation order, same numbers
    after the shared round-6 contract. One category is held out of the
    reference mix to exercise the n_unexpected channel."""
    batch = load_table(spark, sf_small, "events").limit(100)
    total = batch.count()
    mix_rows = batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    ref = {r["event_type"]: r["c"] / total for r in mix_rows.collect()}
    held_out = sorted(ref)[-1]
    ref_mix = {k: v for k, v in ref.items() if k != held_out}

    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    drifted = sp.chi2_drift_stream(
        normalized, ref_mix, window_duration="1 minute"
    )
    writer = (
        drifted.writeStream.format("memory")
        .queryName("chi2w")
        .outputMode("complete")
    )
    run_to_completion(writer)
    got = spark.sql(
        "SELECT period_start, period_end, n, n_unexpected, chi2 FROM chi2w"
    )

    # independent batch: explicit cell grid so zero-count cells still
    # contribute their expected mass, F.sum over cells (different
    # accumulation order than the stream's fixed category chain)
    w = F.window("ts", "1 minute").alias("w")
    cells = batch.groupBy(w, "event_type").agg(F.count(F.lit(1)).alias("c"))
    nper = batch.groupBy(w).agg(F.count(F.lit(1)).alias("n"))
    reftab = spark.createDataFrame(
        [(k, float(v)) for k, v in ref_mix.items()],
        "event_type string, p double",
    )
    grid = nper.select("w", "n").crossJoin(reftab)
    joined = (
        grid.join(cells, ["w", "event_type"], "left")
        .fillna({"c": 0})
        .withColumn("e", F.col("n").cast("double") * F.col("p"))
        .withColumn(
            "term",
            (F.col("c") - F.col("e")) * (F.col("c") - F.col("e")) / F.col("e"),
        )
    )
    want = (
        joined.groupBy("w", "n")
        .agg(
            F.round(F.sum("term"), 6).alias("chi2"),
            (F.first("n") - F.sum("c")).alias("n_unexpected"),
        )
        .select(
            F.col("w.start").alias("period_start"),
            F.col("w.end").alias("period_end"),
            "n",
            "n_unexpected",
            "chi2",
        )
    )
    assert got.count() == want.count() and got.count() > 0
    assert got.exceptAll(want).count() == 0
    # the held-out category must actually appear somewhere
    assert got.agg(F.sum("n_unexpected")).collect()[0][0] > 0


def test_psi_drift_stream_matches_independent_batch(
    spark, sf_small, event_stream_dir
):
    """The streaming windowed PSI (fixed reference bins as conditional
    sums in one aggregation) equals an independent batch formulation
    (explicit bin-cell grid + joins) on the same 100 events."""
    batch = load_table(spark, sf_small, "events").limit(100)
    # reference histogram profiled from the batch itself: 4 bins over
    # the observed range, Laplace-smoothed so every prop is positive
    lo, hi = batch.agg(F.min("value"), F.max("value")).collect()[0]
    edges = [lo + (hi - lo) * i / 4.0 for i in range(5)]
    total = batch.count()
    raw = []
    for i in range(4):
        if i == 3:
            c = batch.filter(F.col("value") >= edges[3]).count()
        else:
            c = batch.filter(
                (F.col("value") >= edges[i]) & (F.col("value") < edges[i + 1])
            ).count()
        raw.append(c)
    ref_props = [(c + 0.5) / (total + 2.0) for c in raw]

    stream = sp.file_json_source(spark, event_stream_dir)
    normalized = sp.normalize_stream(stream, PAYLOAD_SCHEMA)
    scored = sp.psi_drift_stream(
        normalized, edges, ref_props, window_duration="1 minute"
    )
    writer = (
        scored.writeStream.format("memory")
        .queryName("psiw")
        .outputMode("complete")
    )
    run_to_completion(writer)
    got = spark.sql("SELECT period_start, period_end, n, psi FROM psiw")

    # independent batch path: explicit window x bin cells
    w = F.window("ts", "1 minute").alias("w")
    bin_col = (
        F.when(F.col("value") < edges[1], 0)
        .when(F.col("value") < edges[2], 1)
        .when(F.col("value") < edges[3], 2)
        .otherwise(3)
    )
    cells = (
        batch.withColumn("bin", bin_col)
        .groupBy(w, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nper = batch.groupBy(w).agg(F.count(F.lit(1)).alias("n"))
    reftab = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(ref_props)], "bin int, q double"
    )
    grid = nper.select("w", "n").crossJoin(reftab)
    joined = (
        grid.join(cells, ["w", "bin"], "left")
        .fillna({"c": 0})
        .withColumn(
            "p", (F.col("c") + 0.5) / (F.col("n").cast("double") + 0.5 * 4)
        )
        .withColumn("term", (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")))
    )
    want = (
        joined.groupBy("w", "n")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
        .select(
            F.col("w.start").alias("period_start"),
            F.col("w.end").alias("period_end"),
            "n",
            "psi",
        )
    )
    assert got.count() == want.count() and got.count() > 0
    assert got.exceptAll(want).count() == 0


def test_psi_drift_stream_rejects_single_bin_and_drops_nulls(spark):
    """ADVICE r6: (a) a single reference bin is degenerate (the
    first-/last-bin clamp branches contradict and p = q = 1) — reject
    it loudly; (b) NULL values must not count into n while entering
    no bin."""
    with pytest.raises(ValueError, match="at least 2"):
        sp.psi_drift_stream(
            spark.readStream.format("rate").load(), [0.0, 1.0], [1.0]
        )
    # NULL handling: 4 non-null + 2 null values in one window — n
    # must be 4 and psi must equal the 4-value batch computation.
    rows = [(i, "2024-01-01 00:00:%02d" % i, v)
            for i, v in enumerate([1.0, 2.0, 7.0, 8.0, None, None])]
    df = spark.createDataFrame(rows, "event_id long, ts_s string, value double")
    path_df = df.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            F.lit(1).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"), "value",
        )).alias("value"),
    )
    import tempfile
    d = tempfile.mkdtemp(prefix="psi_null_")
    path_df.coalesce(1).write.mode("overwrite").json(d)
    stream = sp.normalize_stream(sp.file_json_source(spark, d), PAYLOAD_SCHEMA)
    scored = sp.psi_drift_stream(
        stream, [0.0, 5.0, 10.0], [0.5, 0.5], window_duration="1 minute"
    )
    run_to_completion(
        scored.writeStream.format("memory").queryName("psinull")
        .outputMode("complete")
    )
    out = spark.sql("SELECT n, psi FROM psinull").collect()
    assert len(out) == 1 and out[0]["n"] == 4
    # 2 values per bin, alpha=0.5: p = 2.5/5 = 0.5 = q in both bins
    assert out[0]["psi"] == 0.0


def test_topk_trending_stream_matches_independent_batch(spark, tmp_path):
    """r6 verdict item 2: the streaming per-window top-k (negated-count
    struct sort inside ONE windowed aggregation) equals an independent
    batch ranking (groupBy cells + zero grid + row_number) on crafted
    data that exercises every edge the verdict called out:

    - a COUNT TIE (a and b both x3 in window 1) — broken category-asc;
    - an out-of-vocabulary category (oov x2) — lands in n_other, never
      in top;
    - a zero-count vocabulary entry (d in window 1, a/b/c in window 2)
      — still rankable, zero-count entries fill trailing slots;
    - k > |vocabulary| (k=10 run) — slice returns all |vocab| entries.
    """
    vocab = ["a", "b", "c", "d"]
    w1 = ["a", "a", "a", "b", "b", "b", "c", "oov", "oov"]
    w2 = ["d", "oov"]
    rows = [
        (i, "2024-01-01 00:00:%02d" % i, t) for i, t in enumerate(w1)
    ] + [
        (100 + i, "2024-01-01 00:01:%02d" % i, t) for i, t in enumerate(w2)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts_s string, event_type string")
    envelope = df.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            F.lit(1).cast("long").alias("user_id"), "event_type",
            F.lit(1.0).alias("value"),
        )).alias("value"),
    )
    path = str(tmp_path / "topk_in")
    envelope.coalesce(1).write.mode("overwrite").json(path)

    batch = df.select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )
    for k in (3, 10):
        stream = sp.normalize_stream(
            sp.file_json_source(spark, path), PAYLOAD_SCHEMA
        )
        trended = sp.topk_trending_stream(
            stream, vocab, k=k, window_duration="1 minute"
        )
        run_to_completion(
            trended.writeStream.format("memory").queryName(f"topk{k}")
            .outputMode("complete")
        )
        got = {
            r["period_start"]: r
            for r in spark.sql(f"SELECT * FROM topk{k}").collect()
        }

        # independent batch ranking: cell counts joined onto the full
        # (window x vocab) zero grid, row_number (cnt desc, cat asc)
        wcol = F.window("ts", "1 minute").alias("w")
        cells = (
            batch.filter(F.col("event_type").isin(vocab))
            .groupBy(wcol, "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        nper = batch.groupBy(wcol).agg(F.count(F.lit(1)).alias("n"))
        grid = nper.select("w", "n").crossJoin(
            spark.createDataFrame([(v,) for v in vocab], "event_type string")
        )
        ranked = (
            grid.join(cells, ["w", "event_type"], "left")
            .fillna({"cnt": 0})
            .withColumn(
                "rk",
                F.row_number().over(
                    SparkWindow.partitionBy("w").orderBy(
                        F.desc("cnt"), F.asc("event_type")
                    )
                ),
            )
            .filter(F.col("rk") <= k)
        )
        want_rows = ranked.collect()
        want: dict = {}
        for r in want_rows:
            e = want.setdefault(
                r["w"]["start"],
                {"n": r["n"], "top": []},
            )
            e["top"].append((r["event_type"], r["cnt"]))
        assert set(got) == set(want)
        for start, g in got.items():
            exp = want[start]
            assert g["n"] == exp["n"]
            in_vocab = sum(c for _, c in exp["top"]) if k >= len(vocab) else None
            assert [(s["category"], s["cnt"]) for s in g["top"]] == sorted(
                exp["top"], key=lambda t: (-t[1], t[0])
            )[:k]
            if in_vocab is not None:  # k covers the whole vocab
                assert g["n_other"] == g["n"] - in_vocab
        # the oov events are exactly the n_other mass
        w1_start = sorted(got)[0]
        assert got[w1_start]["n_other"] == 2
        assert len(got[w1_start]["top"]) == min(k, len(vocab))


def test_holt_stream_matches_batch(spark, sf_small, tmp_path):
    """T6 — streaming Holt: the double-state (level, trend) recursion
    carries across micro-batches and the streamed values are
    BIT-identical to the batch mapInPandas fold (same IEEE op order,
    no rounding anywhere)."""
    stream, daily = _daily_stream(spark, sf_small, tmp_path, "holt")
    smoothed = ind.holt(stream, alpha=0.2, beta=0.1)
    run_to_completion(
        smoothed.writeStream.format("memory")
        .queryName("holt_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_holt"))
    )
    got = {
        (r.user_id, r.day, r.close, r.level, r.trend, r.fc_next)
        for r in spark.sql("SELECT * FROM holt_stream").collect()
    }
    want = {
        (r.user_id, r.day, r.close, r.level, r.trend, r.fc_next)
        for r in ind.holt(daily, alpha=0.2, beta=0.1).collect()
    }
    assert got == want
    assert len(got) == daily.count()


def test_dau_stream_matches_batch_approx_distinct(
    spark, sf_small, event_stream_dir
):
    """The streaming windowed DAU equals the batch
    approx_count_distinct on the same 100 events — HLL++ register
    maxima are insertion-order-independent, so the sketch estimate is
    deterministic for a given input set regardless of micro-batch or
    partition layout."""
    stream = sp.normalize_stream(
        sp.file_json_source(spark, event_stream_dir), PAYLOAD_SCHEMA
    )
    dau = sp.windowed_distinct_users(stream, window_duration="1 minute")
    run_to_completion(
        dau.writeStream.format("memory").queryName("dauw")
        .outputMode("complete")
    )
    got = spark.sql(
        "SELECT period_start, period_end, n_events, dau_est FROM dauw"
    )
    batch = load_table(spark, sf_small, "events").limit(100)
    want = (
        batch.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", 0.02).alias("dau_est"),
        )
        .select(
            F.col("w.start").alias("period_start"),
            F.col("w.end").alias("period_end"),
            "n_events",
            "dau_est",
        )
    )
    assert got.count() == want.count() and got.count() > 0
    assert got.exceptAll(want).count() == 0
    # and the estimate is sane vs the exact batch distinct
    exact = dict(
        batch.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count_distinct("user_id").alias("d"))
        .select(F.col("w.start").alias("s"), "d").collect()
    )
    for r in got.collect():
        assert abs(r["dau_est"] - exact[r["period_start"]]) <= max(
            2, 0.1 * exact[r["period_start"]]
        )
