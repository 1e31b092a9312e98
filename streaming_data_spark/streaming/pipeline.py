"""Structured Streaming pipelines (SURVEY.md §2.9, §3.2).

The reference's streaming engine is Logstash: Kafka source → JSON
parse/flatten/cast/drop → Elasticsearch date-partitioned index
(docker-elk/logstash/pipeline/*.conf). Here that whole event path is
ONE declarative streaming query — micro-batch planned by Catalyst's
IncrementalExecution, row-at-a-time Logstash filters become columnar
codegen'd batches:

    kafka_json_source(...)            # S4: readStream + from_json
      |> logstash_normalize(...)      # P8-P12+F14 composed (transforms.py)
      |> stream_to_partitioned_sink   # K5: date-partitioned files
                                       # (T1: checkpointed exactly-once)

Delivery semantics (T1): the reference is at-least-once (consumer
group + acks=1). Structured Streaming checkpoints give exactly-once
into idempotent sinks — strictly stronger; replays are absorbed by
the K1/K2 idempotent writer in foreachBatch.

Watermarks (T4): the reference never drops late data (Logstash indexes
whatever arrives). Windowed aggs here take an explicit generous
watermark and the sink stays idempotent, so observable behavior
matches while state stays bounded.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import DataType, StructType

from streaming_data_spark.operators.transforms import logstash_normalize

# --------------------------------------------------------------------------
# Sources (S4/S5 + file-based test double)
# --------------------------------------------------------------------------

def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact reader option set for the Kafka source — kept as a
    pure function so the options contract is frozen by a unit test
    (mirrors kafka/test.sh:36-50's bootstrap/topic/offset wiring) even
    though no broker or spark-sql-kafka jar exists in this container."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def project_kafka_wire(raw: DataFrame) -> DataFrame:
    """Kafka wire record (key/value binary, topic, partition, offset,
    timestamp, timestampType) → the engine's (key string, value string,
    topic, partition, offset, kafka_ts) contract. Pure projection —
    unit-testable on a static DataFrame with the wire schema."""
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic", "partition", "offset",
        F.col("timestamp").alias("kafka_ts"),
    )


def kafka_json_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S4 — Kafka topic source (the Logstash kafka input,
    container-logs.conf:1-8). Returns (key string, value string,
    topic, partition, offset, kafka_ts); JSON stays a string until
    ``logstash_normalize`` applies a schema.

    Checkpointing replaces the consumer group's offset tracking (T5);
    ``max_offsets_per_trigger`` is the backpressure knob (T7 — the
    reference hand-rolls sleeps at 5 req/s).

    Requires the spark-sql-kafka package on the classpath at deploy
    time; tests freeze the option contract + wire projection and use
    ``file_json_source`` for flow-level behavior.
    """
    opts = kafka_source_options(
        bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
    )
    raw = spark.readStream.format("kafka").options(**opts).load()
    return project_kafka_wire(raw)


def file_json_source(
    spark: SparkSession,
    path: str,
    wrapper_schema: StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based stream source standing in for Kafka in tests (same
    (key, value) contract). Each line: a JSON event envelope.

    ``max_files_per_trigger`` is the file-source form of the T7
    backpressure knob (Kafka's maxOffsetsPerTrigger,
    kafka_source_options): it caps how much of the backlog one
    micro-batch ingests, so a restart after downtime drains the queue
    in bounded bites instead of one giant batch (the reference's rate
    caps: api_rapid/upbit_api_candle_info.py:12-13)."""
    schema = wrapper_schema or StructType().add("key", "string").add("value", "string")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def socket_source(spark: SparkSession, host: str = "localhost", port: int = 50000) -> DataFrame:
    """S5 — raw TCP source (logstash.conf:6-8 tcp input; dev only)."""
    return spark.readStream.format("socket").option("host", host).option("port", port).load()


# --------------------------------------------------------------------------
# The Logstash-equivalent transform (P8–P12 + F14, composed)
# --------------------------------------------------------------------------

def normalize_stream(
    stream: DataFrame,
    payload_schema: StructType,
    casts: Mapping[str, DataType | str] | None = None,
    required: str | None = None,
    value_col: str = "value",
) -> DataFrame:
    """The instagram-profiles.conf:10-59 filter chain on a streaming
    DataFrame: parse value JSON → drop empty → flatten → cast →
    empty-string→null. Stateless — no watermark needed."""
    return logstash_normalize(stream, value_col, payload_schema, casts=casts, required=required)


def dead_letter_split(
    stream: DataFrame,
    payload_schema: StructType,
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """T8 — split a raw JSON stream into (parsed-good, dead-letter).

    The reference routes failures to CSV/S3 + Slack (log_to_csv.py:28-34,
    monitor_errors.py:29-42); here unparseable payloads keep their raw
    value and flow to an error sink instead of vanishing.
    """
    # PERMISSIVE from_json yields an all-null struct for corrupt input,
    # so detection goes through an explicit corrupt-record column that
    # captures the raw payload (the dead letter keeps its evidence).
    schema_with_corrupt = StructType(list(payload_schema.fields)).add("_corrupt", "string")
    parsed = stream.withColumn(
        "_parsed",
        F.from_json(
            F.col(value_col),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    is_dead = F.col("_parsed").isNull() | F.col("_parsed._corrupt").isNotNull()
    good = (
        parsed.filter(~is_dead)
        .select(*[c for c in stream.columns], F.col("_parsed.*"))
        .drop(value_col, "_corrupt")
    )
    dead = parsed.filter(is_dead).drop("_parsed")
    return good, dead


# --------------------------------------------------------------------------
# Stateful / windowed (A3/A8 streaming forms, T3/T4)
# --------------------------------------------------------------------------

def windowed_rollup(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    window_duration: str = "1 minute",
    watermark: str = "1 day",
) -> DataFrame:
    """A8 streaming — tumbling-window metric rollup (the 10 s
    metricbeat cadence). Generous watermark per T4: the reference
    tolerates any lateness; we bound state without visibly dropping
    on-time data."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("avg_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.col("window.start").alias("period_start"),
            F.col("window.end").alias("period_end"),
            *keys, "n", "avg_value", "max_value",
        )
    )


def windowed_distinct_users(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark: str = "1 day",
    rsd: float = 0.02,
) -> DataFrame:
    """Streaming active-user counts per event-time window — the
    "streaming DAU" metric, the continuous twin of a53's DAU leg.
    Exact COUNT(DISTINCT) is unsupported in streaming aggregations
    (state would hold every id per window); ``approx_count_distinct``
    keeps a bounded HLL++ sketch, O(1/rsd^2), per window cell instead,
    made by the engine automatically. The sketch is DETERMINISTIC for a
    given input set (register maxima are order-independent), so the
    stream equals the batch ``approx_count_distinct`` on the same rows.
    Emits (period_start, period_end, n_events, dau_est)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct(user_col, rsd).alias("dau_est"),
        )
        .select(
            F.col("window.start").alias("period_start"),
            F.col("window.end").alias("period_end"),
            "n_events",
            "dau_est",
        )
    )


def _windowed_counts(
    stream: DataFrame,
    conds: Sequence[Column],
    stats: Callable[[list[Column]], list[Column]],
    ts_col: str,
    window_duration: str,
    watermark: str,
) -> DataFrame:
    """The known-categories scaffold of the drift and trending
    monitors: ONE watermarked tumbling-window aggregation of the row
    count ``n`` plus one conditional count per condition in ``conds``,
    emitted as (period_start, period_end, n, *stats(counts)) where
    ``counts`` are the per-condition count columns. Counting per
    category with groupBy(window, category) → groupBy(window) would be
    two streaming aggregations (unsupported); with the conditions known
    up front it is one native, codegen'd, watermark-bounded
    aggregation."""
    counts = [F.col(f"_c{i}") for i in range(len(conds))]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.when(c, 1).otherwise(0)).alias(f"_c{i}")
                for i, c in enumerate(conds)
            ],
        )
        .select(
            F.col("window.start").alias("period_start"),
            F.col("window.end").alias("period_end"),
            "n",
            *stats(counts),
        )
    )


def chi2_drift_stream(
    stream: DataFrame,
    ref_mix: Mapping[str, float],
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming categorical-drift monitor — the continuous twin of the
    wave-41/42 batch drift family (operators/drift.py): per event-time
    window, the chi-square GOODNESS-OF-FIT statistic of the window's
    ``type_col`` mix against a fixed reference distribution
    ``ref_mix`` (category → probability, e.g. profiled from last
    month's batch table). Feed the result to the K9 alert listeners;
    this replaces the reference's log-grep monitor loop
    (airflow/dags/monitor_errors.py) with a statistic on the data.

    Spark-first shape: the reference categories are KNOWN up front, so
    the per-type counts are conditional sums inside ONE windowed
    aggregation (``_windowed_counts``) — no stateful-API fallback.
    Categories outside ``ref_mix`` (expected 0 under the
    reference) are reported in ``n_unexpected`` rather than folded
    into chi2 (their expected count is 0 ⇒ the statistic is
    undefined; any occurrence is its own alert).

    Emits (period_start, period_end, n, n_unexpected, chi2) with
    chi2 = Σ_t (c_t − n·p_t)²/(n·p_t) over the ref categories
    (zero-count cells included — they contribute n·p_t), rounded to
    6; dof = |ref|−1 is the caller's constant.
    """
    cats = sorted(ref_mix)

    def stats(counts):
        n = F.col("n").cast("double")
        chi2 = None
        for c, cnt in zip(cats, counts):
            e = n * F.lit(float(ref_mix[c]))
            term = (cnt - e) * (cnt - e) / e
            chi2 = term if chi2 is None else chi2 + term
        return [
            (F.col("n") - sum(counts)).alias("n_unexpected"),
            F.round(chi2, 6).alias("chi2"),
        ]

    conds = [F.col(type_col) == c for c in cats]
    return _windowed_counts(
        stream, conds, stats, ts_col, window_duration, watermark
    )


def psi_drift_stream(
    stream: DataFrame,
    bin_edges: Sequence[float],
    ref_props: Sequence[float],
    ts_col: str = "ts",
    value_col: str = "value",
    window_duration: str = "1 hour",
    watermark: str = "1 day",
    alpha: float = 0.5,
) -> DataFrame:
    """Streaming numeric-drift monitor — the continuous twin of
    ``operators/drift.psi``: per event-time window, the Population
    Stability Index of ``value_col`` against a reference histogram
    profiled offline (``bin_edges`` = the n+1 ascending edges,
    ``ref_props`` = the n reference bin proportions).

    Same single-aggregation scaffold as ``chi2_drift_stream``: the
    bins are fixed up front, so per-bin counts are conditional sums
    inside ONE windowed aggregation — no second groupBy, no stateful
    API.
    Values outside [edges[0], edges[-1]] clamp into the end bins
    (the standard serving-time PSI convention — production data that
    escapes the training range must still score, loudly).

    Laplace smoothing with ``alpha`` on the window side
    (p = (c + α)/(n + α·k)) keeps empty window bins finite; the
    reference side must be strictly positive already (smooth the
    profile offline — a reference bin at exactly 0 makes ln(p/q)
    undefined and is a data-modeling error, not a runtime case).

    At least TWO reference bins are required: with one bin the clamp
    convention degenerates (p = q = 1, PSI identically 0 — and the
    first-bin/last-bin clamp branches would contradict each other).
    NULL values are dropped before the aggregation — a NULL matches
    no bin condition, so counting it into n would silently deflate
    every smoothed proportion.

    Emits (period_start, period_end, n, psi) per window, rounded 6;
    n counts the non-NULL values scored.
    """
    k = len(ref_props)
    if k < 2:
        raise ValueError("PSI needs at least 2 reference bins "
                         "(a single bin scores p = q = 1 identically)")
    if len(bin_edges) != k + 1:
        raise ValueError("need len(bin_edges) == len(ref_props) + 1")
    if any(p <= 0 for p in ref_props):
        raise ValueError("ref_props must be strictly positive "
                         "(smooth the reference profile offline)")
    a = float(alpha)
    stream = stream.filter(F.col(value_col).isNotNull())
    v = F.col(value_col)
    conds = (
        [v < bin_edges[1]]
        + [(v >= bin_edges[i]) & (v < bin_edges[i + 1]) for i in range(1, k - 1)]
        + [v >= bin_edges[k - 1]]
    )

    def stats(counts):
        n = F.col("n").cast("double")
        psi = None
        for cnt, q_i in zip(counts, ref_props):
            p = (cnt + a) / (n + a * k)
            q = F.lit(float(q_i))
            term = (p - q) * F.log(p / q)
            psi = term if psi is None else psi + term
        return [F.round(psi, 6).alias("psi")]

    return _windowed_counts(
        stream, conds, stats, ts_col, window_duration, watermark
    )


def topk_trending_stream(
    stream: DataFrame,
    categories: Sequence[str],
    k: int = 3,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming per-window top-k trending categories — the "what is
    spiking right now" monitor next to the drift family.

    Spark-first shape (the chi2/psi known-categories scaffold,
    ``_windowed_counts``): top-k-per-group normally needs an
    aggregation FOLLOWED by a ranking window — two streaming
    aggregations, unsupported. With the category vocabulary known up
    front, per-category counts are conditional sums inside ONE
    windowed aggregation, and the ranking
    collapses to a pure per-row expression: sort the (−count,
    category) struct array (count desc, category asc — total order),
    slice k. Native, codegen'd, watermark-bounded state; categories
    outside the vocabulary land in ``n_other`` (their own alert, as
    in chi2_drift_stream).

    Emits (period_start, period_end, n, n_other, top) with ``top`` an
    array of (category, cnt) structs, rank order = array order.
    """
    cats = sorted(categories)

    def stats(counts):
        entries = F.array(
            *[
                F.struct((-cnt).alias("neg"), F.lit(c).alias("category"))
                for c, cnt in zip(cats, counts)
            ]
        )
        top = F.transform(
            F.slice(F.sort_array(entries), 1, k),
            lambda s: F.struct(
                s["category"].alias("category"), (-s["neg"]).alias("cnt")
            ),
        )
        return [(F.col("n") - sum(counts)).alias("n_other"), top.alias("top")]

    conds = [F.col(type_col) == c for c in cats]
    return _windowed_counts(
        stream, conds, stats, ts_col, window_duration, watermark
    )


def streaming_windowed_median(
    stream: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    keys: Sequence[str] = (),
    window_duration: str = "1 day",
    watermark: str = "1 day",
    accuracy: int = 10_000,
) -> DataFrame:
    """Streaming per-window median — the approximate tier of the exact
    rolling median (queries_ext28.q_a25_rolling_median). An EXACT
    windowed median in streaming would hold every value per window cell
    in state (unbounded, like exact distinct); ``percentile_approx``
    keeps one bounded Greenwald-Khanna sketch per cell instead — the
    same bounded-sketch trade as ``windowed_distinct_users``. The
    estimate is a TRUE
    element of the window with rank error ≤ n/accuracy, so at the
    default accuracy any window under 10k values is rank-exact; the
    pytest tier bounds the rank error against the batch exact median.
    State per cell is O(accuracy·log n) — independent of window row
    count, which is what survives 100 TB event volume."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), *keys)
        .agg(
            F.percentile_approx(value_col, 0.5, accuracy).alias("med_est"),
            F.count(value_col).alias("n"),
        )
        .select(F.col("window.start").alias("bucket_ts"), *keys, "med_est", "n")
    )


def streaming_ohlcv(
    stream: DataFrame,
    key: str,
    ts_col: str,
    price_col: str,
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """A3 streaming — OHLCV candles over event-time windows (the shape
    behind daily_candles, maintained incrementally)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), key)
        .agg(
            F.min_by(F.col(price_col), F.col(ts_col)).alias("open"),
            F.max(price_col).alias("high"),
            F.min(price_col).alias("low"),
            F.max_by(F.col(price_col), F.col(ts_col)).alias("close"),
            F.sum(price_col).alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.col("window.start").alias("bucket_ts"), key,
            "open", "high", "low", "close", "volume", "n_trades",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "1 day",
) -> DataFrame:
    """X1/K1 streaming — exact dedup INSIDE the stream via
    ``dropDuplicatesWithinWatermark``: the first record per key wins,
    replays and producer retries within the watermark are dropped
    before any sink sees them. Complements the idempotent sink (T1):
    the sink guards cross-run replays, this guards in-stream dups.

    Scale: state is one entry per key seen within the watermark
    horizon (bounded — unlike plain ``dropDuplicates`` on a stream,
    whose state grows forever); one shuffle on the dedup keys."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_session_rollup(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """T6 — gap-based sessionization as a NATIVE ``session_window``
    aggregation: entirely JVM-side, no Python state function. The
    complement to ``stateful.sessionize_stream`` (which exists for
    semantics ``session_window`` can't express, e.g. emitting the
    moment a later event proves closure): when the need is plain
    per-session rollups, this form keeps the whole pipeline in
    Tungsten and lets Spark merge session state.

    Semantics note: ``session_window.end`` is last-event-time + gap
    (window extent), not last event time. Identical in batch, so the
    stream==batch equality test uses the same expression on a static
    frame.

    Scale: one shuffle on the session key; state per key is the open
    window set, bounded by the watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("session_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key, "n_events", "session_value",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """T — watermarked stream-stream equi-join with an event-time
    range bound: a right-side event matches a left-side event with the
    same ``key`` when it lands in ``[left_ts, left_ts + max_delay]``
    (the attribution/enrichment shape: impressions ⋈ clicks,
    order-created ⋈ order-shipped).

    Both inputs need a watermark plus the time bound — that is what
    lets Spark EXPIRE join state: a buffered left row can be dropped
    once the right watermark passes ``left_ts + max_delay``. Without
    the range condition the state grows forever, which is why this
    helper refuses to build an unbounded join rather than defaulting
    one side to "keep everything".

    Scale: both streams shuffle once on ``key`` (co-partitioned state
    store); per-key state is bounded by watermark + max_delay horizon.
    ``how`` may be "inner" or "leftOuter" (outer emits unmatched left
    rows only after the watermark proves no match can arrive).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"stream-stream join supports inner/leftOuter, got {how!r}")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)


# --------------------------------------------------------------------------
# Sinks (K4/K5/K6, T9)
# --------------------------------------------------------------------------

def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint: str
) -> dict[str, str]:
    """Writer option contract for the Kafka producer sink — pure, so
    the wiring is frozen by a unit test without a broker."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def to_kafka_payload(df: DataFrame, key_col: str) -> DataFrame:
    """Row → Kafka producer record (key string, value JSON string) —
    the send_to_kafka.py:10-16 envelope as a pure projection."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[c for c in df.columns])).alias("value"),
    )


def kafka_json_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str,
    checkpoint: str,
) -> DataStreamWriter:
    """K4 — keyed JSON producer (send_to_kafka.py:10-16): key column
    preserves per-key partition ordering (T2); the producer batches
    properly (the reference's per-record flush was an anti-pattern,
    §4.1 'Batching')."""
    payload = to_kafka_payload(df, key_col)
    return payload.writeStream.format("kafka").options(
        **kafka_sink_options(bootstrap_servers, topic, checkpoint)
    )


def stream_to_partitioned_sink(
    df: DataFrame,
    path: str,
    ts_col: str,
    checkpoint: str,
    fmt: str = "parquet",
) -> DataStreamWriter:
    """K5 — the date-partitioned index sink (container-logs.conf:21-26):
    ``container-logs-%{+YYYY.MM.dd}`` becomes partitionBy(event_date)."""
    return (
        df.withColumn("event_date", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        .writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_date")
    )


def console_sink(df: DataFrame) -> DataStreamWriter:
    """K6 — debug sink (stdout { codec => rubydebug })."""
    return df.writeStream.format("console").option("truncate", "false")


def fanout_sink(
    df: DataFrame,
    sinks: Sequence[Callable[[DataFrame, int], None]],
    checkpoint: str,
) -> DataStreamWriter:
    """T9 — one stream → N sinks (Logstash outputs ES + stdout,
    container-logs.conf:20-31) via foreachBatch; the batch is persisted
    once so each sink reads it without recomputation."""

    def _write_all(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            for sink in sinks:
                sink(batch, epoch_id)
        finally:
            batch.unpersist()

    return df.writeStream.foreachBatch(_write_all).option("checkpointLocation", checkpoint)


def idempotent_stream_sink(
    df: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint: str,
) -> DataStreamWriter:
    """T1 — exactly-once-observable sink: foreachBatch + the K1/K2
    idempotent writer, so replayed micro-batches add zero duplicates."""
    from streaming_data_spark.sinks.writers import write_if_absent

    def _write(batch: DataFrame, epoch_id: int) -> None:
        write_if_absent(batch, target_path, keys)

    return df.writeStream.foreachBatch(_write).option("checkpointLocation", checkpoint)
