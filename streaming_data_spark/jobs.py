"""Reference pipeline replays (SURVEY.md §3) — each top-level entry
point of the reference, recomposed from engine parts. A user of the
reference runs these instead of their Airflow DAGs; the data path is
one Catalyst plan per stage instead of SQL strings + psycopg2 loops.

§3.1  upbit_data_pipeline      → market_price_pipeline()
§3.3  collect_upbit_daily_candles → incremental_candles_job()
      log_to_csv / monitor_errors  → failed_rows_job()
(§3.2's streaming path lives in streaming.pipeline.)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from streaming_data_spark.operators.joins import dim_join
from streaming_data_spark.schemas import UPBIT_MARKETS
from streaming_data_spark.sinks.writers import _counted, gated_write, incremental_load, write_csv, write_if_absent
from streaming_data_spark.sources.rest import FetchFn, rest_paginated, rest_per_key, rest_snapshot
from streaming_data_spark.streaming.listeners import AlertFn, run_job_with_alerts


def market_price_pipeline(
    spark: SparkSession,
    fetch: FetchFn,
    ticker_fetch_factory: Callable[[], FetchFn],
    price_schema: StructType,
    warehouse: str,
    markets_url: str = "https://api.upbit.com/v1/market/all",
    ticker_url_template: str = "https://api.upbit.com/v1/ticker?markets={key}",
    alert: AlertFn = lambda payload: None,
) -> DataFrame:
    """§3.1 — fetch markets → store (idempotent) → per-key price fetch
    → store (idempotent) → join + project → materialize combined table
    → success/failure alert. Mirrors upbit_data_pipeline.py:239-271's
    four tasks; tasks 1-3's relational work is one lazy plan each.
    """

    def _run() -> DataFrame:
        markets = rest_snapshot(spark, fetch, markets_url, UPBIT_MARKETS)
        write_if_absent(markets, f"{warehouse}/upbit_markets", keys=["market"])
        markets_stored = spark.read.parquet(f"{warehouse}/upbit_markets")

        prices = rest_per_key(
            markets_stored, "market", ticker_url_template,
            ticker_fetch_factory, price_schema,
        )
        write_if_absent(prices, f"{warehouse}/upbit_prices", keys=["market"])
        prices_stored = spark.read.parquet(f"{warehouse}/upbit_prices")

        combined = dim_join(
            prices_stored, markets_stored, on="market",
            select=["market", "korean_name", "english_name", "trade_price", "trade_volume"],
        )
        combined.write.mode("overwrite").parquet(f"{warehouse}/upbit_combined_data")
        return spark.read.parquet(f"{warehouse}/upbit_combined_data")

    return run_job_with_alerts(_run, alert, name="market_price_pipeline")


def incremental_candles_job(
    spark: SparkSession,
    markets: Sequence[str],
    candle_fetch: FetchFn,
    candle_schema: StructType,
    warehouse: str,
    url_template: str = "https://api.upbit.com/v1/candles/days?market={market}&to={cursor}&count={count}",
    page_size: int = 200,
    alert: AlertFn = lambda payload: None,
) -> int:
    """§3.3 — per market: watermark lookup → paginated backward fetch →
    union → composite-key idempotent upsert. The watermark probe and
    upsert run through incremental_load (A2 + K2 composed)."""

    def _run() -> int:
        total = 0
        for market in markets:
            page_url = url_template.replace("{market}", market)
            fresh = rest_paginated(
                spark, candle_fetch, page_url, candle_schema,
                cursor_field="candle_date_time_kst", page_size=page_size,
                sleep=lambda s: None,
            )
            total += incremental_load(
                fresh,
                f"{warehouse}/daily_candles",
                keys=["market", "candle_date_time_kst"],
                watermark_col="candle_date_time_kst",
            )
        return total

    return run_job_with_alerts(_run, alert, name="incremental_candles_job")


def failed_rows_job(
    log_df: DataFrame,
    out_csv: str,
    event_col: str = "event",
    failed_value: str = "FAILED",
    alert: AlertFn = lambda payload: None,
) -> bool:
    """log_to_csv.py:21-35 + monitor_errors.py:22-43 — filter failed
    rows, write CSV only when any exist (K10 gate), alert either way."""
    failed = log_df.filter(F.col(event_col) == failed_value)
    wrote = gated_write(failed, write_csv, out_csv)
    alert({"event": "failed_rows_check", "wrote": wrote})
    return wrote


def corpus_curation_job(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    min_quality: float = 0.25,
    jaccard_threshold: float = 0.8,
    decon_ngram: int = 5,
    chunk_tokens: int = 64,
    overlap: int = 8,
    max_tokens: int = 128,
    test_pct: int = 10,
    lm_band: tuple[float, float] | None = None,
    out_dir: str | None = None,
) -> dict[str, object]:
    """[EXT] The full training-corpus curation path as ONE engine job —
    the executable form of the toolchain the registry proves piecewise
    (README "Training-corpus toolchain"; each stage is an already-
    oracle-verified operator, composed):

      quality gate → exact dedup (canonical-form fingerprint) →
      near-dup clustering (prefix-filtered Jaccard → star-contraction
      components, cluster-min survivor) → benchmark decontamination
      (broadcast n-gram probe) → [optional ``lm_band``: CCNet-style
      corpus-LM perplexity band filter] → context-window chunking →
      greedy sequence packing → deterministic train/test split.

    Returns {"clean_docs", "chunks", "packed", "summary"}; ``summary``
    is [(stage, rows_surviving)], each count observed on a
    materialization the job runs anyway (an ``Observation`` on the
    stage checkpoint, or on the ``packed`` write for ``chunks``), so
    no stage pays a count job of its own. Only ``chunks`` without an
    ``out_dir`` is counted by a job: nothing else runs the chunking.
    ``out_dir`` additionally materializes the packed sequences and the
    clean corpus as parquet.

    Scale shape: every stage is the registry operator unchanged — no
    stage introduces a new shuffle pattern beyond what its operator
    already proved at x10.
    """
    from streaming_data_spark.operators import dedup as ddp
    from streaming_data_spark.operators import text as txt
    from streaming_data_spark.operators.chunking import chunk_documents, pack_sequences
    from streaming_data_spark.queries_ext8 import split_column

    # the quality score is computed once: the input and quality-gate
    # counts both read it, on the exact-dedup checkpoint's pass
    seen = Observation()
    gated = (
        docs.withColumn("_q", txt.quality_score("text"))
        .observe(
            seen,
            F.count(F.lit(1)).alias("input"),
            F.count_if(F.col("_q") >= min_quality).alias("quality_gate"),
        )
        .filter(F.col("_q") >= min_quality)
        .drop("_q")
    )

    # exact dedup on the canonical-form fingerprint, min-id survivor
    fp = gated.withColumn("_fp", txt.fingerprint("text"))
    exact_survivors, exact_n = _counted(
        fp.withColumn(
            "_keep",
            F.row_number().over(
                Window.partitionBy("_fp").orderBy(F.col("doc_id").asc())
            ) == 1,
        ).filter("_keep").drop("_fp", "_keep")
    )
    # checkpoint between stages: each later stage count/write would
    # otherwise re-execute everything upstream (the prefix-join and
    # the CC loop are the expensive passes — they must run ONCE)
    exact_survivors = exact_survivors.localCheckpoint(eager=True)
    summary: list[tuple[str, int]] = [
        ("input", seen.get["input"]),
        ("quality_gate", seen.get["quality_gate"]),
        ("exact_dedup", exact_n.get["n"]),
    ]

    # near-dup clustering: lossless prefix-filtered pairs → star CC;
    # survivor = cluster minimum; unpaired docs survive untouched
    pairs = ddp.ngram_jaccard_pairs_prefix(
        exact_survivors, "doc_id", "text", n=3, threshold=jaccard_threshold
    )
    clusters = ddp.connected_components_star(pairs, "id_a", "id_b")
    dropped = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    near_survivors, near_n = _counted(
        exact_survivors.join(dropped, "doc_id", "left_anti")
    )
    near_survivors = near_survivors.localCheckpoint(eager=True)
    summary.append(("near_dedup", near_n.get["n"]))

    # benchmark decontamination: any shared n-gram with the held-out
    # set disqualifies the training doc; benchmark side broadcasts
    if benchmark is not None:
        bench_sh = ddp.shingles(benchmark, "doc_id", "text", n=decon_ngram).select(
            "shingle"
        ).distinct()
        train_sh = ddp.shingles(near_survivors, "doc_id", "text", n=decon_ngram)
        contaminated = (
            train_sh.join(F.broadcast(bench_sh), "shingle")
            .select("doc_id")
            .distinct()
        )
        clean, clean_n = _counted(
            near_survivors.join(contaminated, "doc_id", "left_anti")
        )
        clean = clean.localCheckpoint(eager=True)
        summary.append(("decontaminated", clean_n.get["n"]))
    else:
        clean = near_survivors
        summary.append(("decontaminated", near_n.get["n"]))

    # optional CCNet-style LM band filter (Wenzek et al. 2020): score
    # every surviving doc under the corpus's own bigram LM and keep
    # only the [lo, hi] quantile band — very improbable docs are
    # gibberish, suspiciously probable ones are boilerplate. Runs
    # AFTER dedup/decon so duplicates don't distort the LM. Exact
    # percentile bounds here (two scalar aggregates); at 100 TB the
    # documented swap is approx_percentile, same as every quantile
    # tier in this repo.
    if lm_band is not None:
        lo, hi = lm_band
        # checkpoint the scores: the bounds aggregate AND the drop
        # filter both consume them, and the 3-shuffle LM pipeline must
        # run once, not once per consumer (same rule as the stage
        # checkpoints above)
        scores = txt.lm_scores(clean, "doc_id", "text").localCheckpoint(eager=True)
        lo_v, hi_v = scores.agg(
            F.expr(f"percentile(avg_logp, {float(lo)})"),
            F.expr(f"percentile(avg_logp, {float(hi)})"),
        ).collect()[0]
        # anti-join on the OUT-OF-BAND docs (not semi-join on in-band):
        # a doc with < 2 tokens has no score row, and "can't score"
        # must not mean "silently dropped" — unscorable docs pass
        # through to the later stages' length-based handling. The two
        # band bounds are driver scalars (the bounded-pull pattern),
        # so the filter is two literal comparisons, no cross join.
        drop = scores.filter(
            (F.col("avg_logp") < F.lit(lo_v)) | (F.col("avg_logp") > F.lit(hi_v))
        ).select("doc_id")
        clean, band_n = _counted(clean.join(drop, "doc_id", "left_anti"))
        clean = clean.localCheckpoint(eager=True)
        summary.append(("lm_band", band_n.get["n"]))

    chunks = chunk_documents(
        clean, chunk_tokens=chunk_tokens, overlap=overlap
    )

    def pack(ch: DataFrame) -> DataFrame:
        return pack_sequences(ch, max_tokens=max_tokens).withColumn(
            "split", split_column("doc_id", test_pct)
        )

    packed = pack(chunks)
    if out_dir:
        clean.write.mode("overwrite").parquet(f"{out_dir}/clean_docs")
        # the write observes its own input's chunks; the returned
        # frames stay unobserved, so a caller's later plans never
        # carry this Observation
        observed_chunks, chunks_n = _counted(chunks)
        pack(observed_chunks).write.mode("overwrite").parquet(f"{out_dir}/packed")
        summary.append(("chunks", chunks_n.get["n"]))
    else:
        summary.append(("chunks", chunks.count()))

    return {
        "clean_docs": clean,
        "chunks": chunks,
        "packed": packed,
        "summary": summary,
    }


def daily_indicator_report_job(
    spark: SparkSession,
    events: DataFrame,
    warehouse: str,
    short: int = 5,
    long: int = 20,
    bb_periods: int = 20,
    alpha: float = 0.2,
    alert: AlertFn = lambda payload: None,
) -> dict:
    """§3.3 downstream — the indicator panel a dashboard layer (the
    reference charts stored candles in Kibana) derives from daily
    closes, materialized as ONE job: closes → Bollinger bands + EWMA +
    SMA-crossover panel (all riding the same user_id day grid) →
    gated crossover-signal table (written only when a cross fired,
    the K10 pattern) → per-user drawdown summary.

    Every stage reuses the oracle-verified wave-30 operators; the
    panel joins are (user_id, day) equi-joins between day-grid frames
    (dimension-bounded — keys × calendar days — regardless of fact
    volume). Returns the per-table row counts for job observability,
    like the curation job's stage counts.
    """
    from streaming_data_spark.operators import indicators as ind

    def _run() -> dict:
        # ONE fact-sized pass: the daily grid is cached for the four
        # indicator branches + the gated probe (uncached, each branch
        # would re-aggregate the events fact).
        daily = ind.daily_closes(events).persist()
        try:
            bands = ind.bollinger_bands(daily, periods=bb_periods)
            smooth = ind.ewma(daily, alpha=alpha)
            cross = ind.sma_crossover(daily, short=short, long=long)

            # Panel base = the FULL day grid (smooth covers every day),
            # NOT the warmed band days: a crossover can fire during
            # Bollinger warmup whenever bb_periods > long + 1, and a
            # bands-based panel would silently drop it. Band columns
            # are NULL on unwarmed days instead.
            panel = (
                smooth.join(
                    bands.select(
                        "user_id", "day", "mid", "upper", "lower", "position"
                    ),
                    ["user_id", "day"],
                    "left",
                ).join(
                    cross.select("user_id", "day", "sma_s", "sma_l", "signal"),
                    ["user_id", "day"],
                    "left",
                )
            )
            panel.write.mode("overwrite").parquet(f"{warehouse}/indicator_panel")

            signals = cross.filter(F.col("signal").isNotNull())
            wrote_signals = gated_write(
                signals,
                lambda df, p: df.write.mode("overwrite").parquet(p),
                f"{warehouse}/cross_signals",
            )

            ind.max_drawdown(daily).write.mode("overwrite").parquet(
                f"{warehouse}/drawdown"
            )
        finally:
            daily.unpersist()

        # observability counts come from the WRITTEN tables — the
        # cheap read-back, not a recomputation of the indicator DAG
        return {
            "panel_rows": spark.read.parquet(f"{warehouse}/indicator_panel").count(),
            "signal_rows": (
                spark.read.parquet(f"{warehouse}/cross_signals").count()
                if wrote_signals
                else 0
            ),
            "users": spark.read.parquet(f"{warehouse}/drawdown").count(),
            "wrote_signals": wrote_signals,
        }

    return run_job_with_alerts(_run, alert, name="daily_indicator_report_job")


def drift_report_job(
    spark: SparkSession,
    events: DataFrame,
    warehouse: str,
    split_ts: str,
    psi_threshold: float = 0.2,
    js_threshold: float = 0.1,
    cusum_h: float = 5.0,
    alert: AlertFn = lambda payload: None,
) -> dict:
    """monitor_errors.py upgraded — the reference greps task logs for
    failure strings on a schedule and mails the hits; this job instead
    tests whether the CURRENT ingest period's data still looks like the
    reference period's and alerts on the statistics (the wave-41/42
    drift family composed as ONE engine job):

      value-distribution PSI + hour-profile JS divergence per
      event_type (one drift_report table), two-sided CUSUM over each
      type's daily-mean series (one changepoint table), then a K10
      gate: alert() fires once per drifting type with the offending
      scores.

    Scale shape: two map-side-combinable fact passes (binned cells +
    hourly cells, both via operators/drift.py's broadcast-edge
    pattern) plus the dimension-sized daily fold; the alert loop
    collects only the DRIFTING types (≤ |types| rows — the bounded
    driver-pull pattern). Returns stage counts for observability like
    the other jobs.
    """
    from streaming_data_spark.operators import drift

    def _run() -> dict:
        ev = events.withColumn(
            "is_a", (F.col("ts") < split_ts).cast("int")
        )
        psi_df = drift.psi(
            ev, key="event_type", value_col="value", split_col="is_a"
        )
        js_df = drift.js_divergence(
            ev.withColumn("hr", F.hour("ts")),
            key="event_type", bucket_col="hr", split_col="is_a",
        )
        report = psi_df.join(
            js_df.select("event_type", "js"), "event_type"
        )
        report.write.mode("overwrite").parquet(f"{warehouse}/drift_report")

        daily = ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(F.round(F.avg("value"), 6).alias("x"))
        cu = drift.cusum(daily, key="event_type", order_col="day", x_col="x")
        cu.write.mode("overwrite").parquet(f"{warehouse}/drift_cusum")

        stored = spark.read.parquet(f"{warehouse}/drift_report")
        peaks = (
            spark.read.parquet(f"{warehouse}/drift_cusum")
            .groupBy("event_type")
            .agg(F.max(F.greatest("s_pos", "s_neg")).alias("cusum_peak"))
        )
        # bounded driver pull: one row per DRIFTING type, |types| max
        drifting = (
            stored.join(peaks, "event_type", "left")
            .filter(
                (F.col("psi") > psi_threshold)
                | (F.col("js") > js_threshold)
                | (F.col("cusum_peak") > cusum_h)
            )
            .collect()
        )
        for row in drifting:
            alert(
                {
                    "job": "drift_report_job",
                    "event_type": row["event_type"],
                    "psi": row["psi"],
                    "js": row["js"],
                    "cusum_peak": row["cusum_peak"],
                }
            )
        return {
            "types": stored.count(),
            "cusum_rows": spark.read.parquet(f"{warehouse}/drift_cusum").count(),
            "drifting": len(drifting),
        }

    return run_job_with_alerts(_run, alert, name="drift_report_job")
