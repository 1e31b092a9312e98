"""End-to-end replays of the reference's pipelines with hermetic fake
fetchers (SURVEY §3): result contents, idempotency under re-run, and
incremental semantics."""

from __future__ import annotations

import pytest
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from streaming_data_spark import jobs

PRICE_SCHEMA = StructType([
    StructField("market", StringType(), False),
    StructField("trade_price", DoubleType(), True),
    StructField("trade_volume", DoubleType(), True),
])

CANDLE_SCHEMA = StructType([
    StructField("market", StringType(), False),
    StructField("candle_date_time_kst", StringType(), False),
    StructField("trade_price", DoubleType(), True),
])

MARKETS = [
    {"market": "KRW-BTC", "korean_name": "비트코인", "english_name": "Bitcoin"},
    {"market": "KRW-ETH", "korean_name": "이더리움", "english_name": "Ethereum"},
]


def market_fetch(url):
    return MARKETS


def _make_ticker_factory():
    # defined as a local closure so cloudpickle serializes it by VALUE
    # (module-level test functions pickle by reference, and executors
    # can't import the tests package)
    def factory():
        return lambda url: [{
            "market": url.rsplit("=", 1)[1],
            "trade_price": 100.0,
            "trade_volume": 5.0,
        }]

    return factory


def test_market_price_pipeline_end_to_end(spark, tmp_path):
    ticker_factory = _make_ticker_factory()
    alerts: list[dict] = []
    wh = str(tmp_path / "wh")
    combined = jobs.market_price_pipeline(
        spark, market_fetch, ticker_factory, PRICE_SCHEMA, wh, alert=alerts.append,
    )
    rows = {r.market: r for r in combined.collect()}
    assert set(rows) == {"KRW-BTC", "KRW-ETH"}
    assert rows["KRW-BTC"].korean_name == "비트코인"
    assert rows["KRW-BTC"].trade_price == 100.0
    assert alerts[-1]["event"] == "job_succeeded"

    # re-run: idempotent stores, same combined output
    combined2 = jobs.market_price_pipeline(
        spark, market_fetch, ticker_factory, PRICE_SCHEMA, wh, alert=alerts.append,
    )
    assert combined2.count() == 2
    assert spark.read.parquet(f"{wh}/upbit_markets").count() == 2


def test_market_price_pipeline_failure_alert(spark, tmp_path):
    alerts: list[dict] = []

    def broken_fetch(url):
        raise RuntimeError("api down")

    with pytest.raises(RuntimeError):
        jobs.market_price_pipeline(
            spark, broken_fetch, _make_ticker_factory(), PRICE_SCHEMA,
            str(tmp_path / "wh2"), alert=alerts.append,
        )
    assert alerts[-1]["event"] == "job_failed"
    assert "api down" in alerts[-1]["error"]


def _candle_fetch_through(last_day: int):
    """Fake candle API: newest-first pages over days 1..last_day."""

    def fetch(url):
        cursor = url.split("to=")[1].split("&")[0]
        count = int(url.split("count=")[1])
        newest = last_day if cursor == "" else int(cursor.rsplit("-", 1)[1]) - 1
        days = [d for d in range(newest, max(0, newest - count), -1) if d >= 1]
        return [
            {"market": "KRW-BTC", "candle_date_time_kst": f"2024-01-{d:02d}", "trade_price": float(d)}
            for d in days
        ]

    return fetch


def test_incremental_candles_two_runs(spark, tmp_path):
    wh = str(tmp_path / "wh")
    n1 = jobs.incremental_candles_job(
        spark, ["KRW-BTC"], _candle_fetch_through(5), CANDLE_SCHEMA, wh, page_size=3,
    )
    assert n1 == 5
    # five more days appear; only they load
    n2 = jobs.incremental_candles_job(
        spark, ["KRW-BTC"], _candle_fetch_through(10), CANDLE_SCHEMA, wh, page_size=3,
    )
    assert n2 == 5
    stored = spark.read.parquet(f"{wh}/daily_candles")
    assert stored.count() == 10
    assert stored.select("candle_date_time_kst").distinct().count() == 10


def test_failed_rows_job(spark, tmp_path):
    alerts: list[dict] = []
    log = spark.createDataFrame(
        [("t1", "SUCCESS"), ("t2", "FAILED"), ("t3", "FAILED")], ["task", "event"]
    )
    wrote = jobs.failed_rows_job(log, str(tmp_path / "failed"), alert=alerts.append)
    assert wrote is True
    out = spark.read.option("header", "true").csv(str(tmp_path / "failed"))
    assert out.count() == 2
    clean = log.filter("event = 'SUCCESS'")
    assert jobs.failed_rows_job(clean, str(tmp_path / "none"), alert=alerts.append) is False


def test_corpus_curation_job_end_to_end(spark, sf_small):
    """The full curation chain as one job: per-stage counts monotone
    non-increasing, no near-dup pair survives among the clean docs, no
    clean doc shares a decon n-gram with the benchmark, every clean
    doc is chunked, packing respects the token budget, and the split
    tiles the corpus."""
    from pyspark.sql import functions as F

    from streaming_data_spark.jobs import corpus_curation_job
    from streaming_data_spark.operators import dedup as ddp
    from streaming_data_spark.schemas import load_table

    docs = load_table(spark, sf_small, "documents")
    bench = docs.filter(F.pmod("doc_id", F.lit(20)) == 0)
    train_in = docs.filter(F.pmod("doc_id", F.lit(20)) != 0)

    out = corpus_curation_job(spark, train_in, benchmark=bench, max_tokens=128)
    stages = dict(out["summary"])
    order = ["input", "quality_gate", "exact_dedup", "near_dedup", "decontaminated"]
    counts = [stages[s] for s in order]
    assert counts == sorted(counts, reverse=True), stages
    assert stages["decontaminated"] > 0, stages

    clean = out["clean_docs"]
    # near-dup-free: re-running pair detection on the survivors is empty
    assert ddp.ngram_jaccard_pairs_prefix(
        clean, "doc_id", "text", n=3, threshold=0.8
    ).isEmpty()
    # decontaminated: no shared 5-gram with the benchmark remains
    bench_sh = ddp.shingles(bench, "doc_id", "text", n=5).select("shingle").distinct()
    assert ddp.shingles(clean, "doc_id", "text", n=5).join(
        bench_sh, "shingle"
    ).isEmpty()

    chunks, packed = out["chunks"], out["packed"]
    assert chunks.select("doc_id").distinct().count() == stages["decontaminated"]
    over = packed.groupBy("bucket", "seq_id").agg(
        F.max("seq_fill").alias("fill"), F.count(F.lit(1)).alias("n_chunks")
    )
    # a sequence may exceed the budget only as a single oversize chunk
    assert over.filter((F.col("fill") > 128) & (F.col("n_chunks") > 1)).isEmpty()
    splits = {r["split"] for r in packed.select("split").distinct().collect()}
    assert splits == {"train", "test"}


def test_daily_indicator_report_job_end_to_end(spark, sf_small, tmp_path):
    """The indicator-panel job must materialize all three tables with
    consistent cardinalities: the panel covers every warmed band day,
    its non-null signals equal the gated signal table, drawdown has
    one row per user — and a rerun overwrites idempotently."""
    from pyspark.sql import functions as F

    from streaming_data_spark.jobs import daily_indicator_report_job
    from streaming_data_spark.schemas import load_table

    events = load_table(spark, sf_small, "events")
    wh = str(tmp_path / "wh")
    alerts = []
    stats = daily_indicator_report_job(
        spark, events, wh, short=3, long=5, bb_periods=5,
        alert=alerts.append,
    )
    assert stats["panel_rows"] > 0
    assert stats["users"] == events.select("user_id").distinct().count()
    assert alerts and alerts[-1]["event"] == "job_succeeded"

    panel = spark.read.parquet(f"{wh}/indicator_panel")
    in_panel_signals = panel.filter(F.col("signal").isNotNull()).count()
    if stats["wrote_signals"]:
        signals = spark.read.parquet(f"{wh}/cross_signals")
        assert signals.count() == stats["signal_rows"] > 0
        # every stored signal day is a warmed panel day with that signal
        assert in_panel_signals == signals.count()
    else:
        assert in_panel_signals == 0

    rerun = daily_indicator_report_job(
        spark, events, wh, short=3, long=5, bb_periods=5,
    )
    assert rerun == stats


def test_daily_indicator_report_job_keeps_warmup_signals(spark, sf_small, tmp_path):
    """With bb_periods > long + 1, crossovers fire on days where the
    Bollinger window is still warming; the panel (full day grid) must
    carry every one of them — the bands-based panel of the first cut
    silently dropped exactly these."""
    from pyspark.sql import functions as F

    from streaming_data_spark.jobs import daily_indicator_report_job
    from streaming_data_spark.schemas import load_table

    events = load_table(spark, sf_small, "events")
    wh = str(tmp_path / "wh_warmup")
    stats = daily_indicator_report_job(
        spark, events, wh, short=3, long=5, bb_periods=20,
    )
    assert stats["wrote_signals"], "test needs at least one cross"

    panel = spark.read.parquet(f"{wh}/indicator_panel")
    signals = spark.read.parquet(f"{wh}/cross_signals")
    missing = signals.select("user_id", "day", "signal").exceptAll(
        panel.filter(F.col("signal").isNotNull()).select(
            "user_id", "day", "signal"
        )
    )
    assert missing.count() == 0
    # and at least one signal sits on an unwarmed-band day, proving
    # the scenario actually exercises the warmup window
    warmup_signals = (
        panel.filter(F.col("signal").isNotNull() & F.col("mid").isNull()).count()
    )
    assert warmup_signals > 0


def test_corpus_curation_lm_band_drops_only_out_of_band_docs(spark, sf_small):
    """The optional CCNet-style LM stage must drop exactly the docs
    whose corpus-LM score falls outside the [lo, hi] quantile band of
    the post-decontamination corpus — nothing else, and docs without a
    score (< 2 tokens) pass through rather than vanish."""
    from pyspark.sql import functions as F

    from streaming_data_spark.jobs import corpus_curation_job
    from streaming_data_spark.operators import text as txt
    from streaming_data_spark.schemas import load_table

    docs = load_table(spark, sf_small, "documents")
    base = corpus_curation_job(spark, docs)
    banded = corpus_curation_job(spark, docs, lm_band=(0.1, 0.9))
    s0, s1 = dict(base["summary"]), dict(banded["summary"])
    assert "lm_band" not in s0  # stage only reports when enabled
    assert 0 < s1["lm_band"] < s1["decontaminated"]

    # recompute the band over the SAME pre-band corpus with the same
    # engine expressions, so the expected drop set is bit-identical
    scores = txt.lm_scores(base["clean_docs"])
    lo_v, hi_v = (
        scores.agg(
            F.expr("percentile(avg_logp, 0.1)"),
            F.expr("percentile(avg_logp, 0.9)"),
        ).collect()[0]
    )
    expected_drop = {
        r.doc_id
        for r in scores.filter(
            (F.col("avg_logp") < lo_v) | (F.col("avg_logp") > hi_v)
        ).collect()
    }
    base_ids = {r.doc_id for r in base["clean_docs"].select("doc_id").collect()}
    banded_ids = {r.doc_id for r in banded["clean_docs"].select("doc_id").collect()}
    assert banded_ids == base_ids - expected_drop


def _counted_stages(docs, benchmark=None, lm_band=None, min_quality=0.25):
    """The curation summary recomputed stage by stage with a plain
    ``count()`` per stage frame, through independent references
    (unfiltered pair join, union-find components on the driver) and
    the job's other default parameters."""
    from pyspark.sql import functions as F

    from conftest import uf_components

    from streaming_data_spark.operators import dedup as ddp
    from streaming_data_spark.operators import text as txt
    from streaming_data_spark.operators.chunking import chunk_documents

    gated = docs.filter(txt.quality_score("text") >= min_quality)
    first = gated.groupBy(txt.fingerprint("text").alias("_fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    exact = gated.join(first.select("doc_id"), "doc_id", "left_semi")
    pairs = ddp.ngram_jaccard_pairs(exact, "doc_id", "text", n=3, threshold=0.8)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    comps = uf_components(edges, {x for e in edges for x in e})
    near = exact.filter(
        ~F.col("doc_id").isin([n for n, root in comps if n != root])
    )
    clean = near
    if benchmark is not None:
        bench_sh = ddp.shingles(benchmark, "doc_id", "text", n=5).select("shingle")
        hit = ddp.shingles(near, "doc_id", "text", n=5).join(bench_sh, "shingle")
        clean = near.join(hit.select("doc_id"), "doc_id", "left_anti")
    stages = [
        ("input", docs), ("quality_gate", gated), ("exact_dedup", exact),
        ("near_dedup", near), ("decontaminated", clean),
    ]
    if lm_band is not None:
        scores = txt.lm_scores(clean)
        lo_v, hi_v = scores.agg(
            F.expr(f"percentile(avg_logp, {lm_band[0]})"),
            F.expr(f"percentile(avg_logp, {lm_band[1]})"),
        ).collect()[0]
        drop = scores.filter((F.col("avg_logp") < lo_v) | (F.col("avg_logp") > hi_v))
        clean = clean.join(drop.select("doc_id"), "doc_id", "left_anti")
        stages.append(("lm_band", clean))
    stages.append(("chunks", chunk_documents(clean)))
    return [(name, frame.count()) for name, frame in stages]


@pytest.mark.parametrize("config", ["benchmark_and_out_dir", "neither", "lm_band"])
def test_corpus_curation_summary_equals_stage_counts(spark, sf_small, tmp_path, config):
    """Each observed stage count equals a plain count() of that
    stage's frame: with a benchmark and an ``out_dir`` (``chunks``
    observed on the packed write), with neither (``chunks`` counted),
    and with the LM band stage. The second uses a quality bar that
    drops documents, so the input and quality-gate counts differ."""
    from pyspark.sql import functions as F

    from streaming_data_spark.jobs import corpus_curation_job
    from streaming_data_spark.schemas import load_table

    docs = load_table(spark, sf_small, "documents")
    bench = docs.filter(F.pmod("doc_id", F.lit(20)) == 0)
    train_in = docs.filter(F.pmod("doc_id", F.lit(20)) != 0)
    if config == "benchmark_and_out_dir":
        out = corpus_curation_job(spark, train_in, benchmark=bench, out_dir=str(tmp_path))
        expected = _counted_stages(train_in, benchmark=bench)
        assert spark.read.parquet(f"{tmp_path}/packed").count() == dict(expected)["chunks"]
    elif config == "neither":
        out = corpus_curation_job(spark, docs, min_quality=0.4)
        expected = _counted_stages(docs, min_quality=0.4)
        assert dict(expected)["quality_gate"] < dict(expected)["input"]
    else:
        out = corpus_curation_job(spark, docs, lm_band=(0.1, 0.9))
        expected = _counted_stages(docs, lm_band=(0.1, 0.9))
    assert out["summary"] == expected


# -- Spark job budgets at sf0.001 ---------------------------------------------
# Each budget has headroom for AQE's +-1 stage-job flap; the parent of the
# observed-count / driver-finish change ran 56-57, 31 and 32 jobs, and
# x13_dup_clusters on label propagation ran about 30.


def test_corpus_curation_job_budget(spark, sf_small, tmp_path, jobs_of):
    """Stage counts ride on the checkpoints and the packed write, and
    the small near-dup graph is solved on the driver."""
    from pyspark.sql import functions as F

    from streaming_data_spark.jobs import corpus_curation_job
    from streaming_data_spark.schemas import load_table

    docs = load_table(spark, sf_small, "documents")
    bench = docs.filter(F.pmod("doc_id", F.lit(20)) == 0)
    train_in = docs.filter(F.pmod("doc_id", F.lit(20)) != 0)
    _, n = jobs_of(
        lambda: corpus_curation_job(
            spark, train_in, benchmark=bench, out_dir=str(tmp_path)
        )
    )
    assert n <= 24, n


@pytest.mark.parametrize(
    "name, budget",
    [
        ("x41_canonical_by_quality", 8),
        ("x13_dup_clusters", 12),
        ("x13_dup_clusters_star", 12),
    ],
)
def test_star_cc_query_job_budget(spark, sf_small, jobs_of, name, budget):
    """The star-CC queries end in the driver finish; x41 is measured
    with its shared pair view already built by a first run."""
    import __spark_entry__ as entry

    query = entry.queries()[name]
    query(spark, sf_small).write.format("noop").mode("overwrite").save()
    _, n = jobs_of(
        lambda: query(spark, sf_small).write.format("noop").mode("overwrite").save()
    )
    assert n <= budget, n


def test_drift_report_job_end_to_end(spark, sf_small, tmp_path):
    """The drift job materializes the per-type report (PSI + JS) and
    the CUSUM table, alerts once per drifting type through the K10
    gate, and reruns idempotently. Thresholds forced low/high to pin
    both the all-drift and no-drift branches deterministically."""
    from pyspark.sql import functions as F

    from streaming_data_spark.jobs import drift_report_job
    from streaming_data_spark.schemas import load_table

    events = load_table(spark, sf_small, "events")
    n_types = events.select("event_type").distinct().count()
    wh = str(tmp_path / "wh_drift")

    # thresholds at -inf: every type drifts -> one alert per type
    alerts = []
    stats = drift_report_job(
        spark, events, wh, split_ts="2024-01-15 00:00:00",
        psi_threshold=-1.0, js_threshold=-1.0, cusum_h=-1.0,
        alert=alerts.append,
    )
    assert stats["types"] == n_types
    assert stats["cusum_rows"] > 0
    assert stats["drifting"] == n_types
    drift_alerts = [a for a in alerts if a.get("job") == "drift_report_job"
                    and "event_type" in a]
    assert len(drift_alerts) == n_types
    assert all(a["psi"] is not None and a["js"] is not None
               for a in drift_alerts)
    assert alerts[-1]["event"] == "job_succeeded"

    report = spark.read.parquet(f"{wh}/drift_report")
    assert report.count() == n_types
    # PSI and JS are nonnegative by construction
    bad = report.filter((F.col("psi") < 0) | (F.col("js") < 0)).count()
    assert bad == 0
    cu = spark.read.parquet(f"{wh}/drift_cusum")
    assert cu.filter((F.col("s_pos") < 0) | (F.col("s_neg") < 0)).count() == 0

    # thresholds at +inf: nothing drifts, no drift alerts, idempotent
    quiet = []
    rerun = drift_report_job(
        spark, events, wh, split_ts="2024-01-15 00:00:00",
        psi_threshold=1e9, js_threshold=1e9, cusum_h=1e9,
        alert=quiet.append,
    )
    assert rerun["types"] == n_types and rerun["drifting"] == 0
    assert [a for a in quiet if "event_type" in a] == []
