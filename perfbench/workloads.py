"""The benchmark's workloads. Each returns a ``Result`` with its
end-to-end and per-layer figures, the operations attempted and failed,
and notes for the environment line.

Every call into the program goes through a public function:
``session.get_session``, the ``__spark_entry__.queries()`` callables,
``jobs.corpus_curation_job``,
``streaming.pipeline.{file_json_source, normalize_stream, fanout_sink}``
and ``sinks.writers.{write_partitioned, write_if_absent}``. Each layer
is timed from here, at those calls.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, datagen
from perfbench.trace import StageTotals, Tracer

CURATION_QUERIES = (
    "x1_exact_dedup", "x2_minhash_lsh", "x7_near_dup_lsh", "x5_cosine_topk",
    "x59_semdedup", "x41_canonical_by_quality", "x63_boilerplate_ngrams",
    "x35_lm_score",
)
CURATION_JOB = "corpus_curation_job"
JOB_STAGES = ("input", "quality_gate", "exact_dedup", "near_dedup", "decontaminated", "chunks")
# At these sizes a warm curation pass takes ~13 s on a 4-core host and
# is still dominated by per-query fixed cost (1000 documents instead of
# 600 added ~10% to a pass), so a larger corpus would buy run time, not
# signal.
N_DOCS, N_VECS = 600, 600


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    notes: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)


def _pct(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100): always one of the
    measured values, so a pass's 9 operation times give p50 = the 5th
    and p90 = the slowest."""
    return float(np.percentile(np.asarray(values, dtype="float64"), q, method="inverted_cdf"))


def _start_session(res: Result, tracer: Tracer):
    from streaming_data_spark.session import get_session

    t0 = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session(app_name="perfbench")
    res.layers["session.get_session_s"] = time.perf_counter() - t0
    return spark


# ---------------------------------------------------------------------------
# curation_dedup
# ---------------------------------------------------------------------------

class _Curation:
    """One closed-loop client running passes of the curation operations
    in a seed-permuted order."""

    def __init__(self, spark, data_dir: str, work: str, seed: int,
                 res: Result, tracer: Tracer) -> None:
        import __spark_entry__

        self.spark, self.data_dir, self.work = spark, data_dir, work
        self.res, self.tracer = res, tracer
        self.rng = np.random.default_rng([seed, 3])
        self.registry = __spark_entry__.queries()
        self.oracle_sql = __spark_entry__.oracle_sql()
        self.ops = list(CURATION_QUERIES) + [CURATION_JOB]
        self.docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
        self.heldout = spark.read.parquet(os.path.join(data_dir, "heldout.parquet"))
        self.job_summaries: list[dict[str, int]] = []

    def run_op(self, name: str, collect: bool) -> tuple[float, float, object]:
        """Run one operation; returns (seconds inside the registry
        callable, seconds in all, result). A query's result is collected
        to pandas when ``collect``, else it ends in the noop sink; the
        job's result is its survivor counts."""
        with self.tracer.span(f"op.{name}"):
            t0 = time.perf_counter()
            if name == CURATION_JOB:
                from streaming_data_spark.jobs import corpus_curation_job

                out = corpus_curation_job(self.spark, self.docs, benchmark=self.heldout,
                                          out_dir=os.path.join(self.work, "curated"))
                took = time.perf_counter() - t0
                return took, took, dict(out["summary"])
            with self.tracer.span("query.build"):
                df = self.registry[name](self.spark, self.data_dir)
            built = time.perf_counter() - t0
            with self.tracer.span("query.exec"):
                if collect:
                    got = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    got = None
        return built, time.perf_counter() - t0, got

    def warmup(self) -> float:
        """Untimed warm-up pass that also checks every output against
        its oracle; returns the time spent in the program."""
        spent = 0.0
        con = checks.duckdb_conn(self.data_dir)
        with self.tracer.span("pass", phase="warmup"):
            for name in self.ops:
                self.res.attempted += 1
                try:
                    _, took, got = self.run_op(name, collect=True)
                except Exception:  # noqa: BLE001 - a failed query is a counted result
                    self.res.fail(f"{name}: raised\n{traceback.format_exc(limit=3)}")
                    continue
                spent += took
                try:
                    if name == CURATION_JOB:
                        self.job_summaries.append(got)
                        checks.check_job_summary(got, N_DOCS)
                    else:
                        checks.compare_to_oracle(got, con, self.oracle_sql[name], name)
                except AssertionError as exc:
                    self.res.fail(f"{name}: {exc}")
        con.close()
        return spent

    def timed(self, seconds: float, stages: StageTotals | None) -> None:
        """Passes until another would end past ``seconds`` (at least one)."""
        res = self.res
        mark = stages.mark() if stages else None
        passes: list[float] = []
        builds: list[float] = []
        per_op: dict[str, list[float]] = {n: [] for n in self.ops}
        t_start = time.perf_counter()
        while not passes or (time.perf_counter() - t_start
                             + statistics.median(passes) <= seconds):
            t0, build_s = time.perf_counter(), 0.0
            with self.tracer.span("pass", phase="timed", n=len(passes)):
                for name in self.rng.permutation(self.ops):
                    res.attempted += 1
                    try:
                        built, took, got = self.run_op(name, collect=False)
                    except Exception:  # noqa: BLE001
                        res.fail(f"{name}: raised\n{traceback.format_exc(limit=3)}")
                        continue
                    per_op[name].append(took)
                    if name == CURATION_JOB:
                        self.job_summaries.append(got)
                    else:
                        build_s += built
            passes.append(time.perf_counter() - t0)
            builds.append(build_s)
        if stages:
            for k, v in stages.since(mark).items():
                res.layers[f"operators.curation.{k}"] = v / len(passes)
        samples = [t for ts in per_op.values() for t in ts]
        res.e2e["pass_s"] = statistics.median(passes)
        res.e2e["latency_p50_s"] = _pct(samples, 50)
        res.e2e["latency_p90_s"] = _pct(samples, 90)
        res.layers["queries.curation.build_s"] = statistics.median(builds)
        for name, ts in per_op.items():
            key = "jobs.corpus_curation_s" if name == CURATION_JOB else f"queries.{name}.s"
            res.layers[key] = statistics.median(ts) if ts else 0.0
        res.notes.update(passes=len(passes), pass_s_all=passes, latency_samples=len(samples))
        if self.job_summaries:
            first = self.job_summaries[0]
            for stage in JOB_STAGES:
                res.layers[f"jobs.corpus_curation.survivors.{stage}"] = first.get(stage, 0)
            for i, s in enumerate(self.job_summaries[1:], 1):
                if s != first:
                    res.fail(f"{CURATION_JOB}: pass {i} survivors {s} != {first}")


def run_curation(work: str, seed: int, seconds: float, tracer: Tracer) -> tuple[Result, object]:
    res = Result()
    data_dir = os.path.join(work, "data")
    datagen.make_corpus(data_dir, seed, N_DOCS, N_VECS)
    spark = _start_session(res, tracer)
    with tracer.span("workload.curation"):
        bench = _Curation(spark, data_dir, work, seed, res, tracer)
        warm = bench.warmup()
        res.e2e["setup_s"] = res.layers["session.get_session_s"] + warm
        bench.timed(seconds, StageTotals(spark) if tracer.enabled else None)
    return res, spark


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

_PROGRESS_KEYS = {
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "add_batch_ms": "addBatch",
    "trigger_ms": "triggerExecution",
}


# Cap on files per micro-batch (the file source's backpressure knob):
# it splits the burst into three batches, and at the steady rate a
# ~2 s batch takes ~40 files, well under it.
MAX_FILES_PER_BATCH = 100
# The first micro-batches of a query are slow (codegen, class loading,
# the sinks' first writes); set-up runs this many before measuring.
WARMUP_BATCHES = 3
# The steady phase starts on an idle query, whose first batch takes
# whatever files have arrived; latency counts the files due after the
# first seconds, once the batch cadence has settled.
LEAD_IN_S = 2.0


class _StreamRun:
    """Generator thread + the engine's streaming query + the benchmark's
    two sink callables (append and keyed upsert)."""

    def __init__(self, spark, work: str, files: list, res: Result, tracer: Tracer) -> None:
        self.spark, self.work, self.files = spark, work, files
        self.res, self.tracer = res, tracer
        # the source reads every directory under stream_in; warm-up and
        # steady files land one by one in their own, the burst arrives
        # as one directory renamed into place, so a listing sees all of
        # it or none
        self.in_dir = os.path.join(work, "stream_in")
        self.stage_dir = os.path.join(work, "stream_stage")
        self.ckpt = os.path.join(work, "ckpt")
        self.append_dir = os.path.join(work, "sink_append")
        self.upsert_dir = os.path.join(work, "sink_upsert")
        for d in ("warmup", "steady"):
            os.makedirs(os.path.join(self.in_dir, d))
        os.makedirs(os.path.join(self.stage_dir, "burst"))
        self.lock = threading.Lock()
        self.batch_end: dict[int, float] = {}
        self.batch_files: dict[int, list[str]] = {}
        self.committed: set[str] = set()
        self.sink_ms: dict[str, list[tuple[int, float]]] = {"append": [], "upsert": []}
        self.append_span: dict[int, tuple[float, float]] = {}
        self.inserted = 0
        self.written: dict[str, float] = {}
        self.backlog_max = 0
        self.t0 = 0.0

    # -- sinks ---------------------------------------------------------------
    def _append(self, batch, epoch: int) -> None:
        from streaming_data_spark.sinks.writers import write_partitioned

        t0 = time.perf_counter()
        write_partitioned(batch, self.append_dir, "ts")
        t1 = time.perf_counter()
        with self.lock:
            self.sink_ms["append"].append((epoch, (t1 - t0) * 1e3))
            self.append_span[epoch] = (t0, t1)

    def _upsert(self, batch, epoch: int) -> None:
        from streaming_data_spark.sinks.writers import write_if_absent

        t0 = time.perf_counter()
        n = write_if_absent(batch, self.upsert_dir, ["event_id"])
        t1 = time.perf_counter()
        # the batch is on both sinks now; find which files it held from
        # the file source's own log (written before the batch ran)
        names = _source_log_files(self.ckpt, epoch)
        with self.lock:
            self.sink_ms["upsert"].append((epoch, (t1 - t0) * 1e3))
            self.inserted += n
            self.batch_end[epoch] = t1
            self.batch_files[epoch] = names
            self.committed.update(names)
            a0, a1 = self.append_span.pop(epoch)
        batch = self.tracer.add("stream.batch", a0, t1, epoch=epoch, files=len(names))
        self.tracer.add("sinks.write_partitioned", a0, a1, parent=batch, epoch=epoch)
        self.tracer.add("sinks.write_if_absent", t0, t1, parent=batch, epoch=epoch, rows=n)

    # -- generator -------------------------------------------------------------
    def _put(self, f) -> None:
        staged = os.path.join(self.stage_dir, f.name)
        with open(staged, "wb") as fh:
            fh.write(f.body)
        os.rename(staged, os.path.join(self.in_dir, f.phase, f.name))
        now = time.perf_counter()
        with self.lock:
            self.written[f.name] = now
            if f.phase == "steady":
                self.backlog_max = max(self.backlog_max,
                                       len(self.written) - len(self.committed))

    def _generate(self, phase: str) -> None:
        for f in self.files:
            if f.phase != phase:
                continue
            delay = self.t0 + f.due_s - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            self._put(f)

    def _wait_committed(self, names: list[str], timeout: float) -> None:
        start = time.perf_counter()
        polls = 0
        while time.perf_counter() - start < timeout:
            with self.lock:
                if self.committed.issuperset(names):
                    return
            polls += 1
            if polls % 50 == 0 and self.query.exception() is not None:  # ~every 0.5 s
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.01)
        raise TimeoutError(f"{len(set(names) - self.committed)} files not committed")

    # -- run -------------------------------------------------------------------
    def start(self) -> float:
        from streaming_data_spark.streaming.pipeline import (
            fanout_sink, file_json_source, normalize_stream)

        t0 = time.perf_counter()
        with self.tracer.span("stream.build"):
            src = file_json_source(self.spark, os.path.join(self.in_dir, "*"),
                                   max_files_per_trigger=MAX_FILES_PER_BATCH)
            norm = normalize_stream(src, checks.STREAM_PAYLOAD)
            self.query = fanout_sink(norm, [self._append, self._upsert], self.ckpt).start()
        warm = [f for f in self.files if f.phase == "warmup"]
        with self.tracer.span("stream.warmup"):
            for i in range(WARMUP_BATCHES):
                part = warm[i::WARMUP_BATCHES]
                for f in part:
                    self._put(f)
                self._wait_committed([f.name for f in part], 60)
        return time.perf_counter() - t0

    def run(self) -> None:
        steady = [f.name for f in self.files if f.phase == "steady"]
        burst = [f for f in self.files if f.phase == "burst"]
        self.warm_batches = set(self.batch_end)
        with self.tracer.span("stream.steady"):
            self.t0 = time.perf_counter() + 0.2
            gen = threading.Thread(target=self._generate, args=("steady",), name="perfbench-gen")
            gen.start()
            gen.join()
            self._wait_committed(steady, 60)
        with self.tracer.span("stream.burst"):
            for f in burst:
                with open(os.path.join(self.stage_dir, "burst", f.name), "wb") as fh:
                    fh.write(f.body)
            t_drop = time.perf_counter()
            os.rename(os.path.join(self.stage_dir, "burst"), os.path.join(self.in_dir, "burst"))
            self._wait_committed([f.name for f in burst], 60)
        self.drain_s = max(self.batch_end.values()) - t_drop
        self.query.processAllAvailable()  # let the last batch commit
        self.query.stop()

    def figures(self) -> None:
        res = self.res
        steady = [f for f in self.files if f.phase == "steady"]
        burst = [f for f in self.files if f.phase == "burst"]
        batch_of = {n: b for b, names in self.batch_files.items() for n in names}
        lat = [self.batch_end[batch_of[f.name]] - (self.t0 + f.due_s)
               for f in steady if f.due_s >= LEAD_IN_S]
        late = [self.written[f.name] - (self.t0 + f.due_s) for f in steady]
        burst_events = sum(len(f.event_ids) for f in burst)
        res.e2e["pass_s"] = self.drain_s
        res.e2e["latency_p50_s"] = _pct(lat, 50)
        res.e2e["latency_p90_s"] = _pct(lat, 90)
        res.notes.update(stream_drain_events_per_s=burst_events / self.drain_s,
                         burst_events=burst_events, latency_samples=len(lat))

        timed = set(self.batch_end) - self.warm_batches
        progress = {p.batchId: p for p in self.query.recentProgress
                    if p.batchId in timed and p.numInputRows > 0}
        for metric, key in _PROGRESS_KEYS.items():
            vals = [p.durationMs.get(key, 0) for p in progress.values()]
            res.layers[f"streaming.pipeline.{metric}.p50"] = _pct(vals, 50)
            res.layers[f"streaming.pipeline.{metric}.max"] = float(max(vals))
        rows = [p.numInputRows for p in progress.values()]
        res.layers["streaming.pipeline.rows_per_batch.p50"] = _pct(rows, 50)
        res.layers["streaming.pipeline.rows_per_batch.max"] = float(max(rows))
        res.layers["streaming.pipeline.batches"] = len(timed)

        app = [ms for b, ms in self.sink_ms["append"] if b in timed]
        ups = [ms for b, ms in self.sink_ms["upsert"] if b in timed]
        res.layers["sinks.writers.write_partitioned_ms.p50"] = _pct(app, 50)
        res.layers["sinks.writers.write_if_absent_ms.p50"] = _pct(ups, 50)
        res.layers["sinks.writers.write_if_absent_ms.p90"] = _pct(ups, 90)
        offered = sum(len(f.event_ids) for f in self.files)
        res.layers["sinks.writers.upsert_insert_ratio"] = self.inserted / offered
        res.layers["gen.late_s_max"] = max(late)
        res.layers["gen.backlog_files_max"] = self.backlog_max


def _source_log_files(ckpt: str, epoch: int) -> list[str]:
    """File names the file source assigned to batch ``epoch``, from its
    metadata log (``sources/0/<epoch>``, or a ``.compact`` file holding
    every batch up to it)."""
    log_dir = os.path.join(ckpt, "sources", "0")
    path = os.path.join(log_dir, str(epoch))
    if not os.path.exists(path):
        path += ".compact"
    names = []
    with open(path) as fh:
        for line in fh:
            if line.startswith("{"):
                entry = json.loads(line)
                if entry.get("batchId", epoch) == epoch:
                    names.append(os.path.basename(entry["path"]))
    return names


def run_stream(work: str, seed: int, seconds: float, tracer: Tracer) -> tuple[Result, object]:
    res = Result()
    plan = stream_plan(seconds)
    files = datagen.stream_files(seed, plan)
    spark = _start_session(res, tracer)
    with tracer.span("workload.stream"):
        run = _StreamRun(spark, work, files, res, tracer)
        warm = run.start()
        res.e2e["setup_s"] = res.layers["session.get_session_s"] + warm
        run.run()
        run.figures()
    expected = [eid for f in files for eid in f.event_ids]
    res.attempted += len(expected)
    failures, target_rows = checks.check_sinks(run.append_dir, run.upsert_dir, files)
    for what, n in failures.items():
        if n:
            res.fail(f"stream: {n} events {what}", n)
    res.layers["sinks.writers.upsert_target_rows"] = target_rows
    res.notes["dup_share"] = 1 - len(set(expected)) / len(expected)
    return res, spark


def stream_plan(seconds: float) -> datagen.StreamPlan:
    """After a lead-in, the steady phase fills 60% of the measured
    seconds at 20 files/s of 50 events (1000 events/s); the burst is
    fixed (see StreamPlan) and drains in about the remaining 40% on a
    4-core host."""
    rate = datagen.StreamPlan.steady_files_per_s
    return datagen.StreamPlan(steady_files=int((LEAD_IN_S + max(2.0, seconds * 0.6)) * rate))
