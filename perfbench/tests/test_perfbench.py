"""Tests of the benchmark itself: seeded inputs, the sink checker and
the printed metric names.

    python3 -m pytest perfbench/tests -q

The two end-to-end tests start Spark and take about a minute each;
``-m "not slow"`` skips them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, datagen, run

ROOT = run.ROOT
SMALL = datagen.StreamPlan(warmup_files=1, steady_files=6, burst_files=3,
                           events_per_file=20, burst_events_per_file=30)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_gives_identical_stream_files():
    a = datagen.stream_files(7, SMALL)
    b = datagen.stream_files(7, SMALL)
    assert [(f.name, f.due_s, f.body) for f in a] == [(f.name, f.due_s, f.body) for f in b]


def test_other_seed_gives_other_stream_files():
    a = datagen.stream_files(7, SMALL)
    b = datagen.stream_files(8, SMALL)
    assert [f.body for f in a] != [f.body for f in b]


def test_stream_has_redeliveries_of_earlier_events():
    files = datagen.stream_files(3, datagen.StreamPlan())
    ids = [e for f in files for e in f.event_ids]
    share = 1 - len(set(ids)) / len(ids)
    assert 0.07 < share < 0.13
    first: dict[int, bytes] = {}
    for f in files:  # a redelivery is byte-equal to the first delivery
        for eid, line in zip(f.event_ids, f.body.splitlines()):
            assert first.setdefault(eid, line) == line


def test_same_seed_gives_identical_corpus(tmp_path):
    for d in ("a", "b"):
        datagen.make_corpus(str(tmp_path / d), 5, n_docs=50, n_vecs=20)
    for name in ("documents", "embeddings", "heldout"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb), name


def _sink(path, rows: list[dict]) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))
    return str(path)


def _rows(files) -> list[dict]:
    return checks.expected_events(files).to_dict("records")


def test_checker_accepts_exact_sinks(tmp_path):
    files = datagen.stream_files(11, SMALL)
    rows = _rows(files)
    distinct = list({r["event_id"]: r for r in rows}.values())
    failures, target_rows = checks.check_sinks(
        _sink(tmp_path / "a", rows), _sink(tmp_path / "u", distinct), files)
    assert not any(failures.values()), failures
    assert target_rows == len(distinct)


def test_checker_rejects_dropped_row(tmp_path):
    files = datagen.stream_files(11, SMALL)
    rows = _rows(files)
    distinct = list({r["event_id"]: r for r in rows}.values())
    failures, _ = checks.check_sinks(
        _sink(tmp_path / "a", rows[:-1]), _sink(tmp_path / "u", distinct), files)
    assert failures["lost from the append sink"] == 1


def test_checker_rejects_duplicated_key(tmp_path):
    files = datagen.stream_files(11, SMALL)
    rows = _rows(files)
    distinct = list({r["event_id"]: r for r in rows}.values())
    failures, _ = checks.check_sinks(
        _sink(tmp_path / "a", rows), _sink(tmp_path / "u", distinct + distinct[:1]), files)
    assert failures["duplicated in the upsert target"] == 1


def test_checker_rejects_changed_value(tmp_path):
    files = datagen.stream_files(11, SMALL)
    rows = _rows(files)
    distinct = list({r["event_id"]: r for r in rows}.values())
    distinct[0] = {**distinct[0], "value": distinct[0]["value"] + 1}
    failures, _ = checks.check_sinks(
        _sink(tmp_path / "a", rows), _sink(tmp_path / "u", distinct), files)
    assert failures["lost from the upsert target"] == 1


@pytest.mark.parametrize("summary", [
    {"input": 9, "quality_gate": 9, "exact_dedup": 8, "chunks": 12},   # wrong input count
    {"input": 10, "quality_gate": 9, "exact_dedup": 9.5, "chunks": 12},  # a stage grew
    {"input": 10, "quality_gate": 9, "exact_dedup": 8, "chunks": 7},   # fewer chunks than docs
])
def test_job_summary_check_rejects_bad_survivor_counts(summary):
    checks.check_job_summary({"input": 10, "quality_gate": 9, "exact_dedup": 8, "chunks": 12}, 10)
    with pytest.raises(AssertionError):
        checks.check_job_summary(summary, 10)


def test_select_metrics_rejects_unnamed_figure():
    spec = {"pass_s": {"unit": "s"}}
    assert run.select_metrics({"pass_s": 1.5}, spec) == {"pass_s": {"value": 1.5, "unit": "s"}}
    with pytest.raises(KeyError):
        run.select_metrics({"pass_s": 1.5, "other": 2.0}, spec)


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        layers = json.load(fh)
    spec = _spec()
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    workloads = {w["name"] for w in spec["workloads"]} | {"all"}
    for name, entry in layers.items():
        assert entry["workload"] in workloads, name
        assert entry["moves"] in e2e or entry.get("note"), name


def _run(workload: str, trace: int, seconds: int = 2) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_printed_end_to_end_names_match_spec():
    out = _run("stream_ingest", trace=0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.slow
def test_traced_run_prints_every_layer_and_generator_lateness():
    out = _run("stream_ingest", trace=1)
    assert out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    late = out["metrics"]["gen.late_s_max"]
    assert late["unit"] == "s" and late["value"] > 0
