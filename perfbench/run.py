"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload curation_dedup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates its inputs from ``--seed``
under ``.perfbench_work/`` (removed at exit), measures for
``--seconds``, checks every output, prints an environment line and,
as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and the run's spans are
written to ``.perfbench_out/``. Exits 1 if any output is wrong, 2 if
the program is not there to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curation_dedup", "stream_ingest")
PROGRAM_FILES = ("__spark_entry__.py", "streaming_data_spark/__init__.py", "tests/oracle.py")


def metric_specs() -> tuple[dict[str, dict], dict[str, dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m for m in spec["end_to_end"]},
            {m["name"]: m for m in spec["per_layer"]})


def select_metrics(got: dict[str, float], wanted: dict[str, dict]) -> dict[str, dict]:
    """Every metric of the spec, by name with its unit. A layer this
    workload does not cross reads 0; a figure the spec does not name is
    a benchmark bug."""
    unknown = sorted(set(got) - set(wanted))
    if unknown:
        raise KeyError(f"figures missing from BENCHMARK.json: {unknown}")
    return {name: {"value": float(got.get(name, 0.0)), "unit": m["unit"]}
            for name, m in wanted.items()}


def pin_environment(work: str, trace: bool) -> dict[str, str]:
    """The settings the program reads, pinned for every run."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = _meminfo_kb("MemTotal")
    # the session's own default heap (32g) exceeds small hosts
    heap_gb = max(1, min(4, mem_kb // (1024 * 1024) // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # every JVM (the launcher and Spark's) keeps its scratch files in the
        # run's directory and writes no hsperfdata file to the system one
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return pinned


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``_cpu_times`` readings."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def _calibrate() -> float:
    """Seconds for a fixed single-threaded Python loop: how fast this
    host ran when the run started and ended, for reading its figures."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i
    return time.perf_counter() - t0


def _versions(spark) -> dict[str, str]:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"spark": spark.version, "java": java.splitlines()[0] if java else "?",
            "python": platform.python_version()}


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    e2e_spec, layer_spec = metric_specs()

    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    pinned = pin_environment(work, bool(args.trace))
    tracer = Tracer(run_id, enabled=bool(args.trace))
    load_start, calib_start, cpu_start = _loadavg(), _calibrate(), _cpu_times()
    spark = None
    try:
        if args.workload == "stream_ingest":
            res, spark = workloads.run_stream(work, args.seed, args.seconds, tracer)
        else:
            res, spark = workloads.run_curation(work, args.seed, args.seconds, tracer)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        res.layers["peak_rss_mb"] = (_peak_rss_kb("self") + _peak_rss_kb(jvm_pid)) / 1024
        versions = _versions(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": int(pinned["SPARK_GRAFT_CPUS"]),
        "env": pinned, "loadavg_start": load_start, "loadavg_end": _loadavg(),
        "calib_s_start": calib_start, "calib_s_end": _calibrate(),
        "steal_share": _steal_share(cpu_start, _cpu_times()),
        **versions, "failed_share": res.failed / max(1, res.attempted),
        "peak_rss_mb": res.layers["peak_rss_mb"], "errors": res.errors[:10], **res.notes,
    }
    last = os.path.join(out_dir, f"e2e-{args.workload}.json")
    if args.trace:
        # overhead of tracing against the latest untraced run of this workload
        res.layers["trace.pass_s"] = res.e2e["pass_s"]
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)["pass_s"]
            info["trace_overhead_share"] = res.e2e["pass_s"] / base - 1
        tracer.write(os.path.join(out_dir, f"spans-{run_id}.json"), info)
        wanted, got = layer_spec, res.layers
    else:
        with open(last, "w") as fh:
            json.dump(res.e2e, fh)
        wanted, got = e2e_spec, res.e2e
    metrics = select_metrics(got, wanted)
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
