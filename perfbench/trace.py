"""Spans and Spark stage totals for the traced run.

Spans are kept in memory and written out once, when the run ends. A
span has a name, start, end, parent and run id; the benchmark opens
them around its own calls into the program's layers. With tracing off
``span`` still returns a context manager but records nothing.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager

STAGE_FIELDS = {
    # metric name -> (REST field(s), scale to the metric's unit)
    "exec_s": (("executorRunTime",), 1e-3),
    "tasks": (("numCompleteTasks",), 1),
    "executor_cpu_s": (("executorCpuTime",), 1e-9),
    "gc_s": (("jvmGcTime",), 1e-3),
    "input_bytes": (("inputBytes",), 1),
    "shuffle_write_bytes": (("shuffleWriteBytes",), 1),
    "shuffle_read_bytes": (("shuffleReadBytes",), 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
}


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()  # stream sinks add spans from Spark's callback thread

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        idx = self._append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (a stream batch's sink call
        runs on Spark's callback thread, not under the caller's stack)."""
        if not self.enabled:
            return -1
        return self._append({"name": name, "run": self.run_id, "parent": parent,
                             "start": start, "end": end, **attrs})

    def _append(self, rec: dict) -> int:
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            return rec["id"]

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "summary": summary, "spans": self.spans}, fh)


class StageTotals:
    """Sums Spark's per-stage task metrics over a window of stage ids,
    read from the monitoring REST API of the live UI."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _stages(self) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/stages?status=complete", timeout=30) as resp:
            return json.load(resp)

    def _settled(self) -> list[dict]:
        # the UI's listener bus is asynchronous: wait until the stage
        # list stops changing before reading a boundary
        last = None
        for _ in range(50):
            stages = self._stages()
            key = (len(stages), max((s["stageId"] for s in stages), default=-1))
            if key == last:
                return stages
            last = key
            time.sleep(0.2)
        return stages

    def mark(self) -> int:
        return max((s["stageId"] for s in self._settled()), default=-1)

    def since(self, mark: int) -> dict[str, float]:
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for st in self._settled():
            if st["stageId"] <= mark:
                continue
            for metric, (fields, scale) in STAGE_FIELDS.items():
                out[metric] += sum(st.get(f, 0) for f in fields) * scale
        return out
