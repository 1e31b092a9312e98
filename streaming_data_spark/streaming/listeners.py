"""Ops surface: alerting & job gating (SURVEY.md §2.2 K9/K10, §2.9 T8).

The reference posts Slack webhooks on DAG success/failure
(upbit_data_pipeline.py:188-227, monitor_errors.py:51-57). The engine
equivalent: a StreamingQueryListener for stream health plus a batch
job wrapper that fires callbacks — transport is injected so tests
capture payloads instead of hitting a webhook.
"""

from __future__ import annotations

import traceback
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

AlertFn = Callable[[dict], None]


class AlertingListener(StreamingQueryListener):
    """K9 — stream lifecycle alerts (started / progress / terminated).

    Failure events carry the exception like the reference's
    task_failure_alert carries dag/task/execution_date
    (upbit_data_pipeline.py:207-227).
    """

    def __init__(self, send: AlertFn, progress_every_n_batches: int = 0) -> None:
        self._send = send
        self._every = progress_every_n_batches
        self._batches = 0

    def onQueryStarted(self, event) -> None:
        self._send({"event": "started", "id": str(event.id), "name": event.name,
                    "ts": datetime.now(timezone.utc).isoformat()})

    def onQueryProgress(self, event) -> None:
        self._batches += 1
        if self._every and self._batches % self._every == 0:
            progress = event.progress
            self._send({
                "event": "progress",
                "id": str(progress.id),
                "batchId": progress.batchId,
                "numInputRows": progress.numInputRows,
            })

    def onQueryIdle(self, event) -> None:  # pragma: no cover - noop
        pass

    def onQueryTerminated(self, event) -> None:
        payload = {"event": "terminated", "id": str(event.id),
                   "ts": datetime.now(timezone.utc).isoformat()}
        if event.exception:
            payload["status"] = "FAILED"
            payload["exception"] = str(event.exception)
        else:
            payload["status"] = "SUCCESS"
        self._send(payload)


def run_job_with_alerts(job: Callable[[], object], send: AlertFn, name: str) -> object:
    """Batch-job wrapper: success message with completion time
    (upbit_data_pipeline.py:188-204) or failure callback with context
    (:207-227)."""
    started = datetime.now(timezone.utc)
    try:
        result = job()
    except Exception as exc:
        send({
            "event": "job_failed", "job": name,
            "started": started.isoformat(),
            "error": repr(exc),
            "traceback": traceback.format_exc(limit=5),
        })
        raise
    send({
        "event": "job_succeeded", "job": name,
        "started": started.isoformat(),
        "completed": datetime.now(timezone.utc).isoformat(),
    })
    return result


class MetricsCollector(StreamingQueryListener):
    """Observability: per-micro-batch throughput/latency capture —
    the numbers a dashboard (the reference's Kibana layer) charts.

    Collects (batchId, numInputRows, processedRowsPerSecond,
    batchDuration_ms, watermark) per progress event; ``summary()``
    reduces them to totals/averages for job-level reporting. State is
    driver-side and O(batches) — trim with ``keep_last`` when
    attaching to a long-lived query.
    """

    def __init__(self, keep_last: int | None = None) -> None:
        self.records: list[dict] = []
        self._keep = keep_last

    def onQueryStarted(self, event) -> None:  # pragma: no cover - noop
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.records.append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "batchDuration_ms": p.batchDuration,
                "watermark": p.eventTime.get("watermark") if p.eventTime else None,
            }
        )
        if self._keep is not None and len(self.records) > self._keep:
            if self._keep == 0:
                # `del records[:-0]` is `del records[:0]` — a no-op —
                # so keep_last=0 ("retain nothing") needs its own path.
                self.records.clear()
            else:
                del self.records[: -self._keep]

    def onQueryIdle(self, event) -> None:  # pragma: no cover - noop
        pass

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - noop
        pass

    def summary(self) -> dict:
        rows = sum(r["numInputRows"] for r in self.records)
        dur = sum(r["batchDuration_ms"] for r in self.records)
        return {
            "n_batches": len(self.records),
            "total_rows": rows,
            "total_batch_ms": dur,
            "avg_rows_per_batch": rows / len(self.records) if self.records else 0.0,
        }
