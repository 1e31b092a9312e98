"""Elasticsearch bulk sink tests (K5-ES, §3.2 Logstash output) against
a real in-process HTTP server — the actual /_bulk protocol on the
wire, not option mocks: NDJSON framing, per-row date-stamped index
names, _id-based idempotency, chunking, auth header, and 503-retry.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from conftest import run_to_completion
from streaming_data_spark.schemas import load_table
from streaming_data_spark.sinks import elasticsearch as es
from streaming_data_spark.streaming import pipeline as sp


class _BulkCapture(BaseHTTPRequestHandler):
    def do_POST(self) -> None:  # noqa: N802 — http.server API
        body = self.rfile.read(int(self.headers["Content-Length"])).decode()
        srv = self.server
        with srv.lock:  # type: ignore[attr-defined]
            srv.fail_budget = getattr(srv, "fail_budget", 0)  # type: ignore[attr-defined]
            if srv.fail_budget > 0:  # type: ignore[attr-defined]
                srv.fail_budget -= 1  # type: ignore[attr-defined]
                self.send_response(503)
                self.end_headers()
                return
            srv.requests.append(  # type: ignore[attr-defined]
                {
                    "path": self.path,
                    "auth": self.headers.get("Authorization"),
                    "content_type": self.headers.get("Content-Type"),
                    "body": body,
                }
            )
        resp = json.dumps({"errors": False}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(resp)))
        self.end_headers()
        self.wfile.write(resp)

    def log_message(self, *args) -> None:  # silence
        pass


@pytest.fixture()
def es_server():
    srv = HTTPServer(("127.0.0.1", 0), _BulkCapture)
    srv.requests = []  # type: ignore[attr-defined]
    srv.lock = threading.Lock()  # type: ignore[attr-defined]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()


def _docs(srv) -> list[tuple[dict, dict]]:
    """All (action, source) pairs across captured bulk requests."""
    out = []
    for req in srv.requests:
        lines = [ln for ln in req["body"].split("\n") if ln]
        assert len(lines) % 2 == 0, "bulk body must be action/source pairs"
        for i in range(0, len(lines), 2):
            out.append((json.loads(lines[i]), json.loads(lines[i + 1])))
    return out


def test_bulk_batch_write_protocol(spark, sf_small, es_server):
    """Every row arrives exactly once, as index actions with _id,
    into a fixed index (instagram-profiles.conf:61-67 shape), with
    basic auth and NDJSON content type."""
    url = f"http://127.0.0.1:{es_server.server_address[1]}"
    nation = load_table(spark, sf_small, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    es.write_es_bulk(
        nation, url, "nations", id_col="n_nationkey",
        chunk_docs=7, user="logstash_internal", password="pw",
    )
    reqs = es_server.requests
    assert all(r["path"] == "/_bulk" for r in reqs)
    assert all(r["content_type"] == "application/x-ndjson" for r in reqs)
    assert all(r["auth"] and r["auth"].startswith("Basic ") for r in reqs)
    # chunk_docs=7 caps every request's doc count
    for r in reqs:
        assert len([ln for ln in r["body"].split("\n") if ln]) <= 14

    pairs = _docs(es_server)
    assert len(pairs) == 25
    assert {p[0]["index"]["_index"] for p in pairs} == {"nations"}
    assert {p[0]["index"]["_id"] for p in pairs} == {str(i) for i in range(25)}
    got = {(p[1]["n_nationkey"], p[1]["n_name"], p[1]["n_regionkey"]) for p in pairs}
    want = {
        (r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect()
    }
    assert got == want


def test_bulk_date_stamped_index_and_retry(spark, sf_small, es_server):
    """container-logs.conf:23 naming: per-row event-date index — and a
    transient 503 is retried, with every doc still delivered once."""
    url = f"http://127.0.0.1:{es_server.server_address[1]}"
    es_server.fail_budget = 2  # first two requests get 503
    events = load_table(spark, sf_small, "events").limit(50)
    es.write_es_bulk(
        events.coalesce(2), url,
        es.date_stamped_index("container-logs", "ts"),
        id_col="event_id", chunk_docs=1000, backoff_base=0.05,
    )
    pairs = _docs(es_server)
    assert len(pairs) == 50
    for action, source in pairs:
        idx = action["index"]["_index"]
        day = source["ts"][:10].replace("-", ".")
        assert idx == f"container-logs-{day}"


def test_es_stream_sink_idempotent_ids(spark, sf_small, tmp_path, es_server):
    """§3.2 end-to-end: Kafka-shaped stream → foreachBatch → /_bulk.
    All 100 envelopes land with _id = event key, so a replayed batch
    would overwrite, not duplicate."""
    url = f"http://127.0.0.1:{es_server.server_address[1]}"
    stream_dir = str(tmp_path / "envelopes")
    events = load_table(spark, sf_small, "events").limit(100)
    events.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct(*events.columns)).alias("value"),
    ).coalesce(1).write.json(stream_dir)
    stream = sp.file_json_source(spark, stream_dir)
    writer = es.es_stream_sink(
        stream, url, "events-stream",
        checkpoint=str(tmp_path / "ckpt"), id_col="key", chunk_docs=30,
    )
    run_to_completion(writer)
    pairs = _docs(es_server)
    assert len(pairs) == 100
    ids = [p[0]["index"]["_id"] for p in pairs]
    assert len(set(ids)) == 100
    assert {p[1]["key"] for p in pairs} == set(ids)
