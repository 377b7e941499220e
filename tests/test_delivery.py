"""HTTP alert delivery (S4-S6 wire half): payload parity with the
reference's three POST shapes, per-channel isolation, retry behavior,
and a real localhost round-trip when the sandbox allows sockets."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from enterprise_data_quality_platform_spark.delivery import (
    DeliveryConfig,
    FileTransport,
    HttpTransport,
    MemoryTransport,
    agent_payload,
    deliver_alert_rows,
    github_dispatch_payload,
    pagerduty_payload,
)

CFG = DeliveryConfig(
    pagerduty_key="pd-key",
    agent_name="oncall-agent",
    agent_token="tok",
    agent_url="http://agent.example/runs",
    github_repo="acme/data-platform",
    github_token="ghtok",
)

ROW = {
    "incident_key": "k123",
    "action": "trigger",
    "channel": "pagerduty",
    "service": "sales_mart",
    "check_name": "orders row count",
    "message": "row_count 0 < 1",
    "created_ts": "2026-08-14T00:00:00Z",
}


def test_pagerduty_payload_matches_reference_shape():
    p = pagerduty_payload(CFG, {"incident_key": "k", "pipeline": "p",
                                "task": "t", "error": "e",
                                "failed_validations": ["a"], "timestamp": "ts"})
    assert p["service_key"] == "pd-key" and p["event_type"] == "trigger"
    assert set(p["details"]) == {
        "pipeline_name", "failed_task", "error_message",
        "failed_validations", "timestamp",
    }


def test_agent_and_github_payload_shapes():
    a = agent_payload(CFG, {"pipeline": "p", "task": "t", "error": "e",
                            "timestamp": "ts"}, "k", "2026-01-01T00:00:00Z")
    assert a["agent_name"] == "oncall-agent"
    assert a["input"][0]["parts"][0]["content_type"] == "text/plain"
    assert "PagerDuty incident: k" in a["input"][0]["parts"][0]["content"]
    g = github_dispatch_payload({"timestamp": "ts"}, "k")
    assert g["event_type"] == "airflow-failure"
    assert g["client_payload"]["pagerduty_incident_key"] == "k"


def test_deliver_routes_by_channel_and_isolates_failures():
    tp = MemoryTransport()
    rows = [
        ROW,
        {**ROW, "channel": "agent"},
        {**ROW, "channel": "github"},
        {**ROW, "channel": "nope"},
        {**ROW, "action": "resolve"},
    ]
    receipts = deliver_alert_rows(rows, CFG, tp, now_iso=lambda: "T")
    assert [r.get("status") for r in receipts[:3]] == [200, 200, 200]
    assert "error" in receipts[3]  # unknown channel isolated
    assert receipts[4]["status"] == 200
    urls = [u for u, _, _ in tp.sent]
    assert urls[1] == "http://agent.example/runs"
    assert urls[2].endswith("/repos/acme/data-platform/dispatches")
    resolve_payload = tp.sent[3][1]
    assert resolve_payload["event_type"] == "resolve"
    assert resolve_payload["incident_key"] == "k123"
    # auth headers per channel
    assert tp.sent[1][2]["Authorization"] == "Bearer tok"
    assert tp.sent[2][2]["Authorization"] == "token ghtok"


def test_file_transport_spools_jsonl(tmp_path):
    spool = tmp_path / "outbox.jsonl"
    receipts = deliver_alert_rows([ROW], CFG, FileTransport(str(spool)))
    assert receipts[0]["status"] == 0
    lines = [json.loads(l) for l in spool.read_text().splitlines()]
    assert lines[0]["payload"]["incident_key"] == "k123"


def test_http_transport_localhost_round_trip_and_5xx_retry():
    from http.server import BaseHTTPRequestHandler, HTTPServer

    calls = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            calls.append(json.loads(body))
            if len(calls) == 1:  # first attempt: transient 500 -> retried
                self.send_response(500)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(b'{"incident_key": "srv-key"}')

        def log_message(self, *a):  # quiet
            pass

    try:
        srv = HTTPServer(("127.0.0.1", 0), Handler)
    except OSError:
        pytest.skip("sandbox forbids sockets")
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/post"
        tp = HttpTransport(retries=3, backoff_s=0.01)
        out = tp.post(url, {"x": 1}, {})
        assert out["_status"] == 200 and out["incident_key"] == "srv-key"
        assert len(calls) == 2  # 500 then success
    finally:
        srv.shutdown()


def test_http_transport_accepts_json_array_body(monkeypatch):
    """A 2xx response whose body is a JSON array (or scalar) is still a
    success — it must not raise TypeError assigning _status."""

    class FakeResp:
        status = 200

        def read(self):
            return json.dumps([{"id": 1}, {"id": 2}]).encode()

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    monkeypatch.setattr(urllib.request, "urlopen", lambda req, timeout=None: FakeResp())
    out = HttpTransport(retries=1).post("http://example.invalid/hook", {"x": 1}, {})
    assert out["_status"] == 200
    assert out["raw"] == [{"id": 1}, {"id": 2}]
