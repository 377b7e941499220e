"""Metric declarations (read from ``BENCHMARK.json``) and the per-layer
summary of a traced run."""

from __future__ import annotations

import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-layer metric (prefix) -> the metric and workload it should move;
#: printed with every traced run. Longest matching prefix wins. Per-op costs
#: move the gated ``cold_op_s`` (op 0 runs the same code) and the info
#: line's steady-state ``op_p50_s`` / ``cpu_s_per_op``.
TARGETS = {
    "session.": "setup_s on all workloads",
    "catalog.": "cold_op_s on dq_gate and refresh_cycle",
    "checks.": "cold_op_s and op_p50_s on dq_gate (small on refresh_cycle)",
    "plans.orchestration.": "cold_op_s and op_p50_s on refresh_cycle only",
    "sources.writers.": "cold_op_s and op_p50_s on refresh_cycle only",
    "alerts.": "cold_op_s and op_p50_s on refresh_cycle",
    "streaming.pipeline.": "cold_op_s and op_p50_s on refresh_cycle",
    "queries.dq_suite_report": "cold_op_s and op_p50_s on dq_gate",
    "spark.jobs": "op_p50_s on dq_gate (per-job floor)",
    "spark.stages": "op_p50_s on dq_gate (per-job floor)",
    "spark.tasks": "op_p50_s on dq_gate (per-job floor)",
    "spark.input_bytes": "op_p50_s on dq_gate (scan)",
    "spark.output_bytes": "op_p50_s on refresh_cycle (writes)",
    "spark.shuffle_": "op_p50_s on refresh_cycle (validation DAG joins)",
    "spark.spill_bytes": "op_p50_s on refresh_cycle",
    "spark.executor_": "cpu_s_per_op on all workloads",
    "spark.gc_s": "op_p50_s and cpu_s_per_op on all workloads",
    "spark.busy_share": "op_p50_s on dq_gate (runner concurrency)",
    "driver.": "op_p50_s on dq_gate (driver-side planning)",
    "trace.": "none: tracing overhead, traced minus untraced op_p50_s",
}


def declared(trace: int) -> list[dict]:
    """The metrics a run prints: ``end_to_end`` untraced, ``per_layer``
    traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def target(name: str) -> str:
    return TARGETS[max((p for p in TARGETS if name.startswith(p)), key=len)]


def per_layer(res: dict, window: list[dict]) -> dict[str, float]:
    """Median over the traced window ops of every per-op layer metric
    (0 for a layer the workload never enters), plus run-level values."""
    traced = [o for o in window if o["traced"] and o["error"] is None]
    untraced = [o for o in window if not o["traced"] and o["error"] is None]
    out = {}
    for m in declared(1):
        name = m["name"]
        values = [o["layers"].get(name, 0.0) for o in traced]
        out[name] = statistics.median(values) if values else 0.0
    out["session.get_spark_s"] = res["get_spark_s"]
    # idempotent sink: total rows the alert sink wrote over the whole run
    out["alerts.rows_written"] = sum(
        o["layers"].get("alerts.rows_written", 0) for o in res["ops"] if o["traced"]
    )
    p50 = [statistics.median(o["wall_s"] for o in ops) if ops else 0.0 for ops in (traced, untraced)]
    out["trace.op_p50_s"], out["trace.untraced_op_p50_s"] = p50
    out["trace.overhead_s"] = p50[0] - p50[1]
    return out
