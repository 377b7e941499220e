"""One benchmark process: set up a session, run one workload's closed loop
(one client, ops back to back), check every op's output, and write the
measurements as JSON. Started by ``run.py``; not meant to be run by hand.

Phases: the first op is the cold op; a fixed number of further ops warm
the JIT (fewer if a time cap runs out); the steady-state window then runs
ops until ``--seconds`` have passed. With ``--trace 1`` the window
alternates traced and untraced ops, so tracing overhead is measured in the
same process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

# warm-up ops after the cold op, per workload: counted in ops, not seconds,
# so the window starts at the same point of the JIT ramp on a loaded host.
# On a 4-vCPU VM, dq_gate op latency stops falling after 6-8 ops;
# refresh_cycle keeps falling for 15 ops, more than a run can afford, so
# its window covers the same early stretch of the ramp in every run. The
# cap keeps a run within its time budget when the host steals CPU.
WARMUP_OPS = {"dq_gate": 6, "refresh_cycle": 2}
WARMUP_CAP_S = 16.0

VALIDATION_STATUS = {
    "validate_raw": "success",
    "transform": "success",
    "validate_transformed": "success",
    "alert_and_gate": "failed",
}


def proc_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` (all threads)."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return total


class DqGate:
    """Each op: ``dq_suite_report(spark, tier).collect()``, checked against
    the query's DuckDB oracle on the same tier."""

    def __init__(self, spark, tier: str, work: str, seed: int):
        import duckdb

        from enterprise_data_quality_platform_spark.queries import oracle_sqls
        from enterprise_data_quality_platform_spark.queries.dq import dq_suite_report

        self.spark, self.tier, self.query = spark, tier, dq_suite_report
        con = duckdb.connect()
        for t in ("lineitem", "orders", "nation", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tier}/{t}.parquet')")
        self.expected = sorted(con.execute(oracle_sqls(tier)["dq_suite_report"]).fetchall())
        con.close()

    def op(self, i: int, tracer):
        if tracer is None:
            return self.query(self.spark, self.tier).collect()
        return tracer.span("queries.dq_suite_report", lambda: self.query(self.spark, self.tier).collect())

    def check(self, i: int, rows) -> str | None:
        got = sorted(tuple(r) for r in rows)
        return None if got == self.expected else f"suite report {got} != oracle {self.expected}"

    def cleanup(self, i: int) -> None:
        pass


class RefreshCycle:
    """Each op: the streaming DQ gate over the events tier with a fresh
    checkpoint, a one-date incremental refresh of the events mart, then the
    validation DAG with its deliberate whitelist failure."""

    def __init__(self, spark, tier: str, work: str, seed: int):
        import datetime as dt

        import numpy as np

        from enterprise_data_quality_platform_spark.checks import Check
        from enterprise_data_quality_platform_spark.plans import reference_pipelines
        from enterprise_data_quality_platform_spark.streaming.pipeline import (
            run_streaming_dq_gate,
        )

        self.spark, self.tier, self.work = spark, tier, work
        self.pipelines = reference_pipelines
        self.stream_gate = run_streaming_dq_gate
        # the mart every op refreshes one date of, written by run.py before
        # this process started; its partitions are each op's expected output
        self.mart = os.path.join(work, "mart")
        self.alerts = os.path.join(work, "alerts")
        self.stream_checks = [
            Check("event id not null", "not_null", "events", column="event_id"),
            Check("event type domain", "values_in_set", "events", column="event_type",
                  params={"values": ["click", "error", "purchase", "signup", "view"]}),
            Check("value in range", "values_between", "events", column="value",
                  params={"min": 0.0, "max": 1000.0}),
        ]
        self.expected = {
            dt.date.fromisoformat(part.split("=", 1)[1]): mart_rows(os.path.join(self.mart, part))
            for part in os.listdir(self.mart)
        }
        self.n_events = sum(r[1] for rows in self.expected.values() for r in rows)
        dates = sorted(self.expected)
        self.dates = [dates[j] for j in np.random.default_rng(seed).permutation(len(dates))]

    def _ckpt(self, i: int) -> str:
        return os.path.join(self.work, f"ckpt-{i}")

    def op(self, i: int, tracer):
        from perfbench.trace import wrap_stages

        p = self.pipelines
        if tracer is None:
            stream = self.stream_gate(self.spark, self.tier, self.stream_checks, checkpoint_dir=self._ckpt(i))
        else:
            stream = tracer.span(
                "streaming.pipeline.run_streaming_dq_gate", self.stream_gate,
                self.spark, self.tier, self.stream_checks, checkpoint_dir=self._ckpt(i),
            )
            tracer.count("streaming.pipeline.run_streaming_dq_gate.batches", len(stream))
            tracer.count("streaming.pipeline.run_streaming_dq_gate.rows", sum(s["rows"] for s in stream))
        day = self.dates[i % len(self.dates)]
        refresh = wrap_stages(
            tracer, p.incremental_refresh_pipeline(self.spark, self.tier, self.mart, refresh_dates=[day])
        ).run()
        validation = wrap_stages(
            tracer, p.validation_pipeline(self.spark, self.tier, self.alerts, inject_failure=True)
        ).run(raise_on_failure=False)
        return stream, day, refresh, validation

    def check(self, i: int, out) -> str | None:
        import pyarrow.parquet as pq

        stream, day, refresh, validation = out
        rows = sum(s["rows"] for s in stream)
        if not stream or rows != self.n_events or any(s["overall_status"] != "pass" for s in stream):
            return f"stream gate: {len(stream)} batches, {rows} rows of {self.n_events}"
        if set(refresh["__status__"].values()) != {"success"}:
            return f"refresh DAG status {refresh['__status__']}"
        got = mart_rows(os.path.join(self.mart, f"p_date={day.isoformat()}"))
        if got != self.expected[day]:
            return f"refreshed partition {day}: {got} != {self.expected[day]}"
        if validation["__status__"] != VALIDATION_STATUS:
            return f"validation DAG status {validation['__status__']}"
        failed = [r.check_name for r in validation["transformed_results"] if r.status != "pass"]
        if failed != ["nation whitelist"]:
            return f"validation failures {failed}"
        n_alerts = pq.read_table(self.alerts).num_rows
        if n_alerts != 2:  # one trigger per channel, never re-paged
            return f"alert sink holds {n_alerts} rows, want 2"
        return None

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._ckpt(i), ignore_errors=True)


def mart_rows(partition: str) -> list[tuple]:
    """Sorted (event_type, event_count, total_value) rows of one mart
    partition directory."""
    import pyarrow.parquet as pq

    t = pq.read_table(partition, columns=["event_type", "event_count", "total_value"])
    return sorted(zip(*(t[c].to_pylist() for c in t.column_names)))


WORKLOADS = {"dq_gate": DqGate, "refresh_cycle": RefreshCycle}


def finish(result: dict, path: str) -> None:
    """Write the result, then end the process tree at once: the JVM is
    killed rather than stopped, since shutdown is not measured."""
    with open(path, "w") as f:
        json.dump(result, f, default=str)
    for pid in proc_tree(os.getpid())[1:]:
        os.kill(pid, signal.SIGKILL)
    os._exit(0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--tier", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--launch-ts", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from enterprise_data_quality_platform_spark import session

    t_spark = time.perf_counter()
    spark = session.get_spark()
    get_spark_s = time.perf_counter() - t_spark
    setup_s = time.time() - args.launch_ts
    result = {"setup_s": setup_s, "get_spark_s": get_spark_s}
    cores = session.default_parallelism()
    pids = proc_tree(os.getpid())
    t_prepare = time.perf_counter()
    workload = WORKLOADS[args.workload](spark, args.tier, args.work, args.seed)
    result["prepare_s"] = time.perf_counter() - t_prepare

    tracer = None
    if args.trace:
        from perfbench.trace import StatusStore, Tracer

        tracer = Tracer(StatusStore(spark))

    ops = []  # dicts: phase, wall_s, cpu_s, traced, error, layers
    t_start = time.perf_counter()
    phase, window_start = "cold", None
    while True:
        i = len(ops)
        traced = tracer is not None and i % 2 == 0
        if traced:
            tracer.reset()
            tracer.install()
            lo = tracer.store.watermark()
        py0, cpu0, t0 = time.process_time(), tree_cpu_s(pids), time.perf_counter()
        error = None
        try:
            out = workload.op(i, tracer if traced else None)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            out, error = None, f"{type(exc).__name__}: {exc}"
        t1, cpu1, py1 = time.perf_counter(), tree_cpu_s(pids), time.process_time()
        rec = {"phase": phase, "wall_s": t1 - t0, "cpu_s": cpu1 - cpu0, "traced": traced}
        if traced:
            tracer.uninstall()
            rec["layers"] = tracer.summarize(t1 - t0, cores, lo, tracer.store.watermark())
            rec["layers"]["driver.py_cpu_s"] = py1 - py0
        if error is None:
            try:
                error = workload.check(i, out)
            except Exception as exc:  # noqa: BLE001
                error = f"check raised {type(exc).__name__}: {exc}"
        rec["error"] = error
        workload.cleanup(i)
        ops.append(rec)

        now = time.perf_counter()
        if phase == "cold":
            phase, warm_start = "warmup", now
        elif phase == "warmup" and (
            i >= WARMUP_OPS[args.workload] or now - warm_start >= WARMUP_CAP_S
        ):
            phase, window_start = "window", now
        elif phase == "window" and now - window_start >= args.seconds:
            break
    pids = proc_tree(os.getpid())
    result.update(
        ops=ops,
        cores=cores,
        window_s=time.perf_counter() - window_start,
        run_s=time.perf_counter() - t_start,
        peak_rss_mb=tree_peak_rss_mb(pids),
        tree_cpu_s=tree_cpu_s(pids),
        disk_bytes_end=dir_bytes(args.work),
    )
    finish(result, args.out)


if __name__ == "__main__":
    sys.exit(main())
