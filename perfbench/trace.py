"""Spans around the engine's public functions, and per-op accounting read
from Spark's JVM status store.

Tracing is installed from outside the program: ``Tracer.install`` swaps
each traced function for a timing wrapper in every module that looks the
name up (modules that did ``from x import f`` keep their own reference, so
each of them is patched), and ``uninstall`` puts the originals back. Spans
are kept in memory per op: name, start, end, and the Spark job-id
watermarks at both ends, so the jobs a span submitted are the ids between
them.

Spark counts come from ``AppStatusStore`` after the listener bus drains:
only jobs above the op's starting watermark are read (the store keeps at
most ``spark.ui.retainedJobs`` / ``retainedStages`` entries, so totals over
the whole list would both double count and lose evicted stages). Nothing
here sets a Spark conf.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict

STAGE_FIELDS = {
    # metric name -> (StageData accessor, scale to the metric's unit)
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.gc_s": ("jvmGcTime", 1e-3),
}


class StatusStore:
    """Reads job and stage metrics for a range of job ids."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()

    def watermark(self) -> int:
        """The id the next submitted job will get (py4j hands the JVM's
        AtomicInteger over as its current value)."""
        return int(self._dag.nextJobId())

    def read(self, lo: int, hi: int) -> dict:
        """Totals over the jobs with ids in [lo, hi)."""
        self._bus.waitUntilEmpty(60_000)
        out = defaultdict(float)
        seen_stages: set[int] = set()
        for job_id in range(lo, hi):
            job = self._store.job(job_id)
            out["spark.jobs"] += 1
            out["spark.stages"] += job.numCompletedStages()
            out["spark.stages_skipped"] += job.numSkippedStages()
            out["spark.tasks"] += job.numCompletedTasks()
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in seen_stages:
                    continue
                try:
                    stage = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — never submitted (skipped)
                    continue
                if stage.status().toString() != "COMPLETE":
                    continue
                seen_stages.add(sid)
                for name, (field, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(stage, field)() * scale
                out["spark.spill_bytes"] += (
                    stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                )
        return dict(out)


class Tracer:
    """Collects spans for one op at a time."""

    def __init__(self, store: StatusStore):
        self.store = store
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counts: dict[str, float] = defaultdict(float)

    # -- span recording ---------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        j0, t0 = self.store.watermark(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1, j1 = time.perf_counter(), self.store.watermark()
            with self._lock:
                self.spans.append((name, t0, t1, j0, j1))

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] += value

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            result = self.span(name, fn, *args, **kwargs)
            self.count(f"{name}.calls", 1)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def wrap_writer(self, name: str, fn):
        """Like ``wrap``, plus the data files the write added or replaced
        under its target path (listed outside the span)."""

        @functools.wraps(fn)
        def traced(spark, df, path, *args, **kwargs):
            before = dir_files(path)
            result = self.span(name, fn, spark, df, path, *args, **kwargs)
            after = dir_files(path)
            new = [p for p, v in after.items() if before.get(p) != v]
            self.count(f"{name}.calls", 1)
            self.count(f"{name}.files_written", len(new))
            self.count(f"{name}.bytes_written", sum(after[p][0] for p in new))
            return result

        return traced

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self.counts = defaultdict(float)

    # -- patching ----------------------------------------------------------
    def patch(self, targets: list[tuple[object, str]], name: str, wrap=None):
        """Replace ``attr`` on every (owner, attr) in ``targets`` with one
        traced wrapper, ``wrap(name, original)``, around the original."""
        original = getattr(*targets[0])
        traced = (wrap or self.wrap)(name, original)
        for owner, attr in targets:
            assert getattr(owner, attr) is original, (owner, attr)
            self._patches.append((owner, attr, original))
            setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches = []

    def install(self) -> None:
        """Wrap the engine's layer entry points where they are looked up."""
        from enterprise_data_quality_platform_spark import catalog, checks
        from enterprise_data_quality_platform_spark.alerts import AlertSink
        from enterprise_data_quality_platform_spark.checks import runner
        from enterprise_data_quality_platform_spark.plans import (
            orchestration,
            reference_pipelines,
        )
        from enterprise_data_quality_platform_spark.queries import dq
        from enterprise_data_quality_platform_spark.sources import writers
        from enterprise_data_quality_platform_spark.streaming import pipeline

        self.patch([(catalog, "table"), (dq, "table")], "catalog.table")
        self.patch(
            [(catalog, "load_tables"), (reference_pipelines, "load_tables")],
            "catalog.load_tables",
        )
        self.patch([(runner, "compile_agg_check")], "checks.compiler.compile_agg_check")
        self.patch(
            [
                (runner, "run_suite"),
                (checks, "run_suite"),
                (dq, "run_suite"),
                (reference_pipelines, "run_suite"),
                (pipeline, "run_suite"),
            ],
            "checks.runner.run_suite",
        )
        self.patch([(orchestration.Pipeline, "run")], "plans.orchestration.run")
        self.patch(
            [(writers, "materialize_incremental")],
            "sources.writers.materialize_incremental",
            wrap=self.wrap_writer,
        )
        self.patch(
            [(AlertSink, "trigger_for_failures")],
            "alerts.trigger_for_failures",
            wrap=lambda name, fn: self.wrap(
                name, fn, on_result=lambda n: self.count("alerts.rows_written", n)
            ),
        )

    # -- per-op summary ----------------------------------------------------
    def summarize(self, op_wall_s: float, cores: int, lo: int, hi: int) -> dict:
        """Per-op layer metrics: seconds and jobs per span name, counts, and
        status-store totals over the op's jobs [lo, hi)."""
        totals = self.store.read(lo, hi)
        out = dict(totals)
        out["spark.busy_share"] = totals.get("spark.executor_run_s", 0.0) / (
            op_wall_s * cores
        )
        seconds = defaultdict(float)
        for name, t0, t1, j0, j1 in self.spans:
            key = name if name.startswith(STAGE_PREFIX) else f"{name}_s"
            seconds[key] += t1 - t0
            out[f"{name}.jobs"] = out.get(f"{name}.jobs", 0) + (j1 - j0)
        out.update(seconds)
        out.update(self.counts)
        if "plans.orchestration.run_s" in seconds:
            out["plans.orchestration.overhead_s"] = seconds[
                "plans.orchestration.run_s"
            ] - sum(v for k, v in seconds.items() if k.startswith(STAGE_PREFIX))
        return out


STAGE_PREFIX = "plans.orchestration.stage_s."


def wrap_stages(tracer: Tracer | None, pipeline):
    """Time each stage of a ``Pipeline`` under ``<STAGE_PREFIX><stage>``."""
    if tracer is None:
        return pipeline
    for stage in pipeline.stages:
        stage.fn = functools.partial(tracer.span, STAGE_PREFIX + stage.name, stage.fn)
    return pipeline


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every data file under ``path`` (not the
    hidden checksum and marker files)."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(root, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out
