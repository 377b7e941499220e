"""Pipeline orchestration (SURVEY.md §2.5 O1-O4).

The reference's control plane is Airflow: DAGs with ``>>`` fan-in edges
(``/root/reference/airflow/dags/Glue-etl-pipeline.py:125-129`` — three
master-data builds feed Sales-Enrichment, then a validation Beta-Layer),
retry policies (``pager-workflow.py:275-276``, ``retries=0`` on the alert
task ``:320``), and gate-raise short-circuits (``:143,267``).

Here the same semantics are plain Python over one SparkSession — an engine
doesn't need a scheduler to express a dependency graph:

- ``Stage``: name + fn(ctx) -> result + upstream names + retries. Results
  land in the shared ctx dict (the XCom analogue).
- topological execution; a failed stage (after retries) marks all
  transitive downstreams skipped — Airflow's upstream_failed.
- gate stages raise ``ValidationGateError`` to stop the line; alert
  stages run with retries=0 semantics replaced by idempotent sink writes
  (``alerts.py``), so retrying never double-pages.

Independent stages are submitted concurrently via a thread pool: Spark's
scheduler interleaves their jobs (FIFO/fair), which is exactly how the
Glue DAG's three parallel master-data jobs overlap.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any, Callable

Ctx = dict[str, Any]

#: Stages that run at once.
MAX_PARALLEL = 4


@dataclass
class Stage:
    name: str
    fn: Callable[[Ctx], Any]
    upstream: tuple[str, ...] = ()
    retries: int = 0


class StageFailure(RuntimeError):
    def __init__(self, stage: str, cause: Exception):
        self.stage, self.cause = stage, cause
        super().__init__(f"stage {stage!r} failed: {type(cause).__name__}: {cause}")


@dataclass
class Pipeline:
    stages: list[Stage] = field(default_factory=list)

    def add(
        self,
        name: str,
        fn: Callable[[Ctx], Any],
        upstream: tuple[str, ...] = (),
        retries: int = 0,
    ) -> "Pipeline":
        if any(s.name == name for s in self.stages):
            raise ValueError(f"duplicate stage name: {name}")
        self.stages.append(Stage(name, fn, upstream, retries))
        return self

    def run(self, ctx: Ctx | None = None, raise_on_failure: bool = True) -> Ctx:
        """Execute respecting dependencies; returns ctx with per-stage
        results under their names plus ``__status__``: name ->
        success|failed|skipped."""
        ctx = ctx if ctx is not None else {}
        by_name = {s.name: s for s in self.stages}
        for s in self.stages:
            for up in s.upstream:
                if up not in by_name:
                    raise ValueError(f"stage {s.name!r}: unknown upstream {up!r}")
        status: dict[str, str] = {}
        errors: dict[str, Exception] = {}
        pending = dict(by_name)
        running: dict[Future, str] = {}

        def attempt(stage: Stage) -> Any:
            for _ in range(stage.retries):
                try:
                    return stage.fn(ctx)
                except Exception:  # noqa: BLE001 — the last attempt raises
                    pass
            return stage.fn(ctx)

        with ThreadPoolExecutor(max_workers=MAX_PARALLEL) as pool:
            while pending or running:
                progressed = False
                for name in list(pending):
                    stage = pending[name]
                    ups = [status.get(u) for u in stage.upstream]
                    if any(u in ("failed", "skipped") for u in ups):
                        status[name] = "skipped"
                        del pending[name]
                        progressed = True
                    elif all(u == "success" for u in ups):
                        running[pool.submit(attempt, stage)] = name
                        del pending[name]
                        progressed = True
                if not running:
                    if pending and not progressed:
                        # nothing runnable, nothing in flight, nothing newly
                        # resolved: the remaining stages wait on each other —
                        # a dependency cycle. Raise instead of busy-spinning.
                        raise ValueError(
                            "dependency cycle among stages: "
                            + ", ".join(sorted(pending))
                        )
                    continue
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    exc = fut.exception()
                    if exc is None:
                        ctx[name] = fut.result()
                        status[name] = "success"
                    else:
                        status[name] = "failed"
                        errors[name] = exc  # type: ignore[assignment]

        ctx["__status__"] = status
        if errors and raise_on_failure:
            name, cause = next(iter(errors.items()))
            raise StageFailure(name, cause)
        return ctx
