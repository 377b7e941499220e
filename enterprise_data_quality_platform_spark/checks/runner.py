"""Check-suite runner: whole-suite scan fusion, per-check fault isolation,
gate.

Semantics reproduced from the reference:
- per-check try/except isolation — one failing check never kills the suite
  (``/root/reference/airflow/dags/pager-workflow.py:158-233``, and
  ``run_all_validations`` in ``/root/reference/analysis.md:9``);
- pass/fail summary aggregation (``pager-workflow.py:236-245``);
- threshold gate that raises after alerts are written
  (``pager-workflow.py:139-143,247-267``).

Execution differs deliberately. The reference runs one BigQuery round-trip
per check (5 queries over 2 tables for 5 checks); at 100TB each round-trip
is a full scan. Here the suite compiles into a handful of 1-row aggregate
FACTORS — all expression checks on the same table fuse into ONE aggregate
over one scan; distinct-shaped and referential-integrity checks carry their
own factor — and the runner submits every factor's job CONCURRENTLY from a
small thread pool. N checks over M tables cost ~M scans, and suite wall
time is max(factor), not sum(factors). (The previous design crossJoined
the factors into one action with AQE off; measured at sf10 the one-DAG
form overlapped stages poorly — 2.5 s vs 1.2 s for concurrent jobs —
because the scheduler walks the join chain's stage dependencies serially
as each broadcast side materializes.) If a fused table-factor fails at
runtime (e.g. one ANSI-throwing expression), its checks are retried
individually so per-check isolation is preserved.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timezone
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from .compiler import (
    SAMPLE_CAP,
    SAMPLEABLE_TYPES,
    CompiledAggCheck,
    compile_agg_check,
    evaluate_ri,
    ri_frame,
    run_plan_check,
    violation_sample_df,
    _result,
)
from .definitions import AGG_CHECK_TYPES, Check, CheckResult, REPORT_SCHEMA


def _error_result(check: Check, exc: Exception) -> CheckResult:
    return _result(check, "error", None, None, {}, error=f"{type(exc).__name__}: {exc}")


def _attach_samples(
    tables: Mapping[str, DataFrame],
    checks: Sequence[Check],
    results: dict[int, CheckResult],
) -> None:
    """Enrich FAILED row-condition checks with a capped violating-value
    sample via a separate limit-k query per failure. Failures are the rare
    path, so this costs nothing when the suite is green, and the fused scan
    never carries unbounded collect_set state."""
    for i, r in results.items():
        check = checks[i]
        if (
            r.status != "fail"
            or check.check_type not in SAMPLEABLE_TYPES
            or check.column is None
            or check.table not in tables
        ):
            continue
        try:
            vals = [
                row[0]
                for row in violation_sample_df(
                    tables[check.table], check, SAMPLE_CAP
                ).collect()
            ]
            if vals:
                r.observed["sample"] = str(sorted(vals))
        except Exception:  # noqa: BLE001 — sample is best-effort decoration
            pass


def run_suite(
    tables: Mapping[str, DataFrame],
    checks: Sequence[Check],
    fuse: bool = True,
    sample_violations: bool = True,
) -> list[CheckResult]:
    """Run all checks; never raises for an individual check's failure.

    ``fuse=True`` (default): expression checks sharing a table compile into
    one aggregate factor per table; every factor's job is submitted
    concurrently, so suite wall time tracks the slowest factor. ``fuse=
    False`` runs one job per check, serially (the isolation-debug path).
    """
    results: dict[int, CheckResult] = {}
    agg_groups: dict[str, list[tuple[int, CompiledAggCheck]]] = defaultdict(list)
    ri_checks: list[tuple[int, Check, DataFrame]] = []

    for i, check in enumerate(checks):
        try:
            if check.check_type in AGG_CHECK_TYPES:
                compiled = compile_agg_check(check, prefix=f"c{i}")
                if check.table not in tables:
                    raise KeyError(f"table not loaded: {check.table}")
                agg_groups[check.table].append((i, compiled))
            elif check.check_type == "referential_integrity":
                ri_checks.append((i, check, ri_frame(check, tables, prefix=f"c{i}")))
            else:
                results[i] = run_plan_check(check, tables)
        except Exception as exc:  # noqa: BLE001 — isolation is the contract
            results[i] = _error_result(check, exc)

    # A job = (1-row frame, members). Each member is (index, check, evaluate,
    # solo_builder): ``evaluate`` turns the collected row into a CheckResult;
    # ``solo_builder`` (fused expr groups only) rebuilds that check's own
    # 1-row frame for the isolation retry when a shared factor fails at
    # runtime (e.g. one ANSI-throwing expression).
    Member = tuple  # (int, Check, Callable[[dict], CheckResult], Callable | None)
    jobs: list[tuple[DataFrame, list[Member]]] = []

    def _agg_member(i: int, compiled: CompiledAggCheck, solo) -> Member:
        return (
            i,
            compiled.check,
            lambda row, c=compiled: c.evaluate(row, c.prefix),
            solo,
        )

    for table_name, group in agg_groups.items():
        df = tables[table_name]
        # distinct-shaped checks carry their own groupBy factor (see
        # CompiledAggCheck.frame_builder) — each is its own concurrent job
        # instead of Expand-ing the shared scan
        for i, compiled in group:
            if compiled.frame_builder is None:
                continue
            try:
                jobs.append(
                    (compiled.frame_builder(df), [_agg_member(i, compiled, None)])
                )
            except Exception as exc:  # noqa: BLE001
                results[i] = _error_result(compiled.check, exc)
        expr_group = [
            (i, c) for i, c in group if c.frame_builder is None and i not in results
        ]
        if not expr_group:
            continue

        def solo_frame(compiled: CompiledAggCheck, df: DataFrame = df) -> DataFrame:
            return df.agg(
                *[c.alias(a) for a, c in compiled.exprs.items()]
            )

        if fuse:
            exprs = [
                col.alias(alias)
                for _, compiled in expr_group
                for alias, col in compiled.exprs.items()
            ]
            try:
                jobs.append(
                    (
                        df.agg(*exprs),
                        [
                            # bind solo_frame at definition: it is redefined
                            # per table iteration, and the isolation retry
                            # runs LATER (after the loop) — a late-bound name
                            # would aggregate against the last table's frame
                            _agg_member(i, c, lambda c=c, sf=solo_frame: sf(c))
                            for i, c in expr_group
                        ],
                    )
                )
                continue
            except Exception:
                pass  # one bad expression failed the group's analysis —
                # fall through to per-check frames so the good ones run
        for i, compiled in expr_group:
            try:
                jobs.append(
                    (solo_frame(compiled), [_agg_member(i, compiled, None)])
                )
            except Exception as exc:  # noqa: BLE001
                results[i] = _error_result(compiled.check, exc)
    for i, check, frame in ri_checks:
        jobs.append(
            (
                frame,
                [
                    (
                        i,
                        check,
                        lambda row, c=check, p=f"c{i}": evaluate_ri(c, row, p),
                        None,
                    )
                ],
            )
        )

    def finish() -> list[CheckResult]:
        if sample_violations:
            _attach_samples(tables, checks, results)
        return [results[i] for i in sorted(results)]

    if not jobs:
        return finish()

    def collect_row(frame: DataFrame):
        try:
            return frame.collect()[0].asDict()
        except Exception as exc:  # noqa: BLE001
            return exc

    if fuse and len(jobs) > 1:
        # concurrent submission: the scheduler interleaves the factor jobs
        # across all cores, so the suite costs max(factor) wall, not
        # sum(factors). Pool is bounded — each thread holds a py4j
        # connection and job-submission slot, not executor resources.
        with ThreadPoolExecutor(max_workers=min(len(jobs), 8)) as pool:
            outcomes = list(pool.map(collect_row, (f for f, _ in jobs)))
    else:
        outcomes = [collect_row(f) for f, _ in jobs]

    retry: list[Member] = []
    for (frame, members), outcome in zip(jobs, outcomes):
        if isinstance(outcome, Exception):
            for i, check, _evaluate, solo in members:
                if solo is not None:
                    retry.append((i, check, _evaluate, solo))
                else:
                    results[i] = _error_result(check, outcome)
            continue
        for i, check, evaluate, _solo in members:
            try:
                results[i] = evaluate(outcome)
            except Exception as exc:  # noqa: BLE001
                results[i] = _error_result(check, exc)
    # isolation retry: a shared table-factor died at runtime; rerun each of
    # its checks alone so one poisoned expression can't sink its neighbors
    for i, check, evaluate, solo in retry:
        try:
            results[i] = evaluate(solo().collect()[0].asDict())
        except Exception as exc:  # noqa: BLE001
            results[i] = _error_result(check, exc)
    return finish()


def suite_report_df(spark: SparkSession, results: Iterable[CheckResult]) -> DataFrame:
    """Materialize results as the canonical report table (SURVEY.md §1.4)."""
    rows = [
        (
            r.check_name,
            r.table,
            r.column,
            r.status,
            r.violations,
            r.total,
            r.observed,
            r.error_message,
            r.run_ts,
        )
        for r in results
    ]
    return local_frame(spark, rows, REPORT_SCHEMA)


def summarize(results: Sequence[CheckResult]) -> dict:
    """Pass/fail rollup mirroring pager-workflow.py:236-245."""
    passed = sum(1 for r in results if r.status == "pass")
    failed = [r.check_name for r in results if r.status != "pass"]
    return {
        "total": len(results),
        "passed": passed,
        "failed": len(failed),
        "failed_checks": failed,
        "pass_rate": round(passed / len(results), 4) if results else 1.0,
        "overall_status": "pass" if not failed else "fail",
        "run_ts": datetime.now(timezone.utc).isoformat(),
    }


class ValidationGateError(RuntimeError):
    """Raised by the gate on a failed suite — downstream stages don't run
    (pager-workflow.py:143,267 semantics)."""

    def __init__(self, summary: dict):
        self.summary = summary
        super().__init__(
            f"validation gate failed: {summary['failed']}/{summary['total']} checks "
            f"failed: {', '.join(summary['failed_checks'])}"
        )


def gate(results: Sequence[CheckResult], raise_on_fail: bool = True) -> dict:
    """Evaluate the suite gate. Alert writing happens BEFORE the raise in
    pipelines (see ``alerts.py``), matching the reference's order
    (pager-workflow.py:247-267: alert fan-out, then ``raise ValueError``)."""
    summary = summarize(results)
    if raise_on_fail and summary["overall_status"] != "pass":
        raise ValidationGateError(summary)
    return summary
