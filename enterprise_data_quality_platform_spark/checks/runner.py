"""Check-suite runner: plan a suite into as few Spark jobs as its answers
need, run them concurrently with per-check fault isolation, gate.

Semantics reproduced from the reference:
- per-check try/except isolation — one failing check never kills the suite
  (``/root/reference/airflow/dags/pager-workflow.py:158-233``, and
  ``run_all_validations`` in ``/root/reference/analysis.md:9``);
- pass/fail summary aggregation (``pager-workflow.py:236-245``);
- threshold gate that raises after alerts are written
  (``pager-workflow.py:139-143,247-267``).

Execution differs deliberately. The reference runs one BigQuery round-trip
per check (5 queries over 2 tables for 5 checks); at 100TB each round-trip
is a full scan. Here ``plan_suite`` answers each check from the cheapest
evidence that proves it, and ``run_suite`` executes that plan:

- A table read bare from parquet answers its row counts, null-free
  not_null checks and in-bounds integral values_between checks from its
  footers, with no job (``compiler.footer_row``).
- A table with a ``categorical`` check gets ONE groupBy factor
  (``compiler.grouped_frame``). It answers the categorical checks, their
  violation samples and the table's other additive count checks.
- The table's remaining aggregate checks fuse into one 1-row ``df.agg``
  factor; every check with its own plan shape (distinct counts,
  referential integrity, histograms, z-scores, monotonic windows) carries
  its own factor.
- Schema checks are answered from the table's schema, with no job
  (``compiler.schema_result``).
- ``plan_suite`` builds no DataFrame: a factor carries a builder, and the
  pool thread that runs the factor builds its frame, so DataFrame analysis
  overlaps the other factors' jobs. Every factor is submitted concurrently
  from one thread pool, and a failing check's leftover violation sample
  joins the same pool as soon as its factor's row shows the failure, so
  suite wall time tracks the slowest factor, not the sum. (An earlier
  design crossJoined the factors into one action with AQE off; at sf10
  that overlapped stages poorly — 2.5 s vs 1.2 s for concurrent jobs.)
- If a shared factor fails, in analysis (e.g. a column the table lacks) or
  at runtime (e.g. one ANSI-throwing expression), each of its checks is
  rerun alone; a check alone that fails is an ``error`` result. So
  per-check isolation holds.
"""

from __future__ import annotations

import dataclasses
from collections import defaultdict
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import partial
from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..catalog import Footer, footer_of
from ..session import local_frame
from .compiler import (
    ADDITIVE_TYPES,
    SAMPLEABLE_TYPES,
    CompiledAggCheck,
    compile_agg_check,
    footer_row,
    grouped_frame,
    is_categorical,
    schema_result,
    violation_sample_df,
    _result,
)
from .definitions import SCHEMA_CHECK_TYPES, Check, CheckResult, REPORT_SCHEMA


def _error_result(check: Check, exc: Exception) -> CheckResult:
    return _result(check, "error", None, None, {}, error=f"{type(exc).__name__}: {exc}")


@dataclass
class Member:
    """One check answered by a factor's 1-row result."""

    index: int
    check: Check
    evaluate: Callable[[Mapping[str, Any]], CheckResult]
    #: builds the check's own frame, rerun alone when its shared factor fails
    solo: Callable[[], DataFrame] | None = None
    #: the factor row's column holding this check's violation sample
    sample_key: str | None = None
    #: a separate sample query, run only if the check fails
    sample: Callable[[], DataFrame] | None = None


@dataclass
class Factor:
    """One Spark action: a builder of a 1-row frame, called on the pool
    thread that runs it, and the checks that row answers."""

    name: str
    build: Callable[[], DataFrame]
    members: list[Member]


@dataclass
class SuitePlan:
    """What ``plan_suite`` decided, before any frame is built: the factors
    and the results already known (schema checks, footer-decided checks,
    compile errors). Every check is in exactly one of them."""

    factors: list[Factor] = field(default_factory=list)
    decided: dict[int, CheckResult] = field(default_factory=dict)


def _agg_frame(df: DataFrame, compiled: Sequence[CompiledAggCheck]) -> DataFrame:
    return df.agg(*[e.alias(a) for c in compiled for a, e in c.exprs.items()])


def _solo_frame(
    df: DataFrame, snap: Footer | None, compiled: CompiledAggCheck
) -> DataFrame:
    if compiled.frame_builder is not None:
        return compiled.frame_builder(df, snap)
    if is_categorical(compiled.check):
        return grouped_frame(df, [compiled])
    return _agg_frame(df, [compiled])


def _member(
    i: int, compiled: CompiledAggCheck, df: DataFrame, snap: Footer | None, shared: bool
) -> Member:
    check = compiled.check
    sampleable = check.check_type in SAMPLEABLE_TYPES and check.column is not None
    in_row = sampleable and is_categorical(check)
    return Member(
        i,
        check,
        lambda row: compiled.evaluate(row, compiled.prefix),
        solo=partial(_solo_frame, df, snap, compiled) if shared else None,
        sample_key=f"{compiled.prefix}__sample" if in_row else None,
        sample=partial(violation_sample_df, df, check)
        if sampleable and not in_row
        else None,
    )


def plan_suite(tables: Mapping[str, DataFrame], checks: Sequence[Check]) -> SuitePlan:
    """Lower ``checks`` to factors without building a frame or running any
    Spark action; each factor's frame is built by the pool thread that runs
    it, so its analysis errors isolate like runtime ones.

    Schema and footer-decided checks get their results here. Per table the
    rest become one groupBy factor when it has a categorical check, one
    ``df.agg`` factor for the other fusable checks, and one factor per
    check with its own frame (``frame_builder``)."""
    plan = SuitePlan()
    by_table: dict[str, list[tuple[int, CompiledAggCheck]]] = defaultdict(list)
    for i, check in enumerate(checks):
        try:
            if check.check_type in SCHEMA_CHECK_TYPES:
                plan.decided[i] = schema_result(check, tables[check.table])
                continue
            compiled = compile_agg_check(check, prefix=f"c{i}", tables=tables)
            if check.table not in tables:
                raise KeyError(f"table not loaded: {check.table}")
            by_table[check.table].append((i, compiled))
        except Exception as exc:  # noqa: BLE001 — isolation is the contract
            plan.decided[i] = _error_result(check, exc)

    for name, group in by_table.items():
        df, undecided = tables[name], []
        snap = footer_of(df)
        for i, compiled in group:
            row = None if snap is None else footer_row(compiled, snap)
            if row is None:
                undecided.append((i, compiled))
                continue
            try:
                plan.decided[i] = compiled.evaluate(row, compiled.prefix)
            except Exception as exc:  # noqa: BLE001
                plan.decided[i] = _error_result(compiled.check, exc)
        grouped = any(is_categorical(c.check) for _, c in undecided)
        shared: dict[str, list[tuple[int, CompiledAggCheck]]] = defaultdict(list)
        for i, compiled in undecided:
            if compiled.frame_builder is None:
                kind = (
                    "grouped"
                    if grouped and compiled.check.check_type in ADDITIVE_TYPES
                    else "agg"
                )
                shared[kind].append((i, compiled))
                continue
            plan.factors.append(
                Factor(
                    f"{name}.{compiled.prefix}",
                    partial(_solo_frame, df, snap, compiled),
                    [_member(i, compiled, df, snap, shared=False)],
                )
            )
        for kind, members in shared.items():
            compiled_members = [c for _, c in members]
            build = grouped_frame if kind == "grouped" else _agg_frame
            plan.factors.append(
                Factor(
                    f"{name}.{kind}",
                    partial(build, df, compiled_members),
                    [_member(i, c, df, snap, len(members) > 1) for i, c in members],
                )
            )
    return plan


def _first_row(build: Callable[[], DataFrame]) -> dict:
    return build().collect()[0].asDict()


def _sample_values(build: Callable[[], DataFrame]) -> list:
    return [row[0] for row in build().collect()]


def _attach_sample(result: CheckResult, values) -> None:
    if values:
        result.observed["sample"] = str(sorted(values))


def _execute(
    session: SparkSession,
    factors: Sequence[Factor],
    results: dict[int, CheckResult],
    workers: int,
) -> None:
    """Build and run every factor in one pool of ``workers`` threads;
    evaluate each row as it lands. A factor whose frame fails analysis or
    whose job fails reruns each member alone (``Member.solo``), or, alone
    already, is that check's ``error``. A failing check's sample is read
    from its row (``Member.sample_key``) or submitted into the same pool at
    once (``Member.sample``). Pool threads inherit the caller's job group
    and tags, so the suite's jobs are attributed to its caller."""
    with ThreadPoolExecutor(max_workers=workers) as pool:

        def submit(fn, arg):
            return pool.submit(inheritable_thread_target(session)(fn), arg)

        pending = {submit(_first_row, f.build): f.members for f in factors}
        samples = {}
        while pending:
            done, _ = wait(pending, return_when=FIRST_COMPLETED)
            for fut in done:
                members, exc = pending.pop(fut), fut.exception()
                for m in members:
                    try:
                        if exc is None:
                            row = fut.result()
                            results[m.index] = r = m.evaluate(row)
                        elif m.solo is not None:
                            # a shared factor failed: rerun this check
                            # alone so one poisoned expression can't sink
                            # its neighbours
                            solo = [dataclasses.replace(m, solo=None)]
                            pending[submit(_first_row, m.solo)] = solo
                            continue
                        else:
                            raise exc
                    except Exception as err:  # noqa: BLE001
                        results[m.index] = _error_result(m.check, err)
                        continue
                    if r.status != "fail":
                        continue
                    if m.sample_key is not None:
                        _attach_sample(r, row.get(m.sample_key))
                    elif m.sample is not None:
                        samples[submit(_sample_values, m.sample)] = r
        for fut, r in samples.items():
            if fut.exception() is None:  # a sample is best-effort decoration
                _attach_sample(r, fut.result())


def run_suite(
    tables: Mapping[str, DataFrame], checks: Sequence[Check]
) -> list[CheckResult]:
    """Run all checks; never raises for an individual check's failure.

    ``plan_suite``'s factors are submitted concurrently. A failing
    sampleable check carries ``observed["sample"]``: up to ``SAMPLE_CAP``
    distinct violating values, sorted. A categorical check's sample is the
    smallest ``SAMPLE_CAP`` values; any other check's is an arbitrary
    ``SAMPLE_CAP`` of them when more violate."""
    plan = plan_suite(tables, checks)
    results = dict(plan.decided)
    if plan.factors:
        session = next(iter(tables.values())).sparkSession
        _execute(session, plan.factors, results, min(len(plan.factors), 8))
    return [results[i] for i in sorted(results)]


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
