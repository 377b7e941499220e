"""Suite serialization (SURVEY.md §2.1 S7).

The reference scaffolds Great Expectations stores — expectation suites as
JSON, validation results as JSON, rendered docs
(``/root/reference/great_expectations/great_expectations.yml:6-30``) — but
ships the suites directory empty. Here the same artifacts are first-class:

- suites are plain JSON (GE-compatible field names: expectation suite name,
  per-expectation type/kwargs/meta), loadable into ``Check`` lists;
- validation results are written as a Parquet report table (the queryable
  twin of GE's ValidationsStore);
- a minimal data-docs text render for humans.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from .definitions import Check, CheckResult
from .runner import suite_report_df, summarize

#: GE 0.18 expectation_type → our check_type (the subset with 1:1 mapping;
#: SURVEY.md §2.2 G1-G20).
GE_TYPE_MAP = {
    "expect_table_row_count_to_be_between": "row_count_between",
    "expect_column_values_to_not_be_null": "not_null",
    "expect_column_values_to_be_between": "values_between",
    "expect_column_values_to_be_in_set": "values_in_set",
    "expect_column_values_to_not_be_in_set": "values_not_in_set",
    "expect_column_value_lengths_to_be_between": "value_lengths_between",
    "expect_column_values_to_match_regex": "match_regex",
    "expect_column_values_to_not_match_regex": "not_match_regex",
    "expect_column_values_to_match_strftime_format": "match_strftime",
    "expect_column_values_to_be_dateutil_parseable": "dateutil_parseable",
    "expect_column_values_to_match_like_pattern": "match_like_pattern",
    "expect_column_values_to_not_match_like_pattern": "not_match_like_pattern",
    "expect_column_values_to_match_like_pattern_list": "match_like_pattern_list",
    "expect_column_pair_values_to_be_in_set": "pair_in_set",
    "expect_column_mean_to_be_between": "mean_between",
    "expect_column_stdev_to_be_between": "stddev_between",
    "expect_column_min_to_be_between": "min_between",
    "expect_column_max_to_be_between": "max_between",
    "expect_column_sum_to_be_between": "sum_between",
    "expect_column_unique_value_count_to_be_between": "unique_count_between",
    "expect_column_proportion_of_unique_values_to_be_between": "unique_proportion_between",
    "expect_column_values_to_be_unique": "unique",
    "expect_compound_columns_to_be_unique": "compound_unique",
    "expect_column_quantile_values_to_be_between": "quantile_between",
    "expect_column_most_common_value_to_be_in_set": "most_common_in_set",
    "expect_column_to_exist": "column_exists",
    "expect_table_columns_to_match_ordered_list": "columns_match_list",
    "expect_column_values_to_be_of_type": "column_of_type",
    "expect_column_kl_divergence_to_be_less_than": "kl_divergence_less_than",
    "expect_column_pair_values_a_to_be_greater_than_b": "pair_greater_than",
    "expect_column_pair_values_to_be_equal": "pair_equal",
    "expect_multicolumn_sum_to_equal": "multicolumn_sum_equal",
    "expect_column_values_to_be_json_parseable": "json_parseable",
    "expect_column_distinct_values_to_contain_set": "distinct_contain_set",
    "expect_column_distinct_values_to_equal_set": "distinct_equal_set",
    "expect_table_row_count_to_equal_other_table": "row_count_equal_other_table",
    "expect_column_value_z_scores_to_be_less_than": "z_score_less_than",
    "expect_table_column_count_to_be_between": "column_count_between",
    "expect_column_chisquare_test_p_value_to_be_greater_than": "chi_square_test",
    "expect_column_values_to_be_increasing": "monotonic",
    # decreasing maps to the same check type with params['decreasing']=True
    # (special-cased in check_from_dict/check_to_dict)
    "expect_column_values_to_be_decreasing": "monotonic",
}
_REVERSE_GE = {v: k for k, v in GE_TYPE_MAP.items()}

_KW_RENAMES = {  # GE kwarg → Check param
    "min_value": "min",
    "max_value": "max",
    "value_set": "values",
    "strftime_format": "format",
    "column_list": "column_list",
    "type_": "type",
    "other_table_name": "other_table",
    "like_pattern": "pattern",
    "like_pattern_list": "patterns",
    "value_pairs_set": "value_pairs",
}

#: check types whose GE kwargs spell the column pair as column_A/column_B
_PAIR_TYPES = frozenset({"pair_greater_than", "pair_equal", "pair_in_set"})


def check_to_dict(check: Check) -> dict:
    kwargs: dict = {}
    if check.column:
        kwargs["column"] = check.column
    if check.check_type in _PAIR_TYPES and len(check.columns) == 2:
        # GE spells the pair expectations with column_A/column_B kwargs
        kwargs["column_A"], kwargs["column_B"] = check.columns
    elif check.columns:
        kwargs["column_list"] = list(check.columns)
    reverse_kw = {v: k for k, v in _KW_RENAMES.items()}
    for k, v in check.params.items():
        kwargs[reverse_kw.get(k, k)] = list(v) if isinstance(v, tuple) else v
    if check.mostly != 1.0:
        kwargs["mostly"] = check.mostly
    etype = _REVERSE_GE.get(check.check_type, check.check_type)
    if check.check_type == "monotonic":
        etype = (
            "expect_column_values_to_be_decreasing"
            if check.params.get("decreasing")
            else "expect_column_values_to_be_increasing"
        )
        kwargs.pop("decreasing", None)
    return {
        "expectation_type": etype,
        "kwargs": kwargs,
        "meta": {"name": check.name, "table": check.table},
    }


def check_from_dict(d: dict) -> Check:
    etype = d["expectation_type"]
    check_type = GE_TYPE_MAP.get(etype, etype)
    kwargs = dict(d.get("kwargs", {}))
    meta = d.get("meta", {})
    # GE pairs row_condition with a condition_parser kwarg; the condition
    # compiles to F.expr here, so the parser tag is dropped on load
    kwargs.pop("condition_parser", None)
    column = kwargs.pop("column", None)
    column_a = kwargs.pop("column_A", None)
    column_b = kwargs.pop("column_B", None)
    column_list = list(kwargs.pop("column_list", ()) or ())
    mostly = float(kwargs.pop("mostly", 1.0))
    params = {_KW_RENAMES.get(k, k): v for k, v in kwargs.items()}
    if "values" in params and isinstance(params["values"], list):
        params["values"] = tuple(params["values"])
    if check_type in _PAIR_TYPES and column_a and column_b:
        columns = (column_a, column_b)
    else:
        columns = tuple(column_list)
    if check_type == "columns_match_list":
        # compiler.schema_result reads params['column_list'] — keep it in
        # BOTH places so a saved suite round-trips to a runnable check
        params["column_list"] = column_list
    if etype == "expect_column_values_to_be_decreasing":
        params["decreasing"] = True
    return Check(
        name=meta.get("name", etype),
        check_type=check_type,
        table=meta.get("table", kwargs.get("table", "")),
        column=column,
        columns=columns,
        params=params,
        mostly=mostly,
    )


def save_suite(checks: Sequence[Check], path: str, name: str = "default") -> None:
    doc = {
        "expectation_suite_name": name,
        "expectations": [check_to_dict(c) for c in checks],
        "meta": {"engine": "enterprise_data_quality_platform_spark"},
    }
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    Path(path).write_text(json.dumps(doc, indent=2, default=str))


def load_suite(path: str) -> list[Check]:
    doc = json.loads(Path(path).read_text())
    return [check_from_dict(d) for d in doc["expectations"]]


def write_validation_results(
    spark: SparkSession,
    results: Sequence[CheckResult],
    path: str,
    run_name: str = "default",
) -> DataFrame:
    """ValidationsStore twin: append report rows as Parquet, tagged by run."""
    from pyspark.sql import functions as F

    report = suite_report_df(spark, results).withColumn("run_name", F.lit(run_name))
    report.write.mode("append").parquet(path)
    return report


def render_data_docs_html(
    results: Sequence[CheckResult],
    suite_name: str = "default",
    run_name: str | None = None,
) -> str:
    """Static data-docs page (the HTML analogue of GE's rendered docs site,
    ``/root/reference/great_expectations/great_expectations.yml:21-30``):
    summary banner + pass-rate bar + per-table sections with one row per
    check. Self-contained (inline CSS, no scripts, no external assets) so
    the file works from any object store or `file://`. Deterministic for a
    given result set — run timestamps appear only if the caller passes
    ``run_name`` (golden-file testable)."""
    import html as _html

    s = summarize(results)
    status = s["overall_status"]
    color = "#2e7d32" if status == "pass" else "#c62828"
    pct = s["pass_rate"] * 100

    by_table: dict[str, list[CheckResult]] = {}
    for r in results:
        by_table.setdefault(r.table, []).append(r)

    def esc(v) -> str:
        return _html.escape(str(v))

    rows_html = []
    for tbl in sorted(by_table):
        rows_html.append(f"<h2>table: <code>{esc(tbl)}</code></h2>")
        rows_html.append(
            "<table><thead><tr><th></th><th>check</th><th>column</th>"
            "<th>violations</th><th>observed</th><th>detail</th></tr></thead><tbody>"
        )
        for r in by_table[tbl]:
            mark, cls = {
                "pass": ("&#10003;", "ok"),
                "fail": ("&#10007;", "bad"),
            }.get(r.status, ("!", "err"))
            viol = (
                f"{r.violations}/{r.total}"
                if r.violations is not None and r.total is not None
                else "&mdash;"
            )
            obs = "; ".join(f"{k}={esc(v)}" for k, v in (r.observed or {}).items())
            rows_html.append(
                f'<tr class="{cls}"><td class="mark">{mark}</td>'
                f"<td>{esc(r.check_name)}</td>"
                f"<td><code>{esc(r.column) if r.column else '&mdash;'}</code></td>"
                f"<td>{viol}</td><td>{obs or '&mdash;'}</td>"
                f"<td>{esc(r.error_message) if r.error_message else ''}</td></tr>"
            )
        rows_html.append("</tbody></table>")

    run_line = f"<p class=meta>run: <code>{esc(run_name)}</code></p>" if run_name else ""
    return f"""<!doctype html>
<html lang="en"><head><meta charset="utf-8">
<title>Validation docs — {esc(suite_name)}</title>
<style>
body {{ font: 14px/1.5 system-ui, sans-serif; margin: 2rem auto; max-width: 60rem; color: #222; }}
h1 .badge {{ background: {color}; color: #fff; border-radius: 4px; padding: 2px 10px; font-size: .7em; vertical-align: middle; }}
.bar {{ background: #eee; border-radius: 4px; height: 10px; width: 100%; }}
.bar > div {{ background: {color}; height: 100%; border-radius: 4px; width: {pct:.1f}%; }}
table {{ border-collapse: collapse; width: 100%; margin: .5rem 0 1.5rem; }}
th, td {{ text-align: left; padding: 4px 10px; border-bottom: 1px solid #e5e5e5; }}
tr.bad td {{ background: #fdecea; }}
tr.err td {{ background: #fff8e1; }}
td.mark {{ width: 1.2em; }}
.meta {{ color: #777; }}
</style></head><body>
<h1>Suite <code>{esc(suite_name)}</code> <span class="badge">{esc(status.upper())}</span></h1>
<p>{s['passed']}/{s['total']} checks passed ({pct:.1f}%)</p>
<div class="bar"><div></div></div>
{run_line}
{''.join(rows_html)}
</body></html>
"""


def write_data_docs(
    results: Sequence[CheckResult],
    path: str,
    suite_name: str = "default",
    run_name: str | None = None,
) -> str:
    """Render + write the static docs page; returns the written path."""
    out = Path(path)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(render_data_docs_html(results, suite_name, run_name))
    return str(out)


def render_data_docs(results: Sequence[CheckResult]) -> str:
    """Minimal human-readable docs render (data-docs analogue)."""
    s = summarize(results)
    lines = [
        f"# Validation report — {s['overall_status'].upper()}",
        f"{s['passed']}/{s['total']} checks passed (pass rate {s['pass_rate']:.2%})",
        "",
    ]
    for r in results:
        mark = {"pass": "✓", "fail": "✗"}.get(r.status, "!")
        detail = (
            f" violations={r.violations}/{r.total}" if r.violations is not None else ""
        )
        obs = f" {r.observed}" if r.observed else ""
        err = f" error={r.error_message}" if r.error_message else ""
        lines.append(f"{mark} {r.check_name} [{r.table}]{detail}{obs}{err}")
    return "\n".join(lines)


def render_history_docs_html(
    spark: SparkSession,
    store_path: str,
    suite_name: str = "default",
    max_runs: int = 50,
) -> str:
    """Per-check history page from the validations store: one row per
    check with an inline-SVG sparkline of its last ``max_runs`` runs —
    bar height tracks the violation count (normalized per check), color
    tracks pass/fail/error. The "is this check flaky or degrading?"
    question GE's data-docs answer with per-run pages becomes one glance.

    Runs order by (run_ts, run_name); use sortable run names (ISO
    timestamps, zero-padded sequence numbers) when run_ts granularity
    can tie. The store read aggregates down to checks x runs rows before
    anything collects — the driver never holds more than the rendered
    history. Self-contained static HTML like ``render_data_docs_html``
    (no scripts, no external assets), deterministic for a given store."""
    import html as _html

    from pyspark.sql import functions as F

    report = spark.read.parquet(store_path)
    rows = (
        report.select(
            "check_name",
            "table_name",
            "status",
            "violations",
            "run_ts",
            "run_name",
        )
        .orderBy("run_ts", "run_name")
        .collect()
    )

    history: dict[tuple[str, str], list] = {}
    for r in rows:
        history.setdefault((r["table_name"], r["check_name"]), []).append(r)

    def esc(v) -> str:
        return _html.escape(str(v))

    BAR_W, BAR_GAP, H = 7, 2, 24
    COLORS = {"pass": "#2e7d32", "fail": "#c62828"}

    def spark_svg(runs) -> str:
        runs = runs[-max_runs:]
        mx = max((r["violations"] or 0) for r in runs) or 1
        bars = []
        for i, r in enumerate(runs):
            v = r["violations"] or 0
            # minimum 2px so zero-violation passes stay visible
            h = max(2, round(H * v / mx))
            color = COLORS.get(r["status"], "#f9a825")
            bars.append(
                f'<rect x="{i * (BAR_W + BAR_GAP)}" y="{H - h}" '
                f'width="{BAR_W}" height="{h}" fill="{color}">'
                f"<title>{esc(r['run_name'])}: {esc(r['status'])}"
                f" ({v} violations)</title></rect>"
            )
        w = len(runs) * (BAR_W + BAR_GAP)
        return (
            f'<svg width="{w}" height="{H}" viewBox="0 0 {w} {H}" '
            f'xmlns="http://www.w3.org/2000/svg">{"".join(bars)}</svg>'
        )

    trs = []
    for (tbl, name) in sorted(history):
        runs = history[(tbl, name)]
        last = runs[-1]
        n_fail = sum(1 for r in runs if r["status"] != "pass")
        cls = "ok" if last["status"] == "pass" else "bad"
        trs.append(
            f'<tr class="{cls}"><td><code>{esc(tbl)}</code></td>'
            f"<td>{esc(name)}</td><td>{esc(last['status'])}</td>"
            f"<td>{len(runs)}</td><td>{n_fail}</td>"
            f"<td>{spark_svg(runs)}</td></tr>"
        )

    return f"""<!doctype html>
<html lang="en"><head><meta charset="utf-8">
<title>Validation history — {esc(suite_name)}</title>
<style>
body {{ font: 14px/1.5 system-ui, sans-serif; margin: 2rem auto; max-width: 64rem; color: #222; }}
table {{ border-collapse: collapse; width: 100%; }}
th, td {{ text-align: left; padding: 4px 10px; border-bottom: 1px solid #e5e5e5; }}
tr.bad td {{ background: #fdecea; }}
svg {{ display: block; }}
</style></head><body>
<h1>Check history — suite <code>{esc(suite_name)}</code></h1>
<table><thead><tr><th>table</th><th>check</th><th>latest</th>
<th>runs</th><th>failures</th><th>history</th></tr></thead>
<tbody>{''.join(trs)}</tbody></table>
</body></html>
"""


# --------------------------------------------------------------------------
# Checkpoints (GE CheckpointStore twin, SURVEY.md §2.1 S7)
#
# The reference's great_expectations.yml declares a checkpoint store but
# ships it empty (``/root/reference/great_expectations/great_expectations.yml``:
# config scaffold, ``checkpoints/.gitkeep``). A checkpoint is the missing
# binding: WHICH suite runs against WHICH tables with WHICH run config —
# persisted like a suite, executable by name.


class Checkpoint:
    """Named suite×tables binding + run config.

    ``tables`` maps logical table names (as referenced by the suite's
    checks) to the data directory's table names; ``sf_dir`` is the
    datasource root (the parquet warehouse). ``gate`` mirrors GE's
    fail-on-validation-error action: when True, ``run_checkpoint`` raises
    ``ValidationGateError`` AFTER persisting results/docs (the reference's
    alert-then-raise order, pager-workflow.py:247-267)."""

    def __init__(
        self,
        name: str,
        suite_path: str,
        sf_dir: str,
        tables: Sequence[str],
        validations_path: str | None = None,
        data_docs_dir: str | None = None,
        gate: bool = False,
    ) -> None:
        self.name = name
        self.suite_path = suite_path
        self.sf_dir = sf_dir
        self.tables = list(tables)
        self.validations_path = validations_path
        self.data_docs_dir = data_docs_dir
        self.gate = gate

    def to_dict(self) -> dict:
        return {
            "checkpoint_name": self.name,
            "expectation_suite_path": self.suite_path,
            "datasource": {"sf_dir": self.sf_dir, "tables": self.tables},
            "actions": {
                "store_validation_result": self.validations_path,
                "update_data_docs": self.data_docs_dir,
                "gate": self.gate,
            },
            "meta": {"engine": "enterprise_data_quality_platform_spark"},
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Checkpoint":
        acts = d.get("actions", {})
        return cls(
            name=d["checkpoint_name"],
            suite_path=d["expectation_suite_path"],
            sf_dir=d["datasource"]["sf_dir"],
            tables=d["datasource"]["tables"],
            validations_path=acts.get("store_validation_result"),
            data_docs_dir=acts.get("update_data_docs"),
            gate=bool(acts.get("gate", False)),
        )


def save_checkpoint(cp: Checkpoint, path: str) -> None:
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    Path(path).write_text(json.dumps(cp.to_dict(), indent=2))


def load_checkpoint(path: str) -> Checkpoint:
    return Checkpoint.from_dict(json.loads(Path(path).read_text()))


def run_checkpoint(
    spark: SparkSession, cp: Checkpoint, run_name: str | None = None
) -> dict:
    """Execute a checkpoint: load its suite, bind its tables, run, persist.

    Actions in order (all before any gate raise): validation results
    append to the parquet ValidationsStore tagged with ``run_name``; data
    docs re-render (current run + history page when the store exists).
    Returns the summary dict plus the per-check results under
    ``"results"``."""
    from ..catalog import table as _table
    from .runner import gate as _gate

    checks = load_suite(cp.suite_path)
    tables = {name: _table(spark, cp.sf_dir, name) for name in cp.tables}
    from .runner import run_suite

    results = run_suite(tables, checks)
    run = run_name or f"{cp.name}-run"
    if cp.validations_path:
        write_validation_results(spark, results, cp.validations_path, run_name=run)
    if cp.data_docs_dir:
        docs_dir = Path(cp.data_docs_dir)
        docs_dir.mkdir(parents=True, exist_ok=True)
        (docs_dir / f"{cp.name}.html").write_text(
            render_data_docs_html(results, suite_name=cp.name, run_name=run)
        )
        if cp.validations_path:
            (docs_dir / f"{cp.name}_history.html").write_text(
                render_history_docs_html(
                    spark, cp.validations_path, suite_name=cp.name
                )
            )
    summary = _gate(results, raise_on_fail=cp.gate)
    summary["results"] = results
    summary["run_name"] = run
    return summary
