"""Compile declarative checks to Spark aggregate expressions.

The reference runs each validation as its own round-trip SQL query against
BigQuery (``/root/reference/airflow/dags/pager-workflow.py:126,133,159,174,
189,212-218`` — five separate COUNT queries over two tables). At 100TB each
round-trip is a full scan, so the central optimization here (SURVEY.md §4.2)
is **scan fusion**: every aggregate-shaped check on a table contributes
columns to ONE ``df.agg(...)`` pass; Catalyst executes a single
whole-stage-codegen scan with partial+final aggregation, and N checks cost
one read instead of N.

Checks that need another plan shape (distinct counts, referential
integrity = anti join, KL divergence = histogram, z-score = broadcast
stats, monotonic = window) compile to a builder of their own 1-row frame,
which the runner runs as one more concurrent factor. Schema checks never
touch data: ``schema_result`` answers them from the table's schema. No
function here runs a Spark action; every answer comes from a frame the
runner executes.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import Footer
from ..operators.packedmap import distinct_presence, is_integral
from .definitions import AGG_CHECK_TYPES, Check, CheckResult


#: Bound on violating-value samples carried into reports — the reference
#: pulls full violation sets to the client (pager-workflow.py:218-225);
#: at scale we keep a capped sample only (SURVEY.md §4.1).
SAMPLE_CAP = 20


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _result(
    check: Check,
    status: str,
    violations: int | None,
    total: int | None,
    observed: dict[str, Any],
    error: str | None = None,
) -> CheckResult:
    return CheckResult(
        check_name=check.name,
        table=check.table,
        column=check.column,
        status=status,
        violations=violations,
        total=total,
        observed={k: str(v) for k, v in observed.items() if v is not None},
        error_message=error,
        run_ts=_now(),
    )


def _ok_fraction(ok_fraction: float) -> dict[str, Any]:
    return {"ok_fraction": round(ok_fraction, 6)}


def _count_eval(
    check: Check, observed: Callable[[float], dict[str, Any]] = _ok_fraction
) -> Callable[[Mapping[str, Any], str], CheckResult]:
    """Pass rule for violation-count checks under GE ``mostly`` semantics;
    ``observed`` maps the ok fraction to the result's observed metrics."""

    def evaluate(row: Mapping[str, Any], prefix: str) -> CheckResult:
        violations = int(row[f"{prefix}__violations"] or 0)
        total = int(row[f"{prefix}__total"] or 0)
        ok_fraction = 1.0 if total == 0 else 1.0 - violations / total
        status = "pass" if ok_fraction >= check.mostly else "fail"
        return _result(check, status, violations, total, observed(ok_fraction))

    return evaluate


def _metric_eval(
    check: Check, metric_names: tuple[str, ...]
) -> Callable[[Mapping[str, Any], str], CheckResult]:
    """Pass rule for metric-bound checks (mean/min/max/quantile/...)."""
    lo = check.params.get("min")
    hi = check.params.get("max")

    def evaluate(row: Mapping[str, Any], prefix: str) -> CheckResult:
        metrics = {m: row[f"{prefix}__{m}"] for m in metric_names}
        primary = metrics[metric_names[0]]
        total = row.get(f"{prefix}__total")
        ok = primary is not None
        if ok and lo is not None:
            ok = primary >= lo
        if ok and hi is not None:
            ok = primary <= hi
        return _result(
            check,
            "pass" if ok else "fail",
            None if ok else (int(total) if total is not None else None),
            int(total) if total is not None else None,
            metrics,
        )

    return evaluate


#: C strftime directive → JVM datetime pattern. GE suites carry strftime
#: strings (expect_column_values_to_match_strftime_format kwarg), but Spark's
#: to_timestamp wants JVM patterns — translate on compile so real GE suites
#: validate instead of flagging every row.
_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%j": "DDD",
    "%p": "a",
    "%z": "XX",
    "%%": "%",
}


def strftime_to_spark(fmt: str) -> str:
    """Translate a C strftime format to a Spark/JVM datetime pattern.
    Strings without ``%`` are assumed to already be Spark patterns and pass
    through unchanged; unknown directives raise eagerly (analysis-time), not
    per-row."""
    if "%" not in fmt:
        return fmt
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            directive = fmt[i : i + 2]
            if directive not in _STRFTIME_MAP:
                raise ValueError(f"unsupported strftime directive: {directive!r}")
            out.append(_STRFTIME_MAP[directive])
            i += 2
        elif ch.isalpha():
            # literal letters are pattern chars to the JVM — quote them
            out.append(f"'{ch}'")
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _violation_cond(check: Check) -> Column:
    """Column condition that is TRUE for a violating row. Null handling
    follows GE: value checks skip NULLs (not_null exists to target them)."""
    c = F.col(check.column) if check.column else None
    p = check.params
    t = check.check_type
    if t == "not_null":
        return c.isNull()
    if t == "values_between":
        cond = F.lit(False)
        if "min" in p:
            cond = cond | (c < F.lit(p["min"]))
        if "max" in p:
            cond = cond | (c > F.lit(p["max"]))
        return c.isNotNull() & cond
    if t == "values_in_set":
        return c.isNotNull() & ~c.isin(list(p["values"]))
    if t == "values_not_in_set":
        return c.isNotNull() & c.isin(list(p["values"]))
    if t == "value_lengths_between":
        length = F.length(c)
        cond = F.lit(False)
        if "min" in p:
            cond = cond | (length < F.lit(int(p["min"])))
        if "max" in p:
            cond = cond | (length > F.lit(int(p["max"])))
        return c.isNotNull() & cond
    if t == "match_regex":
        return c.isNotNull() & ~c.rlike(p["regex"])
    if t == "not_match_regex":
        return c.isNotNull() & c.rlike(p["regex"])
    if t == "match_strftime":
        fmt = strftime_to_spark(p["format"])
        return c.isNotNull() & F.try_to_timestamp(c, F.lit(fmt)).isNull()
    if t == "dateutil_parseable":
        # GE validates with python-dateutil; the engine twin is the JVM's
        # permissive parser — parseable iff the value try-casts to
        # TIMESTAMP or DATE (covers ISO dates, date-times, T separators,
        # fractional seconds) — ORed with a bounded set of common non-ISO
        # dateutil formats (US slash dates, 'Mar 5 2024', 'March 5, 2024',
        # '05-Mar-2024', bare year) to narrow the dateutil gap. Still a
        # documented approximation: dateutil's full fuzzy grammar (e.g.
        # 'today', '4th of July') is NOT matched. A format-pinned contract
        # should use match_strftime instead; this is the "is it date-LIKE
        # at all" profiling check.
        extra_fmts = (
            "MM/dd/yyyy",
            "M/d/yyyy",
            "MM/dd/yy",
            "MMM d yyyy",
            "MMMM d yyyy",
            "MMM d, yyyy",
            "MMMM d, yyyy",
            "d-MMM-yyyy",
            "yyyy",
        )
        unparseable = F.try_to_timestamp(c).isNull() & c.try_cast("date").isNull()
        for fmt in extra_fmts:
            unparseable = unparseable & F.try_to_timestamp(c, F.lit(fmt)).isNull()
        return c.isNotNull() & unparseable
    if t == "match_like_pattern":
        return c.isNotNull() & ~c.like(p["pattern"])
    if t == "not_match_like_pattern":
        return c.isNotNull() & c.like(p["pattern"])
    if t == "match_like_pattern_list":
        if not p["patterns"]:
            raise ValueError(
                "match_like_pattern_list requires at least one pattern"
            )
        conds = [c.like(x) for x in p["patterns"]]
        if p.get("match_on", "any") == "all":
            ok = conds[0]
            for x in conds[1:]:
                ok = ok & x
        else:
            ok = conds[0]
            for x in conds[1:]:
                ok = ok | x
        return c.isNotNull() & ~ok
    if t == "pair_in_set":
        # NULL handling follows GE's ignore_row_if kwarg. The repo default
        # is "either_value_is_missing" (skip a row if EITHER column is
        # NULL — consistent with pair_equal / pair_greater_than here).
        # GE's own default is "both_values_are_missing": a one-NULL row IS
        # evaluated and counts as a violation (a half-NULL pair can never
        # be in the set) — pass ignore_row_if explicitly on ported suites.
        a, b = check.columns
        mode = p.get("ignore_row_if", "either_value_is_missing")
        if mode == "either_value_is_missing":
            ok = F.lit(False)
            for pair in p["value_pairs"]:
                ok = ok | (
                    (F.col(a) == F.lit(pair[0])) & (F.col(b) == F.lit(pair[1]))
                )
            return F.col(a).isNotNull() & F.col(b).isNotNull() & ~ok
        if mode in ("both_values_are_missing", "neither"):
            # null-safe comparisons so a one-NULL row yields ok=False
            # (a definite violation), never NULL (silently skipped)
            ok = F.lit(False)
            for pair in p["value_pairs"]:
                ok = ok | (
                    F.col(a).eqNullSafe(F.lit(pair[0]))
                    & F.col(b).eqNullSafe(F.lit(pair[1]))
                )
            both_null = F.col(a).isNull() & F.col(b).isNull()
            if mode == "both_values_are_missing":
                return ~both_null & ~ok
            return ~ok
        raise ValueError(f"pair_in_set: unknown ignore_row_if {mode!r}")
    if t == "expression":
        return ~F.expr(p["condition"])
    if t == "distinct_in_set":
        return c.isNotNull() & ~c.isin(list(p["values"]))
    if t == "pair_greater_than":
        a, b = check.columns
        op = (
            (F.col(a) >= F.col(b))
            if p.get("or_equal", False)
            else (F.col(a) > F.col(b))
        )
        return F.col(a).isNotNull() & F.col(b).isNotNull() & ~op
    if t == "pair_equal":
        a, b = check.columns
        return F.col(a).isNotNull() & F.col(b).isNotNull() & (F.col(a) != F.col(b))
    if t == "multicolumn_sum_equal":
        cols = [F.col(x) for x in check.columns]
        nn = cols[0].isNotNull()
        for col_ in cols[1:]:
            nn = nn & col_.isNotNull()
        total_expr = cols[0]
        for col_ in cols[1:]:
            total_expr = total_expr + col_
        return nn & (total_expr != F.lit(p["sum_total"]))
    if t == "json_parseable":
        return c.isNotNull() & F.expr(
            f"try_parse_json(`{check.column}`)"
        ).isNull()
    raise ValueError(f"not a row-condition check: {t}")


@dataclass
class CompiledAggCheck:
    """A check lowered to fused aggregate expressions.

    ``exprs`` maps alias -> aggregate Column; aliases are namespaced with the
    check's index prefix so many checks coexist in one ``df.agg``.

    ``frame_builder(df, snap)``, when set, supplies the check's 1-row frame
    over its table ``df`` (same output aliases) instead of contributing
    ``exprs`` to the shared scan. ``snap`` is ``df``'s footer snapshot when
    the plan may use footers, else ``None``; only referential integrity
    reads it. Distinct-counting checks compile to a groupBy-then-aggregate
    plan because mixing ``count_distinct`` into a fused aggregate makes
    Catalyst Expand-duplicate every input row per distinct group — measured
    ~30% slower than giving the distinct check its own two-level factor (the
    factors still run concurrently). Joins, histograms, broadcast stats and
    windows need their own plan shape too. A categorical check
    (``is_categorical``) has neither: the table's ``grouped_frame`` answers
    it.
    """

    check: Check
    exprs: dict[str, Column]
    evaluate: Callable[[Mapping[str, Any], str], CheckResult]
    prefix: str
    frame_builder: Callable[[DataFrame, Footer | None], DataFrame] | None = None


_ROW_COND_TYPES = frozenset(
    {
        "not_null",
        "values_between",
        "values_in_set",
        "values_not_in_set",
        "value_lengths_between",
        "match_regex",
        "not_match_regex",
        "match_strftime",
        "dateutil_parseable",
        "match_like_pattern",
        "not_match_like_pattern",
        "match_like_pattern_list",
        "pair_greater_than",
        "pair_equal",
        "pair_in_set",
        "multicolumn_sum_equal",
        "json_parseable",
        "expression",
    }
)


#: Checks whose violations and totals are sums over rows, so a groupBy
#: factor answers them from per-group partial sums (``grouped_frame``).
ADDITIVE_TYPES = _ROW_COND_TYPES | {"row_count_between"}

#: check type -> (metric name, aggregate) for the one-aggregate metric checks
_METRIC_AGGS = {
    "mean_between": ("mean", F.avg),
    "stddev_between": ("stddev", F.stddev),
    "min_between": ("min", F.min),
    "max_between": ("max", F.max),
    "sum_between": ("sum", F.sum),
}


def is_categorical(check: Check) -> bool:
    """A row-condition check the suite declares low-cardinality
    (``params['categorical']``): its predicate is evaluated once per
    distinct value, weighted by group counts, instead of once per row. A
    regex over 15M rows of a 5-value priority column costs a
    map-side-collapsing groupBy (~3 exec-s at sf10) plus 5 regex
    evaluations, versus 15M regex evaluations inline (~56 exec-s measured).
    Opt-in because on a high-cardinality column the groupBy would shuffle
    every distinct value; the inline path is the safe default."""
    return (
        check.check_type in _ROW_COND_TYPES
        and bool(check.params.get("categorical"))
        and bool(check.columns or check.column)
    )


def _key_counts(df: DataFrame, *keys: Column) -> DataFrame:
    """One row per distinct key tuple with its row count ``__c``: the first
    level of every two-level (distinct-shaped or histogram) factor."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))


def _expected_histogram(
    df: DataFrame, column: str, expected: Mapping[Any, float]
) -> tuple[DataFrame, Column]:
    """The per-value histogram of ``column`` against an expected
    distribution, fully in-plan: one row per distinct value (as a string,
    ``__k``) with its count ``__c`` and the broadcast total ``__t``, plus
    the column giving the row's expected share (NULL outside the expected
    support) from a literal map."""
    counts = _key_counts(df, F.col(column).cast("string").alias("__k"))
    totals = counts.agg(F.sum("__c").alias("__t"))
    qmap = F.create_map(
        *[lit for k, v in expected.items() for lit in (F.lit(str(k)), F.lit(float(v)))]
    )
    return counts.crossJoin(F.broadcast(totals)), qmap[F.col("__k")]


def compile_agg_check(
    check: Check, prefix: str, tables: Mapping[str, DataFrame] = {}
) -> CompiledAggCheck:
    """Lower one data-touching check to named agg expressions or to a
    builder of its own 1-row frame. ``tables`` (read, never changed)
    supplies the other table of a two-table check.

    Exact ``unique`` on a single byte/short/int/long key compiles to a
    presence-bitmap factor (``operators.packedmap.distinct_presence``),
    which is exact for every such domain; compound and non-integral keys
    use the plain per-key groupBy factor."""
    if check.check_type not in AGG_CHECK_TYPES:
        raise ValueError(f"{check.check_type} is not a data check")
    p = check.params
    c = F.col(check.column) if check.column else None
    total = F.count(F.lit(1))
    exprs: dict[str, Column] = {}

    if check.check_type in _ROW_COND_TYPES:
        cond = _violation_cond(check)
        # GE conditional expectations: params['row_condition'] is a SQL
        # boolean expr scoping the check to matching rows only — both the
        # violation count and the total (the `mostly` denominator) are
        # computed over the scoped population, still in the fused scan.
        row_condition = p.get("row_condition")
        if row_condition is not None:
            scope = F.expr(row_condition)
            cond = scope & cond
            total = F.sum(F.when(scope, F.lit(1)).otherwise(F.lit(0)))
        if is_categorical(check):
            # answered by the table's groupBy factor (grouped_frame)
            return CompiledAggCheck(check, {}, _count_eval(check), prefix)
        exprs[f"{prefix}__violations"] = F.sum(
            F.when(cond, F.lit(1)).otherwise(F.lit(0))
        )
        exprs[f"{prefix}__total"] = total
        # No violating-value sample in the fused scan: collect_set would
        # accumulate EVERY distinct violating value in one aggregation
        # buffer before any cap applies — unbounded state on a
        # high-cardinality column. The runner fetches a capped sample with
        # a separate limit-k query only for checks that FAIL
        # (violation_sample_df below).
        return CompiledAggCheck(check, exprs, _count_eval(check), prefix)

    if check.check_type == "row_count_between":
        exprs[f"{prefix}__count"] = total
        ev = _metric_eval(check, ("count",))
        return CompiledAggCheck(check, exprs, ev, prefix)

    if check.check_type in {"unique", "compound_unique"}:
        cols = [check.column] if check.check_type == "unique" else list(check.columns)
        # excess rows = count(all-cols-non-null rows) - distinct(tuples over
        # that SAME population): NULL-keyed rows are skipped entirely,
        # duplicates among non-null keys count. Computed as a two-level
        # groupBy-on-key factor: after the groupBy there is one row per
        # distinct tuple, so "distinct" is a plain count and the plan never
        # Expands the scan the way a fused count_distinct would. A single
        # integral key groups by 64-key presence-bitmap words instead
        # (build_unique_presence): always exact, for every integral domain.
        nn_cond = F.expr(" AND ".join(f"`{x}` IS NOT NULL" for x in cols))

        if p.get("approx", False):
            # 100 TB path: HLL sketch instead of the per-key shuffle. The
            # estimate can't certify EXACT uniqueness (rsd ~2-5%), so the
            # pass rule is "estimated duplicate share <= tolerance"
            # (default 3*rsd) — it catches gross duplication in the fused
            # single-pass scan; exact mode stays for certification runs
            # and oracle parity.
            rsd = float(p.get("rsd", 0.05))
            tol = float(p.get("tolerance", 3.0 * rsd))
            key = F.col(cols[0]) if len(cols) == 1 else F.struct(*cols)
            exprs[f"{prefix}__distinct_est"] = F.approx_count_distinct(
                F.when(nn_cond, key), rsd
            )
            exprs[f"{prefix}__nn_total"] = F.count(F.when(nn_cond, F.lit(1)))
            exprs[f"{prefix}__total"] = total

            def ev_approx(row: Mapping[str, Any], pfx: str) -> CheckResult:
                est = int(row[f"{pfx}__distinct_est"] or 0)
                nn = int(row[f"{pfx}__nn_total"] or 0)
                tot = int(row[f"{pfx}__total"] or 0)
                excess = max(0, nn - est)
                ok = excess <= tol * nn
                return _result(
                    check,
                    "pass" if ok else "fail",
                    excess or None,
                    tot,
                    {
                        "distinct_estimate": est,
                        "non_null_rows": nn,
                        "estimated_duplicate_share": round(
                            excess / nn, 6
                        )
                        if nn
                        else 0.0,
                        "tolerance": tol,
                        "approx": True,
                    },
                )

            return CompiledAggCheck(check, exprs, ev_approx, prefix)

        def build_unique(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            per = _key_counts(df, *[F.col(x) for x in cols])
            return per.agg(
                F.coalesce(
                    F.sum(F.when(nn_cond, F.col("__c")))
                    - F.count(F.when(nn_cond, F.lit(1))),
                    F.lit(0),
                ).alias(f"{prefix}__violations"),
                F.coalesce(F.sum("__c"), F.lit(0)).alias(f"{prefix}__total"),
            )

        def build_unique_presence(
            df: DataFrame, snap: Footer | None = None
        ) -> DataFrame:
            # the shuffle carries one row per 64 keys; violations =
            # non-null rows − distinct keys, the plain plan's count − distinct
            if len(cols) != 1 or not is_integral(df, cols[0]):
                return build_unique(df)
            return distinct_presence(df, cols[0]).select(
                (F.col("non_null") - F.col("distinct")).alias(
                    f"{prefix}__violations"
                ),
                F.col("rows").alias(f"{prefix}__total"),
            )

        return CompiledAggCheck(
            check,
            {},
            _count_eval(check),
            prefix,
            frame_builder=build_unique_presence,
        )

    if check.check_type == "distinct_in_set":
        # two-level factor (see unique): after groupBy(col) each distinct
        # value is one row, so distinct-violations is a plain conditional
        # count. Sample fetched post-hoc on failure (violation_sample_df).
        values = list(p["values"])

        def build_dis(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            per = _key_counts(df, F.col(check.column).alias("__k"))
            k = F.col("__k")
            return per.agg(
                F.count(
                    F.when(k.isNotNull() & ~k.isin(values), F.lit(1))
                ).alias(f"{prefix}__violations"),
                F.count(F.when(k.isNotNull(), F.lit(1))).alias(
                    f"{prefix}__total"
                ),
            )

        return CompiledAggCheck(
            check, {}, _count_eval(check), prefix, frame_builder=build_dis
        )

    if check.check_type in {"distinct_contain_set", "distinct_equal_set"}:
        # contain: every required value must appear; equal: additionally no
        # value outside the set may appear. violations = missing (+ extras
        # for equal). Two-level groupBy factor — the distinct set itself
        # never leaves the executors.
        values = [str(v) for v in p["values"]]
        want_equal = check.check_type == "distinct_equal_set"

        def build_dset(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            per = _key_counts(df, F.col(check.column).cast("string").alias("__k"))
            k = F.col("__k")
            present = F.count(
                F.when(k.isNotNull() & k.isin(values), F.lit(1))
            )
            extras = F.count(
                F.when(k.isNotNull() & ~k.isin(values), F.lit(1))
            )
            missing = F.lit(len(values)) - present
            viol = missing + extras if want_equal else missing
            return per.agg(
                viol.cast("long").alias(f"{prefix}__violations"),
                F.count(F.when(k.isNotNull(), F.lit(1))).alias(
                    f"{prefix}__total"
                ),
            )

        def ev_dset(row: Mapping[str, Any], pfx: str) -> CheckResult:
            violations = int(row[f"{pfx}__violations"] or 0)
            total = int(row[f"{pfx}__total"] or 0)
            return _result(
                check,
                "pass" if violations == 0 else "fail",
                violations,
                total,
                {"distinct_count": total, "expected_set_size": len(values)},
            )

        return CompiledAggCheck(
            check, {}, ev_dset, prefix, frame_builder=build_dset
        )

    if check.check_type == "referential_integrity":

        def build_ri(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            parent = tables[p["parent_table"]]
            return ri_frame(check, df, parent, prefix, child_rows=snap and snap.rows)

        return CompiledAggCheck(
            check, {}, _count_eval(check), prefix, frame_builder=build_ri
        )

    if check.check_type == "kl_divergence_less_than":
        # G18, fully in-plan: distributed groupBy histogram, expected
        # distribution as a broadcast literal map, KL sum folded into a
        # second aggregate. Only ONE scalar row ever reaches the driver —
        # a high-cardinality column can't ship its histogram here (the
        # old driver-side form collected the whole groupBy).
        expected: Mapping[Any, float] = p["expected_distribution"]

        def build_kl(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            hist, qcol = _expected_histogram(df, check.column, expected)
            pcol = F.col("__c") / F.col("__t")
            return hist.agg(
                F.sum(
                    F.when(qcol.isNotNull() & (qcol > 0), pcol * F.log(pcol / qcol))
                ).alias(f"{prefix}__kl"),
                F.first("__t").alias(f"{prefix}__total"),
            )

        def ev_kl(row: Mapping[str, Any], pfx: str) -> CheckResult:
            kl = float(row[f"{pfx}__kl"] or 0.0)
            total = int(row[f"{pfx}__total"] or 0)
            ok = kl <= float(p["threshold"])
            return _result(
                check, "pass" if ok else "fail", None, total,
                {"kl_divergence": round(kl, 6)},
            )

        return CompiledAggCheck(check, {}, ev_kl, prefix, frame_builder=build_kl)

    if check.check_type == "chi_square_test":
        # Pearson goodness-of-fit against params['expected_distribution']
        # (category -> probability), compared to params['critical_value']
        # (the chi2 quantile for the caller's alpha/dof — kept a parameter
        # so no stats library is needed). Same in-plan shape as KL:
        # distributed histogram, broadcast expected map, one scalar out.
        # Categories outside the expected support fail the test outright
        # (their expected count is 0 → infinite statistic).
        expected = p["expected_distribution"]
        critical = float(p["critical_value"])

        def build_chi(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            hist, qcol = _expected_histogram(df, check.column, expected)
            n, exp_n = F.col("__c"), qcol * F.col("__t")
            return hist.agg(
                F.sum(
                    F.when(qcol.isNotNull() & (qcol > 0), (n - exp_n) * (n - exp_n) / exp_n)
                ).alias(f"{prefix}__stat"),
                F.sum(
                    F.when(F.col("__k").isNotNull() & (qcol.isNull() | (qcol == 0)), n)
                ).alias(f"{prefix}__unexpected"),
                F.sum(F.when(qcol.isNotNull(), qcol)).alias(f"{prefix}__qpresent"),
                F.first("__t").alias(f"{prefix}__total"),
            )

        def ev_chi(row: Mapping[str, Any], pfx: str) -> CheckResult:
            stat = float(row[f"{pfx}__stat"] or 0.0)
            unexpected = int(row[f"{pfx}__unexpected"] or 0)
            total = int(row[f"{pfx}__total"] or 0)
            # expected-but-absent categories each contribute (0-E)^2/E = E =
            # q_k * total; their total q-mass is (sum q) - (q-mass observed)
            q_absent = sum(float(v) for v in expected.values()) - float(
                row[f"{pfx}__qpresent"] or 0.0
            )
            if q_absent > 1e-12:
                stat += total * q_absent
            ok = unexpected == 0 and stat <= critical
            return _result(
                check,
                "pass" if ok else "fail",
                unexpected or None,
                total,
                {
                    "chi_square": round(stat, 6),
                    "critical_value": critical,
                    "unexpected_category_rows": unexpected,
                },
            )

        return CompiledAggCheck(check, {}, ev_chi, prefix, frame_builder=build_chi)

    if check.check_type == "row_count_equal_other_table":
        # two metadata-cheap counts in one job (crossJoin of 1-row aggs);
        # optional params['ratio'] asserts count/other == ratio instead of
        # strict equality (the dbt-ish cardinality test)
        def build_rows(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            other = tables[p["other_table"]]
            return df.agg(F.count(F.lit(1)).alias(f"{prefix}__count")).crossJoin(
                other.agg(F.count(F.lit(1)).alias(f"{prefix}__other_count"))
            )

        def ev_rows(row: Mapping[str, Any], pfx: str) -> CheckResult:
            n, m = int(row[f"{pfx}__count"]), int(row[f"{pfx}__other_count"])
            if "ratio" in p:
                ok = m > 0 and abs(n / m - float(p["ratio"])) <= float(
                    p.get("tolerance", 0.0)
                )
            else:
                ok = n == m
            return _result(
                check,
                "pass" if ok else "fail",
                None,
                n,
                {"row_count": n, "other_row_count": m, "other_table": p["other_table"]},
            )

        return CompiledAggCheck(check, {}, ev_rows, prefix, frame_builder=build_rows)

    if check.check_type == "z_score_less_than":
        # two-pass: 1-row mu/sigma aggregate broadcast back onto the scan
        # (NEVER an unpartitioned window over raw rows), then count |z| >
        # threshold — the check-type twin of the dq_anomaly_zscore query.
        thr = float(p["threshold"])

        def build_z(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            stats = df.agg(F.avg(c).alias("__mu"), F.stddev(c).alias("__sigma"))
            z = F.abs(c - F.col("__mu")) / F.col("__sigma")
            return df.crossJoin(F.broadcast(stats)).agg(
                total.alias(f"{prefix}__total"),
                F.sum(F.when(z > thr, 1).otherwise(0)).alias(f"{prefix}__violations"),
            )

        ev = _count_eval(check, lambda _: {"threshold": thr})
        return CompiledAggCheck(check, {}, ev, prefix, frame_builder=build_z)

    if check.check_type == "monotonic":
        # increasing/decreasing along params['order_by'], per
        # params['partition_by'] key. A partition key keeps the window
        # distributed; without one this is a single-partition global sort —
        # allowed (GE's semantics are inherently ordered) but flagged in
        # the observed metrics so a 100TB user sees the hazard.
        order_by = p["order_by"]
        part = p.get("partition_by")
        strictly = bool(p.get("strictly", False))
        decreasing = bool(p.get("decreasing", False))

        def build_mono(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            w = (Window.partitionBy(part) if part else Window.partitionBy()).orderBy(
                order_by
            )
            prev = F.lag(c).over(w)
            if decreasing:
                bad = (c >= prev) if strictly else (c > prev)
            else:
                bad = (c <= prev) if strictly else (c < prev)
            cond = prev.isNotNull() & c.isNotNull() & bad
            return df.select(F.when(cond, 1).otherwise(0).alias("__v")).agg(
                total.alias(f"{prefix}__total"),
                F.sum("__v").alias(f"{prefix}__violations"),
            )

        observed = {
            "order_by": order_by,
            "partitioned": bool(part),
            "direction": "decreasing" if decreasing else "increasing",
        }
        ev = _count_eval(check, lambda _: observed)
        return CompiledAggCheck(check, {}, ev, prefix, frame_builder=build_mono)

    if check.check_type in _METRIC_AGGS:
        mname, agg = _METRIC_AGGS[check.check_type]
        exprs[f"{prefix}__{mname}"] = agg(c)
        exprs[f"{prefix}__total"] = total
        return CompiledAggCheck(check, exprs, _metric_eval(check, (mname,)), prefix)

    if check.check_type == "unique_count_between":
        if p.get("approx", False):
            # sketch aggregate — no Expand, fuses fine (the 100TB path)
            exprs[f"{prefix}__unique_count"] = F.approx_count_distinct(c)
            exprs[f"{prefix}__total"] = total
            return CompiledAggCheck(
                check, exprs, _metric_eval(check, ("unique_count",)), prefix
            )

        def build_ucount(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            per = _key_counts(df, F.col(check.column).alias("__k"))
            return per.agg(
                F.count(F.when(F.col("__k").isNotNull(), F.lit(1))).alias(
                    f"{prefix}__unique_count"
                ),
                F.coalesce(F.sum("__c"), F.lit(0)).alias(f"{prefix}__total"),
            )

        return CompiledAggCheck(
            check,
            {},
            _metric_eval(check, ("unique_count",)),
            prefix,
            frame_builder=build_ucount,
        )

    if check.check_type == "unique_proportion_between":

        def build_uprop(df: DataFrame, snap: Footer | None = None) -> DataFrame:
            per = _key_counts(df, F.col(check.column).alias("__k"))
            k = F.col("__k")
            return per.agg(
                (
                    F.count(F.when(k.isNotNull(), F.lit(1)))
                    / F.sum(F.when(k.isNotNull(), F.col("__c")))
                ).alias(f"{prefix}__unique_proportion"),
                F.coalesce(F.sum("__c"), F.lit(0)).alias(f"{prefix}__total"),
            )

        return CompiledAggCheck(
            check,
            {},
            _metric_eval(check, ("unique_proportion",)),
            prefix,
            frame_builder=build_uprop,
        )

    if check.check_type == "quantile_between":
        q = float(p.get("quantile", 0.5))
        expr = (
            F.percentile_approx(c, q)
            if p.get("approx", False)  # 100TB path; exact twin for oracles
            else F.expr(f"percentile(`{check.column}`, {q!r})")
        )
        exprs[f"{prefix}__quantile"] = expr
        exprs[f"{prefix}__total"] = total
        return CompiledAggCheck(check, exprs, _metric_eval(check, ("quantile",)), prefix)

    if check.check_type == "most_common_in_set":
        exprs[f"{prefix}__mode"] = F.mode(c)
        exprs[f"{prefix}__total"] = total

        def ev(row: Mapping[str, Any], prefix: str) -> CheckResult:
            mode = row[f"{prefix}__mode"]
            ok = mode in set(p["values"])
            return _result(
                check,
                "pass" if ok else "fail",
                None,
                int(row[f"{prefix}__total"]),
                {"mode": mode},
            )

        return CompiledAggCheck(check, exprs, ev, prefix)

    if check.check_type == "freshness":
        exprs[f"{prefix}__max_ts"] = F.max(c)
        exprs[f"{prefix}__total"] = total

        def ev_fresh(row: Mapping[str, Any], prefix: str) -> CheckResult:
            max_ts = row[f"{prefix}__max_ts"]
            now = p.get("as_of") or _now()
            max_lag = float(p["max_lag_seconds"])
            lag = None if max_ts is None else (now - max_ts).total_seconds()
            ok = lag is not None and lag <= max_lag
            return _result(
                check,
                "pass" if ok else "fail",
                None,
                int(row[f"{prefix}__total"]),
                {"max_ts": max_ts, "lag_seconds": lag},
            )

        return CompiledAggCheck(check, exprs, ev_fresh, prefix)

    raise ValueError(f"unhandled aggregate check type: {check.check_type}")


#: Check types whose violating VALUES are meaningful in a report sample.
SAMPLEABLE_TYPES = frozenset(_ROW_COND_TYPES - {"not_null"}) | {"distinct_in_set"}


def _scoped_violation_cond(check: Check) -> Column:
    """Violation condition including the optional row_condition scope."""
    cond = _violation_cond(check)
    row_condition = check.params.get("row_condition")
    if row_condition is not None:
        cond = F.expr(row_condition) & cond
    return cond


def grouped_frame(df: DataFrame, members: Sequence[CompiledAggCheck]) -> DataFrame:
    """One groupBy over ``df`` answering its categorical checks, their
    violation samples and its additive checks (``ADDITIVE_TYPES``), as the
    1-row frame of the members' usual output aliases.

    The grouping keys are the union of the categorical checks' columns,
    plus one boolean key per distinct ``row_condition`` of a categorical
    check so its scope survives the grouping. Categorical predicates are
    evaluated once per group, weighted by the group's row count; every
    other member adds per-group partial sums of its per-row violation (and
    scope) flags, and ``row_count_between`` sums the group counts. A
    sampleable single-column categorical check also yields
    ``<prefix>__sample``: its distinct violating values as strings, sorted,
    the smallest ``SAMPLE_CAP`` of them. That state is bounded by the group
    count, which the ``categorical`` opt-in declares small."""
    keys: dict[str, Column] = {}
    scopes: dict[str, str] = {}  # row_condition -> its grouping key
    n = F.col("__c")
    partial, final = [F.count(F.lit(1)).alias("__c")], []
    for compiled in members:
        check, pre = compiled.check, compiled.prefix
        if check.check_type == "row_count_between":
            final.append(F.coalesce(F.sum(n), F.lit(0)).alias(f"{pre}__count"))
            continue
        scope = check.params.get("row_condition")
        if is_categorical(check):
            for x in check.columns or [check.column]:
                keys.setdefault(x, F.col(x))
            viol = _violation_cond(check)
            total = F.sum(n)
            if scope is not None:
                key = scopes.setdefault(scope, f"__scope{len(scopes)}")
                keys.setdefault(key, F.expr(scope).alias(key))
                viol = F.col(key) & viol
                total = F.sum(F.when(F.col(key), n))
            violations = F.sum(F.when(viol, n))
            if check.check_type in SAMPLEABLE_TYPES and check.column:
                values = F.collect_set(F.when(viol, F.col(check.column).cast("string")))
                final.append(
                    F.slice(F.array_sort(values), 1, SAMPLE_CAP).alias(f"{pre}__sample")
                )
        else:
            flag = F.when(_scoped_violation_cond(check), 1).otherwise(0)
            partial.append(F.sum(flag).alias(f"{pre}__v"))
            violations, total = F.sum(f"{pre}__v"), F.sum(n)
            if scope is not None:
                in_scope = F.when(F.expr(scope), 1).otherwise(0)
                partial.append(F.sum(in_scope).alias(f"{pre}__t"))
                total = F.sum(f"{pre}__t")
        final += [
            F.coalesce(violations, F.lit(0)).alias(f"{pre}__violations"),
            F.coalesce(total, F.lit(0)).alias(f"{pre}__total"),
        ]
    return df.groupBy(*keys.values()).agg(*partial).agg(*final)


def footer_row(compiled: CompiledAggCheck, snap: Footer) -> dict | None:
    """The row ``compiled.evaluate`` would read from a scan, decided from the
    table's footer snapshot (``catalog.footer_of``) without one; ``None``
    when the footers do not decide it, so the check scans.

    Exactness conditions, each giving the scan's own row:
    - ``row_count_between``: the count is ``snap.rows``.
    - ``not_null`` without ``row_condition``: passes when the column's exact
      null count (``Footer.nulls``) is 0.
    - ``values_between`` without ``row_condition``, numeric bounds only:
      passes when the column's exact integral (min, max) (``Footer.bounds``)
      lies inside them. Floats, decimals and dates are never in ``bounds``
      (parquet min/max skip NaN, which violates here), so they scan.
    A not_null or values_between the footers cannot prove passing scans,
    so its violation count and sample come from the data."""
    check, pre, p = compiled.check, compiled.prefix, compiled.check.params
    if check.check_type == "row_count_between":
        return {f"{pre}__count": snap.rows}
    if "row_condition" in p:
        return None
    if check.check_type == "not_null" and snap.nulls.get(check.column) == 0:
        return {f"{pre}__violations": 0, f"{pre}__total": snap.rows}
    if check.check_type == "values_between" and check.column in snap.bounds:
        limits = [p.get("min"), p.get("max")]
        if not all(
            x is None or (isinstance(x, (int, float)) and not isinstance(x, bool))
            for x in limits
        ):
            return None
        lo, hi = snap.bounds[check.column]
        inside = lo is None or (
            (limits[0] is None or lo >= limits[0])
            and (limits[1] is None or hi <= limits[1])
        )
        if inside:
            return {f"{pre}__violations": 0, f"{pre}__total": snap.rows}
    return None


def violating_rows(df: DataFrame, check: Check) -> DataFrame:
    """The FULL violating-row frame for a row-condition check — the
    quarantine path. The reference reports the complete violation list
    (pager-workflow.py:220-225); reports here carry a capped sample, and
    this frame is what a quarantine sink writes when the full set is
    needed (see ``sinks/quarantine.py``)."""
    return df.filter(_scoped_violation_cond(check))


def violation_sample_df(df: DataFrame, check: Check, cap: int = SAMPLE_CAP) -> DataFrame:
    """Capped distinct violating-value frame, fetched as a separate tiny
    query only for FAILED checks that no groupBy factor samples — never as
    unbounded collect_set state inside a row-level scan. limit(cap) bounds
    both shuffle and driver transfer; past ``cap`` distinct values, which
    ones it keeps is arbitrary."""
    return (
        df.filter(_scoped_violation_cond(check))
        .select(F.col(check.column).cast("string").alias("value"))
        .distinct()
        .limit(cap)
    )


def ri_frame(
    check: Check,
    df: DataFrame,
    parent: DataFrame,
    prefix: str,
    child_rows: int | None = None,
) -> DataFrame:
    """Referential integrity of the child ``df`` against ``parent`` as a
    1-row frame (orphan count + child total). ``child_rows``, when given, is
    the child's exact row count from its footers (``catalog.footer_of``) and
    replaces the count side of the plan. Orphans =
    LEFT ANTI join against the distinct parent key set (SURVEY.md §2.2 G19)
    — anti-join, not NOT IN, so NULL parent keys can't poison the predicate.
    At scale the anti-join shuffles on the key unless the parent is
    dimension-sized (broadcast hint via params['broadcast_parent'])."""
    p = check.params
    child_key, parent_key = check.column, p["parent_column"]
    parent_keys = parent.select(F.col(parent_key).alias(child_key)).dropDuplicates()
    if p.get("broadcast_parent", False):
        parent_keys = F.broadcast(parent_keys)
    # distinct-first: pre-aggregate the child to (key, row-count) so the
    # anti-join shuffles |distinct child keys| rows instead of |child rows|
    # (15M -> 1.5M at sf10 for orders->customer; the map-side partial agg
    # does the collapse before the exchange). Violations stay row-counted:
    # orphan keys carry their multiplicities through the sum.
    child_counts = (
        df.filter(F.col(child_key).isNotNull())
        .groupBy(child_key)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    orphan_count = child_counts.join(parent_keys, on=child_key, how="left_anti").agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias(f"{prefix}__violations")
    )
    if child_rows is not None:
        return orphan_count.withColumn(f"{prefix}__total", F.lit(child_rows).cast("long"))
    total = df.agg(F.count(F.lit(1)).alias(f"{prefix}__total"))
    return orphan_count.crossJoin(total)


def schema_result(check: Check, df: DataFrame) -> CheckResult:
    """Answer a schema check (``SCHEMA_CHECK_TYPES``) from ``df.columns`` /
    ``df.schema`` alone, with no job."""
    p = check.params
    t = check.check_type

    if t == "column_exists":
        ok = check.column in df.columns
        return _result(check, "pass" if ok else "fail", None, None, {"columns": df.columns})

    if t == "columns_match_list":
        expected = list(p["column_list"])
        ok = df.columns == expected
        return _result(
            check, "pass" if ok else "fail", None, None,
            {"columns": df.columns, "expected": expected},
        )

    if t == "column_of_type":
        actual = df.schema[check.column].dataType.simpleString()
        allowed = {s.lower() for s in p.get("type_list", [p.get("type")])}
        ok = actual.lower() in allowed
        return _result(check, "pass" if ok else "fail", None, None, {"type": actual})

    if t == "column_count_between":
        n = len(df.columns)
        lo, hi = p.get("min"), p.get("max")
        ok = (lo is None or n >= lo) and (hi is None or n <= hi)
        return _result(
            check, "pass" if ok else "fail", None, None, {"column_count": n}
        )

    raise ValueError(f"{t} is not a schema check")
