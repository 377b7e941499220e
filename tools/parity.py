"""Local replica of the driver's correctness gate: run every declared query
on Spark AND its DuckDB oracle at a given sf, compare row-count + schema +
order-insensitive values. Usage:

    python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — order-insensitive
    exact comparison basis."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif s.dtype == object:
            s = s.astype(str)
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), ignore_index=True)


# DuckDB output types that serialize differently from Spark's integral/float
# Arrow types in the driver's value hash. Bare SUM(int) binds HUGEINT
# (Arrow decimal128(38,0)) while Spark emits int64 — values equal, hashes
# differ. canonicalize() coerces both to Int64 and CANNOT see this, so the
# bound relation types must be checked BEFORE dtype coercion (r4 lesson:
# 3 driver failures the local gate certified green).
_DRIVER_UNSAFE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def type_fidelity_issues(
    name: str, con: "duckdb.DuckDBPyConnection", oracle: str, spark_pdf: pd.DataFrame
) -> list[str]:
    """Flag oracle output columns whose bound DuckDB type would hash
    differently from the Spark result's Arrow type under the driver."""
    rel = con.sql(oracle)
    issues = []
    for col, dtype in zip(rel.columns, rel.types):
        ts = str(dtype).upper()
        if any(bad in ts for bad in _DRIVER_UNSAFE_TYPES):
            spark_dtype = spark_pdf[col].dtype if col in spark_pdf.columns else None
            issues.append(
                f"col {col}: oracle binds {ts} (Arrow decimal128) but Spark "
                f"emits {spark_dtype} — driver value-hash WILL mismatch; "
                f"CAST the oracle expression to BIGINT/DOUBLE"
            )
    return issues


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(
            f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return issues
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if pd.api.types.is_float_dtype(av):
                eq = (av.fillna(np.nan)).to_numpy()
                bq = (bv.fillna(np.nan)).to_numpy()
                ok = np.array_equal(eq, bq, equal_nan=True)
                if not ok:
                    diff = np.where(~((eq == bq) | (np.isnan(eq) & np.isnan(bq))))[0][:5]
                    issues.append(
                        f"col {c}: {len(diff)}+ diffs, first: "
                        + "; ".join(f"[{i}] spark={eq[i]!r} duck={bq[i]!r}" for i in diff)
                    )
            else:
                neq = ~((av == bv) | (av.isna() & bv.isna()))
                if neq.any():
                    idx = list(np.where(neq)[0][:5])
                    issues.append(
                        f"col {c}: {int(neq.sum())} diffs, first: "
                        + "; ".join(f"[{i}] spark={av[i]!r} duck={bv[i]!r}" for i in idx)
                    )
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from enterprise_data_quality_platform_spark.session import get_spark

    spark = get_spark("parity")
    from enterprise_data_quality_platform_spark.queries.registry import (
        oracle_connection,
        oracle_sqls,
    )

    # oracle_sql() (the driver contract) binds file-path oracles to the
    # driver's fixed sf0.01 dir; parity re-binds them to ITS sf_dir
    qs, oracles = entrymod.queries(), oracle_sqls(sf_dir)
    con = oracle_connection(sf_dir)

    failed, passed, rows_only = [], [], []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows-only {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        issues = type_fidelity_issues(name, con, oracles[name], sdf)
        issues += compare(name, sdf, ddf)
        if issues:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for i in issues:
                print(f"  - {i}")
            failed.append(name)
        else:
            passed.append(name)
            print(f"ok   {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")

    print(
        f"\n{len(passed)} ok, {len(failed)} failed, {len(rows_only)} rows-only"
        + (f"; FAILED: {failed}" if failed else "")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
