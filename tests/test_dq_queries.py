"""Data-quality queries (``queries/dq.py``): crafted-input semantics,
in-plan guards and sketch error bands."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL, plan_of

from enterprise_data_quality_platform_spark.queries import dq


def test_suite_report_approx_agrees_with_exact(spark, sf_dir):
    """dq_suite_report_approx: same check names, same pass/fail verdicts as
    the exact suite on clean data (the sketch path must not flag phantom
    duplicates at 3*rsd tolerance)."""
    exact = {
        r["check_name"]: r["status"] for r in dq.dq_suite_report(spark, sf_dir).collect()
    }
    approx = {
        r["check_name"]: r["status"]
        for r in dq.dq_suite_report_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    assert exact == approx


def test_dq_correlation_raises_on_negative_input(spark, crafted_tier):
    sf = crafted_tier(
        "sf_neg",
        lineitem=(
            [(5.0, 100.0), (-1.0, 200.0), (3.0, 50.0)],
            "l_quantity double, l_extendedprice double",
        ),
    )
    with pytest.raises(Exception, match="non-negative"):
        dq.dq_correlation(spark, sf).collect()
    # and the guard itself adds no cost-of-correctness on clean data: the
    # real table still yields the 1-row result
    assert dq.dq_correlation(spark, SF_SMALL).count() == 1


def test_key_skew_packed_counters_guard_and_negatives(spark, crafted_tier):
    """The packed-counter form of dq_key_skew: (a) a per-key count
    over 127 carries out of its 7-bit slot; the carried word must be
    recounted in-plan, so the answer is exact (never an error, never a
    corrupted neighbor slot); (b) negative keys recover exactly
    (word*8 + slot is a two's-complement identity, and shift/mask
    extraction is sign-agnostic)."""
    # (a) one key with 300 rows -> slot carry -> exact recount
    hot = crafted_tier("hot", lineitem=([(0,)] * 300 + [(1,), (2,)], "l_orderkey long"))
    out = dq.dq_key_skew(spark, hot).collect()
    assert [(r.key, r.key_count) for r in out] == [(0, 300), (1, 1), (2, 1)]
    assert {(r.n_keys, r.total_rows) for r in out} == {(3, 302)}

    # (b) negative keys: counts and key identities exact
    neg = crafted_tier(
        "neg",
        lineitem=([(-9,), (-9,), (-9,), (-1,), (-1,), (0,), (5,)], "l_orderkey long"),
    )
    rows = {r.key: r.key_count for r in dq.dq_key_skew(spark, neg).collect()}
    assert rows == {-9: 3, -1: 2, 0: 1, 5: 1}


def test_distinct_sketch_error_band_and_merge(spark):
    row = dq.dq_distinct_sketch(spark, SF_SMALL).collect()[0]
    assert row.exact_distinct > 0
    # lgK=12 HLL: relative standard error ~1.6%; allow 5%
    assert row.rel_error_pct < 5.0
    # the union of per-half sketches must agree with the whole-table
    # sketch (same lgK; merge is where the incremental pattern lives)
    assert (
        abs(row.merged_estimate - row.sketch_estimate)
        <= 0.01 * row.sketch_estimate
    )


def test_hll_union_is_order_insensitive(spark):
    """Sketch algebra sanity: merging [evens, odds] and [odds, evens]
    yields identical estimates — the property that makes per-partition
    sketches safe to fold in any shuffle order."""
    df = spark.range(0, 5000).select(
        (F.col("id") % 2).alias("h"), (F.col("id") % 1300).alias("v")
    )
    sk = df.groupBy("h").agg(F.hll_sketch_agg("v", F.lit(12)).alias("sk"))
    asc = sk.orderBy("h").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0].e
    desc = sk.orderBy(F.col("h").desc()).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0].e
    assert asc == desc


def test_freq_sketch_never_underestimates(spark):
    rows = dq.dq_freq_sketch(spark, SF_SMALL).collect()
    assert len(rows) == 5
    total = sum(r.exact_count for r in rows)  # lower bound on N
    for r in rows:
        assert r.cms_estimate >= r.exact_count  # CMS invariant
        # eps=0.001 of N(>=1000 at sf0.001) -> tiny overestimate budget
        assert r.cms_estimate - r.exact_count <= max(10, total)


def test_fd_check_counts_majority_violations(spark, crafted_tables):
    rows = [
        (1, "x"), (1, "x"), (1, "y"),  # key 1: majority x, 1 violating row
        (2, "z"), (2, "z"),            # key 2: clean
    ]
    df = spark.createDataFrame(rows, "o_custkey long, o_orderpriority string")
    crafted_tables(dq, df)
    row = dq.dq_fd_check(spark, "unused").collect()[0]
    assert (row.n_keys, row.violating_keys, row.violating_rows) == (2, 1, 1)
    assert row.fd_strength == pytest.approx(4 / 5, abs=1e-6)


def test_fd_check_no_expand(spark):
    """Two-level aggregate, not count_distinct: no Expand row duplication."""
    plan = plan_of(spark, "dq_fd_check")
    assert "Expand" not in plan


def test_benford_digit_extraction_and_shares(spark, sf_dir):
    rows = dq.dq_benford(spark, sf_dir).collect()
    digits = [r.digit for r in rows]
    assert digits == sorted(digits) and set(digits) <= set("123456789")
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r.deviation == pytest.approx(r.share - r.benford_expected)


def test_correlation_exact_on_linear_data(spark, crafted_tables):
    """y = 3x exactly -> r == 1.0, slope == 3.0 bit-exact (all moments are
    exact decimals; the closed form divides identical quantities)."""
    df = spark.createDataFrame(
        [(float(i), float(3 * i)) for i in range(1, 101)],
        "l_quantity double, l_extendedprice double",
    )
    crafted_tables(dq, df)
    row = dq.dq_correlation(spark, "unused").first()
    assert row.n == 100
    assert row.pearson_r == 1.0
    assert row.slope == 3.0
