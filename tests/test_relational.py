"""Relational marts and staging queries (``queries/relational.py``):
crafted-input semantics, packed-map domain guards and plan shapes."""

from __future__ import annotations

import datetime
import re

import pytest

from conftest import plan_of

from enterprise_data_quality_platform_spark.catalog import table
from enterprise_data_quality_platform_spark.queries import relational as rel


def _d(y: int, m: int = 1, d: int = 1) -> datetime.datetime:
    return datetime.datetime(y, m, d)


_PART_TYPE = "p_partkey long, p_type string"


def test_large_volume_packed_sums_guards(spark, crafted_tier):
    """The packed-quantity-sum form of mart_large_volume_customers:
    fractional quantities, negative quantities, and per-order sums beyond
    the 14-bit slot each raise loudly instead of silently corrupting the
    HAVING filter; valid integer data still reproduces exact sums."""

    def tier(tag, li_rows):
        orders = [(k, 1, 10.0, "1996-01-01") for k in {r[0] for r in li_rows}]
        return crafted_tier(
            tag,
            lineitem=(li_rows, "l_orderkey long, l_quantity double"),
            orders=(
                orders,
                "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string",
            ),
            customer=([(1, "c1")], "c_custkey long, c_name string"),
        )

    # fractional quantity, negative quantity, per-order sum beyond the
    # 14-bit slot (carry): each raises
    for tag, li_rows in (
        ("frac", [(1, 2.5), (2, 400.0)]),
        ("neg", [(1, -3.0), (2, 400.0)]),
        ("carry", [(4, 9000.0), (4, 9000.0)]),
    ):
        with pytest.raises(Exception, match="packed-sum domain"):
            rel.mart_large_volume_customers(spark, tier(tag, li_rows)).collect()
    # valid data: exact sums, HAVING boundary respected (301 in, 300 out)
    sf = tier("ok", [(8, 200.0), (8, 101.0), (9, 300.0), (10, 50.0)])
    rows = rel.mart_large_volume_customers(spark, sf).collect()
    assert [(r.o_orderkey, r.total_qty) for r in rows] == [(8, 301.0)]


def test_promo_share_bitmap_flag_join_semantics(spark, crafted_tier):
    """The bitmap flag-join form of mart_promo_revenue_share:
    (a) exact inner-join semantics — a lineitem whose partkey is ABSENT
    from part (but whose word exists) must be dropped, and a negative
    partkey recovers its bit exactly; (b) duplicate dim keys raise via
    the bit_count guard instead of silently de-duplicating matches."""
    lines = "l_partkey long, l_extendedprice double, l_discount double, l_shipdate timestamp_ntz"
    ts = datetime.datetime(1996, 3, 7)
    # parts 5 (PROMO) and -3 (STANDARD) exist; partkey 6 shares word 0
    # with part 5 but is absent -> its 100.0 revenue must NOT count
    sf = crafted_tier(
        "ok",
        part=([(5, "PROMO"), (-3, "STANDARD")], _PART_TYPE),
        lineitem=([(5, 10.0, 0.0, ts), (6, 100.0, 0.0, ts), (-3, 30.0, 0.0, ts)], lines),
    )
    rows = rel.mart_promo_revenue_share(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_lines == 2  # absent partkey 6 dropped
    assert r.promo_share_pct == 25.0  # 10 promo / 40 total

    # duplicate partkey -> loud failure
    dup = crafted_tier(
        "dup",
        part=([(5, "PROMO"), (5, "PROMO")], _PART_TYPE),
        lineitem=([(5, 10.0, 0.0, ts)], lines),
    )
    with pytest.raises(Exception, match="duplicate p_partkey"):
        rel.mart_promo_revenue_share(spark, dup).collect()


def test_brand_share_packed_year_map_semantics(spark, crafted_tier):
    """The packed-map form of mart_brand_market_share: (a) exact
    inner-join semantics on BOTH packed sides — a lineitem whose partkey
    or orderkey is ABSENT (word present, slot/bit empty) must drop, and
    negative keys recover exactly; (b) the numerator counts only
    STANDARD Brand#11 revenue; (c) duplicate part/order keys and order
    years outside [1990, 2244] raise via the dim-side guards instead of
    silently corrupting slots."""

    def tier(tag, parts, orders, lines):
        return crafted_tier(
            tag,
            part=(parts, "p_partkey long, p_type string, p_brand string"),
            orders=(orders, "o_orderkey long, o_orderdate timestamp_ntz"),
            lineitem=(
                lines,
                "l_orderkey long, l_partkey long, l_extendedprice double, l_discount double",
            ),
        )

    d96 = datetime.datetime(1996, 3, 7)
    d97 = datetime.datetime(1997, 6, 1)
    parts = [
        (5, "STANDARD", "Brand#11"),
        (6, "STANDARD", "Brand#22"),
        (-3, "STANDARD", "Brand#11"),
        (7, "PROMO", "Brand#11"),  # non-STANDARD -> never counts
    ]
    orders = [(100, d96), (101, d97), (-9, d96)]
    lines = [
        (100, 5, 10.0, 0.0),   # 1996 brand revenue 10
        (100, 6, 30.0, 0.0),   # 1996 other-brand revenue 30
        (101, -3, 7.0, 0.0),   # 1997 brand revenue 7 (negative partkey)
        (-9, 6, 5.0, 0.0),     # 1996, negative orderkey
        (100, 8, 999.0, 0.0),  # partkey 8 ABSENT (word 0 exists) -> drop
        (102, 5, 999.0, 0.0),  # orderkey 102 ABSENT (word 12 exists) -> drop
        (100, 7, 999.0, 0.0),  # PROMO part -> filtered like a failed join
    ]
    rows = rel.mart_brand_market_share(spark, tier("ok", parts, orders, lines)).collect()
    got = {r.order_year: r.brand_share for r in rows}
    # 1996: brand 10 of total 45 = 0.222222 (6 dp); 1997: brand 7 of 7
    assert got == {1996: 0.222222, 1997: 1.0}

    # duplicate orderkey -> loud failure (two year codes OR'd into a slot)
    dup_o = tier("dupo", parts, [(100, d96), (100, d97)], [(100, 5, 1.0, 0.0)])
    with pytest.raises(Exception, match="packed year-map domain"):
        rel.mart_brand_market_share(spark, dup_o).collect()

    # duplicate partkey -> loud failure
    dup_p = tier(
        "dupp",
        [(5, "STANDARD", "Brand#11"), (5, "STANDARD", "Brand#11")],
        [(100, d96)],
        [(100, 5, 1.0, 0.0)],
    )
    with pytest.raises(Exception, match="duplicate p_partkey"):
        rel.mart_brand_market_share(spark, dup_p).collect()

    # order year outside the 8-bit code range -> loud failure
    old = tier("old", parts, [(100, _d(1989))], [(100, 5, 1.0, 0.0)])
    with pytest.raises(Exception, match="packed year-map domain"):
        rel.mart_brand_market_share(spark, old).collect()


def test_q3_packed_date_map_guards(spark, crafted_tier):
    """mart_shipping_priority's packed date map: a NON-midnight-aligned
    o_orderdate would silently recover a truncated date, so the code
    expression maps it to -1 and the map's domain guard raises."""
    sf = crafted_tier(
        "q3bad",
        customer=([(1, "BUILDING")], "c_custkey long, c_mktsegment string"),
        orders=(
            [(10, 1, datetime.datetime(1996, 3, 7, 12, 30), "1-URGENT")],
            "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz,"
            " o_orderpriority string",
        ),
        lineitem=(
            [(10, 100.0, 0.0, _d(1997, 6))],
            "l_orderkey long, l_extendedprice double, l_discount double,"
            " l_shipdate timestamp_ntz",
        ),
    )
    with pytest.raises(Exception, match="packed date-map domain"):
        rel._mart_shipping_priority_packed(spark, sf).collect()


def test_q5_packed_nation_maps_guard(spark, crafted_tier):
    """mart_local_supplier_volume's nation-code maps: a nationkey outside
    the 8-bit code domain raises via the per-word guard instead of
    bleeding into a neighbor slot."""
    sf = crafted_tier(
        "q5bad",
        customer=([(1, 300)], "c_custkey long, c_nationkey int"),
        orders=(
            [(10, 1, _d(1996, 6))],
            "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz",
        ),
        supplier=([(1, 7)], "s_suppkey long, s_nationkey int"),
        nation=([(7, "n7")], "n_nationkey int, n_name string"),
        lineitem=(
            [(10, 1, 100.0, 0.0)],
            "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
        ),
    )
    with pytest.raises(Exception, match="packed customer nation-map domain"):
        rel._mart_local_supplier_volume_packed(spark, sf).collect()


def test_promo_share_conditional_aggregate(spark, crafted_tables):
    d = datetime.datetime(2024, 5, 10)
    li = spark.createDataFrame(
        [
            (1, 100.0, 0.0, d),  # promo: 100
            (2, 300.0, 0.0, d),  # standard: 300
        ],
        "l_partkey long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    )
    part = spark.createDataFrame(
        [(1, "PROMO"), (2, "STANDARD")], "p_partkey long, p_type string"
    )
    tables = {"lineitem": li, "part": part}
    crafted_tables(rel, tables)
    rows = rel.mart_promo_revenue_share(spark, "x").collect()
    assert len(rows) == 1
    assert rows[0].promo_share_pct == 25.0 and rows[0].n_lines == 2


def test_promo_share_single_aggregate_no_second_scan(spark):
    plan = plan_of(spark, "mart_promo_revenue_share")
    # bitmap flag-join: ONE lineitem scan (the load-bearing invariant —
    # both sums still come from one conditional aggregate over one probe
    # pass) + TWO part scans (the word-bitmap build and the duplicate-key
    # guard's recount; Catalyst duplicates the dim subtree for the 1-row
    # guard aggregate — adjudicated: 2M dim rows off the fact path, the
    # same deliberate trade as the affinity pack guard).
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert plan.count("lineitem.parquet") == 1


def test_disjunctive_join_stays_hash_join(spark):
    """The OR spans both sides, but the common partkey equi-condition must
    still drive a hash join — never a nested loop."""
    plan = plan_of(spark, "mart_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_bands_are_exclusive_filters(spark, crafted_tables):
    li = spark.createDataFrame(
        [
            (1, 5.0, 100.0, 0.0),   # Brand#12, qty 5 in [1,11] -> kept
            (1, 12.0, 100.0, 0.0),  # Brand#12, qty 12 out of band
            (2, 15.0, 50.0, 0.0),   # Brand#23, qty 15 in [10,20] -> kept
            (3, 15.0, 70.0, 0.0),   # Brand#34, qty 15 out of [20,30]
        ],
        "l_partkey long, l_quantity double, l_extendedprice double, l_discount double",
    )
    part = spark.createDataFrame(
        [(1, "Brand#12", 10), (2, "Brand#23", 20), (3, "Brand#34", 30)],
        "p_partkey long, p_brand string, p_size int",
    )
    tables = {"lineitem": li, "part": part}
    crafted_tables(rel, tables)
    row = rel.mart_disjunctive_revenue(spark, "x").collect()[0]
    assert (row.n_lines, row.revenue) == (2, 150.0)
