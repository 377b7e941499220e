"""Derived-partsupp family (Q2/Q9/Q20 analogues): semantics pinned on
crafted inputs — oracle parity at sf0.001/sf0.01 runs in tools/parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.queries import partsupp_ops as po
from enterprise_data_quality_platform_spark.queries.partsupp_ops import (
    derived_partsupp,
    mart_excess_inventory,
    mart_min_cost_supplier,
)

from conftest import SF_SMALL


def test_derived_partsupp_is_unique_and_deterministic(spark):
    ps = derived_partsupp(spark, SF_SMALL)
    n = ps.count()
    assert n == ps.select("ps_partkey", "ps_suppkey").distinct().count()
    # attributes are pure functions of the keys: rebuild equals build
    a = sorted(map(tuple, ps.collect()))
    b = sorted(map(tuple, derived_partsupp(spark, SF_SMALL).collect()))
    assert a == b
    row = ps.first()
    assert (
        row.ps_supplycost_cents
        == (row.ps_partkey * 31 + row.ps_suppkey * 17) % 100000 + 100
    )
    assert 1 <= row.ps_availqty <= 9999


def test_min_cost_supplier_keeps_all_ties_and_regional_min(spark):
    rows = mart_min_cost_supplier(spark, SF_SMALL).collect()
    assert rows, "query degenerate at smoke SF"
    # ties kept: every row of one part carries the SAME (minimal) cost,
    # and it can only be at or above the unfiltered global min (the window
    # min runs over the region-filtered candidate set)
    ps = derived_partsupp(spark, SF_SMALL).collect()
    global_min = {}
    for r in ps:
        k = r.ps_partkey
        global_min[k] = min(global_min.get(k, 10**9), r.ps_supplycost_cents)
    per_part = {}
    for r in rows:
        per_part.setdefault(r.part_key, set()).add(r.supplycost_cents)
    for part_key, costs in per_part.items():
        assert len(costs) == 1, f"non-minimal tie set for part {part_key}"
        assert costs.pop() >= global_min[part_key]


def test_excess_inventory_boundary_is_strict(spark, crafted_tables):
    """2*availqty > used_qty: equality must NOT qualify."""
    li = spark.createDataFrame(
        # one pair with usage exactly 2*availqty (excluded), one below
        # availqty(p=1,s=1) = (7+3)%9999+1 = 11 -> threshold 22
        # availqty(p=2,s=1) = (14+3)%9999+1 = 18 -> threshold 36
        [(1, 1, 22.0, "1996-06-01"), (2, 1, 35.0, "1996-06-01")],
        "l_partkey long, l_suppkey long, l_quantity double, ship string",
    ).withColumn("l_shipdate", F.col("ship").cast("timestamp_ntz"))
    part = spark.createDataFrame(
        [(1, "big gear"), (2, "small gear")], "p_partkey long, p_name string"
    )
    supplier = spark.createDataFrame(
        [(1, "Supplier#1", 0)], "s_suppkey long, s_name string, s_nationkey int"
    )
    nation = spark.createDataFrame(
        [(0, "NATION_0")], "n_nationkey int, n_name string"
    )
    frames = {"lineitem": li, "part": part, "supplier": supplier, "nation": nation}
    crafted_tables(po, frames)
    got = mart_excess_inventory(spark, "unused").collect()
    # pair (1,1): used 22 == threshold 22 -> excluded; pair (2,1): used 35 < 36 -> kept
    assert [r.supplier_name for r in got] == ["Supplier#1"]


def test_product_profit_arithmetic_exact(spark, crafted_tables):
    li = spark.createDataFrame(
        [(100, 3, 2, 2.0, 1000.0, 0.1, "1995-03-15")],
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double, l_discount double, ship string",
    ).withColumn("l_shipdate", F.col("ship").cast("timestamp_ntz"))
    orders = spark.createDataFrame(
        [(100, "1995-03-01")], "o_orderkey long, od string"
    ).withColumn("o_orderdate", F.col("od").cast("timestamp_ntz"))
    part = spark.createDataFrame([(3, "red bolt")], "p_partkey long, p_name string")
    supplier = spark.createDataFrame(
        [(2, "Supplier#2", 7)], "s_suppkey long, s_name string, s_nationkey int"
    )
    nation = spark.createDataFrame([(7, "NATION_7")], "n_nationkey int, n_name string")
    frames = {
        "lineitem": li, "orders": orders, "part": part,
        "supplier": supplier, "nation": nation,
    }
    crafted_tables(po, frames)
    got = po.mart_product_profit(spark, "unused").collect()
    # revenue = 1000*0.9 = 900.00; cost_cents = (3*31+2*17)%100000+100 = 227
    # cost = 2 * 2.27 = 4.54 -> profit 895.46
    assert len(got) == 1
    r = got[0]
    assert (r.nation_name, r.order_year, r.profit) == ("NATION_7", 1995, 895.46)
