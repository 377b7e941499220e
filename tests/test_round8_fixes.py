"""Round-8 regression pins for the ADVICE r7 fixes.

1. ``write_bucketed`` enforces the one-sorted-file-per-bucket invariant that
   ``spark.sql.legacy.bucketedTableScan.outputOrdering`` (set by
   ``_bucketed_fact``) relies on: appends onto sorted buckets are rejected
   loudly instead of silently corrupting later merge-join results.
2. ``dq_correlation`` raises in-plan on negative inputs — its split-sum
   decomposition (shift/mask vs the oracle's ``//``/``%``) is only exact for
   non-negative products, and the precondition used to live solely in the
   docstring.
3. ``drop_stale_session_dirs`` only removes dirs older than the age gate, so
   a concurrently-live session's temp copy survives cleanup.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_write_bucketed_rejects_append_on_sorted(spark, tmp_path):
    from enterprise_data_quality_platform_spark.catalog import table
    from enterprise_data_quality_platform_spark.sources.writers import write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS r8bucket LOCATION '{tmp_path}/db'")
    try:
        nation = table(spark, SF_SMALL, "nation")
        write_bucketed(
            nation, "r8bucket.sorted_t", ["n_nationkey"], 4,
            sort_cols=["n_nationkey"],
        )
        # append with sort_cols: rejected regardless of target state
        with pytest.raises(ValueError, match="one-sorted-file-per-bucket"):
            write_bucketed(
                nation, "r8bucket.sorted_t", ["n_nationkey"], 4,
                sort_cols=["n_nationkey"], mode="append",
            )
        # append WITHOUT sort_cols onto an existing SORTED table: the stale
        # sort metadata would still mislead readers — rejected too
        with pytest.raises(ValueError, match="one-sorted-file-per-bucket"):
            write_bucketed(
                nation, "r8bucket.sorted_t", ["n_nationkey"], 4, mode="append"
            )
        # unsorted bucketed table: appends are safe (worst case a re-Sort)
        write_bucketed(nation, "r8bucket.plain_t", ["n_nationkey"], 4)
        write_bucketed(
            nation, "r8bucket.plain_t", ["n_nationkey"], 4, mode="append"
        )
        assert spark.table("r8bucket.plain_t").count() == 2 * nation.count()
    finally:
        spark.sql("DROP DATABASE IF EXISTS r8bucket CASCADE")


def test_dq_correlation_raises_on_negative_input(spark, tmp_path):
    from enterprise_data_quality_platform_spark.queries.dq import dq_correlation

    sf_dir = str(tmp_path / "sf_neg")
    spark.createDataFrame(
        [(5.0, 100.0), (-1.0, 200.0), (3.0, 50.0)],
        "l_quantity double, l_extendedprice double",
    ).write.parquet(f"{sf_dir}/lineitem.parquet")
    with pytest.raises(Exception, match="non-negative"):
        dq_correlation(spark, sf_dir).collect()
    # and the guard itself adds no cost-of-correctness on clean data: the
    # real table still yields the 1-row result
    assert dq_correlation(spark, SF_SMALL).count() == 1


def test_drop_stale_session_dirs_mtime_gate(tmp_path, monkeypatch):
    import tempfile

    from enterprise_data_quality_platform_spark.session import (
        drop_stale_session_dirs,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    old_dir = tmp_path / "edqp-orc-app-old"
    new_dir = tmp_path / "edqp-orc-app-live"
    keep_dir = tmp_path / "edqp-orc-app-current"
    for d in (old_dir, new_dir, keep_dir):
        d.mkdir()
    stale_ts = time.time() - 7 * 3600
    os.utime(old_dir, (stale_ts, stale_ts))

    drop_stale_session_dirs("edqp-orc", keep=str(keep_dir))
    assert not old_dir.exists()  # 7h old: dead session, removed
    assert new_dir.exists()  # fresh mtime: plausibly live, kept
    assert keep_dir.exists()  # current session's own dir, kept


def test_key_skew_packed_counters_guard_and_negatives(spark, tmp_path):
    """The r8 packed-counter rewrite of dq_key_skew: (a) a per-key count
    over 127 carries out of its 7-bit slot; the carried word must be
    recounted in-plan, so the answer is exact (never an error, never a
    corrupted neighbor slot); (b) negative keys recover exactly
    (word*8 + slot is a two's-complement identity, and shift/mask
    extraction is sign-agnostic)."""
    from enterprise_data_quality_platform_spark.queries.dq import dq_key_skew

    # (a) one key with 300 rows -> slot carry -> exact recount
    hot = str(tmp_path / "hot")
    spark.createDataFrame(
        [(0,)] * 300 + [(1,), (2,)], "l_orderkey long"
    ).write.parquet(f"{hot}/lineitem.parquet")
    out = dq_key_skew(spark, hot).collect()
    assert [(r.key, r.key_count) for r in out] == [(0, 300), (1, 1), (2, 1)]
    assert {(r.n_keys, r.total_rows) for r in out} == {(3, 302)}

    # (b) negative keys: counts and key identities exact
    neg = str(tmp_path / "neg")
    spark.createDataFrame(
        [(-9,), (-9,), (-9,), (-1,), (-1,), (0,), (5,)], "l_orderkey long"
    ).write.parquet(f"{neg}/lineitem.parquet")
    rows = {r.key: r.key_count for r in dq_key_skew(spark, neg).collect()}
    assert rows == {-9: 3, -1: 2, 0: 1, 5: 1}


def test_shj_build_fits_size_arithmetic(spark):
    """The shuffled-hash-join hint gate: tiny builds fit; a build whose
    per-partition bytes exceed the task execution-memory share does not
    (simulated via an absurd bytes-per-row); estimation failures fall back
    to True (the hint — the gate exists to avoid loud failures, not to
    silently change plans on error)."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        _shj_build_fits,
    )

    assert _shj_build_fits(spark, SF_SMALL, "lineitem") is True
    assert (
        _shj_build_fits(spark, SF_SMALL, "lineitem", bytes_per_row=1 << 40)
        is False
    )
    assert _shj_build_fits(spark, "/nonexistent", "lineitem") is True


def test_user_conf_overrides_survive_table_reads(spark):
    """configure_session applies engine defaults ONCE per session: a conf
    the caller tunes between table() reads must survive the next read
    (previously every read re-applied RUNTIME_CONFS and silently reverted
    the override — the r8 probe's skew demo planned a broadcast join
    because of exactly this)."""
    from enterprise_data_quality_platform_spark.catalog import table
    from enterprise_data_quality_platform_spark.session import (
        RUNTIME_CONFS,
        configure_session,
    )

    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    engine_default = RUNTIME_CONFS[key]
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        table(spark, SF_SMALL, "nation").count()
        assert spark.conf.get(key) == "-1"  # override survived the read
        configure_session(spark, force=True)
        assert spark.conf.get(key) == engine_default  # force re-applies
    finally:
        spark.conf.set(key, old)


def test_large_volume_packed_sums_guards(spark, tmp_path):
    """The r8 packed-quantity-sum rewrite of mart_large_volume_customers:
    fractional quantities, negative quantities, and per-order sums beyond
    the 14-bit slot each raise loudly instead of silently corrupting the
    HAVING filter; valid integer data still reproduces exact sums."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_large_volume_customers,
    )

    def mk(tag, li_rows, orders_rows=None):
        sf = str(tmp_path / tag)
        spark.createDataFrame(
            li_rows, "l_orderkey long, l_quantity double"
        ).write.parquet(f"{sf}/lineitem.parquet")
        spark.createDataFrame(
            orders_rows
            or [(k, 1, 10.0, "1996-01-01") for k in {r[0] for r in li_rows}],
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string",
        ).write.parquet(f"{sf}/orders.parquet")
        spark.createDataFrame(
            [(1, "c1")], "c_custkey long, c_name string"
        ).write.parquet(f"{sf}/customer.parquet")
        return sf

    # fractional quantity -> raise
    with pytest.raises(Exception, match="packed-sum domain"):
        mart_large_volume_customers(
            spark, mk("frac", [(1, 2.5), (2, 400.0)])
        ).collect()
    # negative quantity -> raise
    with pytest.raises(Exception, match="packed-sum domain"):
        mart_large_volume_customers(
            spark, mk("neg", [(1, -3.0), (2, 400.0)])
        ).collect()
    # per-order sum beyond the 14-bit slot (carry) -> raise
    with pytest.raises(Exception, match="packed-sum domain"):
        mart_large_volume_customers(
            spark, mk("carry", [(4, 9000.0), (4, 9000.0)])
        ).collect()
    # valid data: exact sums, HAVING boundary respected (301 in, 300 out)
    sf = mk("ok", [(8, 200.0), (8, 101.0), (9, 300.0), (10, 50.0)])
    rows = mart_large_volume_customers(spark, sf).collect()
    assert [(r.o_orderkey, r.total_qty) for r in rows] == [(8, 301.0)]


def test_promo_share_bitmap_flag_join_semantics(spark, tmp_path):
    """The r8 bitmap flag-join rewrite of mart_promo_revenue_share:
    (a) exact inner-join semantics — a lineitem whose partkey is ABSENT
    from part (but whose word exists) must be dropped, and a negative
    partkey recovers its bit exactly; (b) duplicate dim keys raise via
    the bit_count guard instead of silently de-duplicating matches."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_promo_revenue_share,
    )

    def mk(tag, parts, lines):
        sf = str(tmp_path / tag)
        spark.createDataFrame(parts, "p_partkey long, p_type string").write.parquet(
            f"{sf}/part.parquet"
        )
        spark.createDataFrame(
            lines,
            "l_partkey long, l_extendedprice double, l_discount double, "
            "l_shipdate timestamp_ntz",
        ).write.parquet(f"{sf}/lineitem.parquet")
        return sf

    import datetime

    ts = datetime.datetime(1996, 3, 7)
    # parts 5 (PROMO) and -3 (STANDARD) exist; partkey 6 shares word 0
    # with part 5 but is absent -> its 100.0 revenue must NOT count
    sf = mk(
        "ok",
        [(5, "PROMO"), (-3, "STANDARD")],
        [(5, 10.0, 0.0, ts), (6, 100.0, 0.0, ts), (-3, 30.0, 0.0, ts)],
    )
    rows = mart_promo_revenue_share(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_lines == 2  # absent partkey 6 dropped
    assert r.promo_share_pct == 25.0  # 10 promo / 40 total

    # duplicate partkey -> loud failure
    dup = mk("dup", [(5, "PROMO"), (5, "PROMO")], [(5, 10.0, 0.0, ts)])
    with pytest.raises(Exception, match="duplicate p_partkey"):
        mart_promo_revenue_share(spark, dup).collect()


def test_brand_share_packed_year_map_semantics(spark, tmp_path):
    """The r8 packed-map rewrite of mart_brand_market_share: (a) exact
    inner-join semantics on BOTH packed sides — a lineitem whose partkey
    or orderkey is ABSENT (word present, slot/bit empty) must drop, and
    negative keys recover exactly; (b) the numerator counts only
    STANDARD Brand#11 revenue; (c) duplicate part/order keys and order
    years outside [1990, 2244] raise via the dim-side guards instead of
    silently corrupting slots."""
    import datetime

    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_brand_market_share,
    )

    def mk(tag, parts, orders, lines):
        sf = str(tmp_path / tag)
        spark.createDataFrame(
            parts, "p_partkey long, p_type string, p_brand string"
        ).write.parquet(f"{sf}/part.parquet")
        spark.createDataFrame(
            orders, "o_orderkey long, o_orderdate timestamp_ntz"
        ).write.parquet(f"{sf}/orders.parquet")
        spark.createDataFrame(
            lines,
            "l_orderkey long, l_partkey long, l_extendedprice double, "
            "l_discount double",
        ).write.parquet(f"{sf}/lineitem.parquet")
        return sf

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
    rows = mart_brand_market_share(spark, mk("ok", parts, orders, lines)).collect()
    got = {r.order_year: r.brand_share for r in rows}
    # 1996: brand 10 of total 45 = 0.222222 (6 dp); 1997: brand 7 of 7
    assert got == {1996: 0.222222, 1997: 1.0}

    # duplicate orderkey -> loud failure (two year codes OR'd into a slot)
    dup_o = mk("dupo", parts, [(100, d96), (100, d97)], [(100, 5, 1.0, 0.0)])
    with pytest.raises(Exception, match="packed year-map domain"):
        mart_brand_market_share(spark, dup_o).collect()

    # duplicate partkey -> loud failure
    dup_p = mk(
        "dupp",
        [(5, "STANDARD", "Brand#11"), (5, "STANDARD", "Brand#11")],
        [(100, d96)],
        [(100, 5, 1.0, 0.0)],
    )
    with pytest.raises(Exception, match="duplicate p_partkey"):
        mart_brand_market_share(spark, dup_p).collect()

    # order year outside the 8-bit code range -> loud failure
    old = mk(
        "old",
        parts,
        [(100, datetime.datetime(1989, 1, 1))],
        [(100, 5, 1.0, 0.0)],
    )
    with pytest.raises(Exception, match="packed year-map domain"):
        mart_brand_market_share(spark, old).collect()


def test_q3_packed_date_map_guards(spark, tmp_path):
    """mart_shipping_priority's packed date map: a NON-midnight-aligned
    o_orderdate would silently recover a truncated date, so the code
    expression maps it to -1 and the map's domain guard raises."""
    import datetime

    from enterprise_data_quality_platform_spark.queries.relational import (
        _mart_shipping_priority_packed as mart_shipping_priority,
    )

    sf = str(tmp_path / "q3bad")
    spark.createDataFrame(
        [(1, "BUILDING")], "c_custkey long, c_mktsegment string"
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [(10, 1, datetime.datetime(1996, 3, 7, 12, 30), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz,"
        " o_orderpriority string",
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(10, 100.0, 0.0, datetime.datetime(1997, 6, 1))],
        "l_orderkey long, l_extendedprice double, l_discount double,"
        " l_shipdate timestamp_ntz",
    ).write.parquet(f"{sf}/lineitem.parquet")
    with pytest.raises(Exception, match="packed date-map domain"):
        mart_shipping_priority(spark, sf).collect()


def test_q5_packed_nation_maps_guard(spark, tmp_path):
    """mart_local_supplier_volume's nation-code maps: a nationkey outside
    the 8-bit code domain raises via the per-word guard instead of
    bleeding into a neighbor slot."""
    import datetime

    from enterprise_data_quality_platform_spark.queries.relational import (
        _mart_local_supplier_volume_packed as mart_local_supplier_volume,
    )

    d = datetime.datetime(1996, 6, 1)
    sf = str(tmp_path / "q5bad")
    spark.createDataFrame(
        [(1, 300)], "c_custkey long, c_nationkey int"
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [(10, 1, d)], "o_orderkey long, o_custkey long, o_orderdate timestamp_ntz"
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(1, 7)], "s_suppkey long, s_nationkey int"
    ).write.parquet(f"{sf}/supplier.parquet")
    spark.createDataFrame(
        [(7, "n7")], "n_nationkey int, n_name string"
    ).write.parquet(f"{sf}/nation.parquet")
    spark.createDataFrame(
        [(10, 1, 100.0, 0.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double,"
        " l_discount double",
    ).write.parquet(f"{sf}/lineitem.parquet")
    with pytest.raises(Exception, match="packed customer nation-map domain"):
        mart_local_supplier_volume(spark, sf).collect()
