"""Unit pins for operators/packedmap.py — the packed small-code broadcast
map (bitmap flag-join generalized to n-bit values), the presence-bitmap
distinct count, and the packed per-key counter of ``dq_key_skew``.

The load-bearing properties: exact inner-join semantics (absent key ⇒
drop; negative keys recover via the two's-complement slot identity),
loud dim-side guards for duplicate keys and out-of-domain codes, and —
critically — the guard fires EVEN WHEN the violation drops every probe
row (AQE's empty-relation propagation eliminates a result-side guard
join before its stage materializes when the aggregate above it is
empty). Distinct and per-key counts answer exactly, and never raise, on
every crafted key domain, including keys repeated past a 7-bit (127) and
a 15-bit (32767) slot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.operators.packedmap import (
    distinct_presence,
    join_packed_codes,
    packed_code_map,
    packed_map_worthwhile,
)
from enterprise_data_quality_platform_spark.queries import relational
from enterprise_data_quality_platform_spark.queries.dq import dq_unique_proportion


def _map_of(spark, rows, slot_bits=8):
    df = spark.createDataFrame(rows, "k long, v long")
    return packed_code_map(
        df, "k", F.col("v"), slot_bits=slot_bits, guard_message="pm: bad domain"
    )


def test_roundtrip_including_negative_and_absent_keys(spark):
    # keys spanning words, negative keys, code range edges 1 and 255
    build = [(0, 1), (7, 255), (8, 42), (-1, 7), (-8, 9)]
    pmap = _map_of(spark, build)
    probe = spark.createDataFrame(
        [(0,), (7,), (8,), (-1,), (-8,), (3,), (100,), (None,)], "k long"
    )
    got = {
        r.k: r.code
        for r in join_packed_codes(probe, pmap, "k", "code").collect()
    }
    # absent keys 3 (word 0 exists) and 100 (word absent) and NULL all drop
    assert got == {0: 1, 7: 255, 8: 42, -1: 7, -8: 9}


def test_duplicate_key_raises(spark):
    pmap = _map_of(spark, [(5, 1), (5, 2)])
    probe = spark.createDataFrame([(5,)], "k long")
    with pytest.raises(Exception, match="pm: bad domain"):
        join_packed_codes(probe, pmap, "k", "code").collect()


@pytest.mark.parametrize("code", [0, -3, 256])
def test_out_of_domain_code_raises_even_when_all_rows_drop(spark, code):
    """code 0/negative drops every probe row — the final frame is empty,
    so a guard attached only above the aggregate would be AQE-eliminated;
    the words-embedded guard must still raise."""
    pmap = _map_of(spark, [(5, code)])
    probe = spark.createDataFrame([(5,)], "k long")
    with pytest.raises(Exception, match="pm: bad domain"):
        join_packed_codes(probe, pmap, "k", "code").collect()


def test_null_code_raises(spark):
    """A NULL code row must raise, not silently drop the key: bit_or /
    min / max all IGNORE NULLs, so before the _ccnt==_cnt check the word
    passed the guard while the slot stayed 0 — the probe dropped the key
    where the plain join would have kept it with a NULL value. The word
    also holds a healthy non-NULL neighbor so the occupancy/range checks
    alone cannot catch it."""
    df = spark.createDataFrame([(1, 5), (2, None)], "k long, v long")
    pmap = packed_code_map(
        df, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
    )
    probe = spark.createDataFrame([(1,), (2,)], "k long")
    with pytest.raises(Exception, match="pm: bad domain"):
        join_packed_codes(probe, pmap, "k", "code").collect()


def test_words_fit_broadcast_falls_back_to_static_threshold(spark, sf_dir):
    """When the adaptive broadcast threshold is UNSET, Spark falls back
    to spark.sql.autoBroadcastJoinThreshold — the gate must read that
    fallback, not assume the 64MB default: with the static
    conf at -1 (broadcasts off) the gate must return False. Sizes written
    with a unit ("67108864b", Spark's own printed form, and "64m") parse
    as Spark parses them."""
    from enterprise_data_quality_platform_spark.operators.packedmap import (
        words_fit_broadcast,
    )

    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_adaptive = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold"
    )
    try:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not words_fit_broadcast(spark, sf_dir, "nation")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        assert words_fit_broadcast(spark, sf_dir, "nation")
        for size in ("67108864b", "64m"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", size)
            assert words_fit_broadcast(spark, sf_dir, "nation"), size
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", old_adaptive
        )


def test_value_identical_to_plain_join(spark):
    import random

    rng = random.Random(8)
    build = [(k, rng.randint(1, 255)) for k in rng.sample(range(-500, 4000), 700)]
    probe_keys = [(rng.randint(-600, 4100),) for _ in range(3000)]
    dim = spark.createDataFrame(build, "k long, v long")
    probe = spark.createDataFrame(probe_keys, "k long")
    pmap = packed_code_map(
        dim, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
    )
    packed = (
        join_packed_codes(probe, pmap, "k", "code")
        .groupBy("k", "code")
        .count()
        .collect()
    )
    plain = (
        probe.join(dim, "k")
        .groupBy("k", F.col("v").alias("code"))
        .count()
        .collect()
    )
    assert sorted(map(tuple, packed)) == sorted(map(tuple, plain))


def test_slot_bits_validation(spark):
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    with pytest.raises(ValueError, match="slot_bits"):
        packed_code_map(df, "k", F.col("v"), slot_bits=12, guard_message="x")


def test_sixteen_bit_slots(spark):
    pmap = _map_of(spark, [(0, 65535), (3, 1), (4, 300)], slot_bits=16)
    probe = spark.createDataFrame([(0,), (3,), (4,), (2,)], "k long")
    got = {
        r.k: r.code
        for r in join_packed_codes(probe, pmap, "k", "code").collect()
    }
    assert got == {0: 65535, 3: 1, 4: 300}


def test_degrades_to_shuffle_join_with_identical_values(spark):
    """The scale-posture claim ("past the broadcast ceiling AQE degrades
    the word join to a shuffle on 2**k-times-fewer rows — never worse
    than the plain join") pinned at the VALUE level: with broadcasts
    disabled the word join must plan as a non-broadcast join and return
    the exact same rows."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    build = [(k, rng.randint(1, 255)) for k in rng.sample(range(0, 2000), 400)]
    probe_keys = [(rng.randint(-50, 2100),) for _ in range(2000)]
    dim = spark.createDataFrame(build, "k long, v long")
    probe = spark.createDataFrame(probe_keys, "k long")

    def run():
        pmap = packed_code_map(
            dim, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
        )
        return sorted(
            map(
                tuple,
                join_packed_codes(probe, pmap, "k", "code")
                .groupBy("k", "code")
                .count()
                .collect(),
            )
        )

    baseline = run()
    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_adaptive = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        pmap = packed_code_map(
            dim, "k", F.col("v"), slot_bits=8, guard_message="pm: bad domain"
        )
        df = join_packed_codes(probe, pmap, "k", "code").groupBy("k", "code").count()
        degraded = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_adaptive)
    assert degraded == baseline


_LMAX = 9223372036854775807
_LMIN = -_LMAX - 1

#: crafted key domains: name -> list of keys (None = NULL)
_DOMAINS = {
    "negatives_nulls": [-9, -9, -1, 0, 8, 8, 8, None, None, 32, 63, 64, -64, -65],
    "long_extremes": [_LMAX, _LMAX, _LMIN, _LMIN, _LMIN, _LMAX - 1, 63, 64, -64, -65],
    # a key past a 7-bit slot, in a low slot
    "hot_over_127": [7] * 130 + [1, 2, 2, None],
    # past a 15-bit slot: key 7 sits in the top 7-bit slot (its packed sum
    # overflows a long), key 8 in the bottom one
    "hot_over_32767": [7] * 40000 + [8] * 33000 + [6, None],
    "empty": [],
    "all_null": [None] * 5,
}


@pytest.fixture(scope="module")
def domain_dirs(spark, tmp_path_factory):
    """One sf-style dir per domain: the keys as ``orders.o_orderkey`` and
    ``lineitem.l_orderkey`` (bigint), each a parquet directory."""
    dirs = {}
    for name, keys in _DOMAINS.items():
        d = tmp_path_factory.mktemp(name)
        rows = [(k,) for k in keys]
        for tbl, col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            spark.createDataFrame(rows, f"{col} long").write.parquet(
                str(d / f"{tbl}.parquet")
            )
        dirs[name] = str(d)
    return dirs


def _oracle(sf_dir: str, query: str) -> list[tuple]:
    import duckdb

    from enterprise_data_quality_platform_spark.queries import all_queries

    con = duckdb.connect()
    for tbl in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{tbl}.parquet/*.parquet')"
        )
    return con.execute(all_queries()[query].oracle).fetchall()


@pytest.mark.parametrize("domain", list(_DOMAINS))
@pytest.mark.parametrize("site", ["run_suite_unique", "dq_uniqueness", "dq_key_skew"])
def test_distinct_and_key_counts_exact_on_crafted_domains(
    spark, domain_dirs, site, domain
):
    """Every call site of the packed/bitmap counters answers exactly —
    no error, no carry — on every domain: the suite's unique check against
    plain Python, the two queries against their DuckDB oracle."""
    from enterprise_data_quality_platform_spark.catalog import table
    from enterprise_data_quality_platform_spark.checks import Check, run_suite
    from enterprise_data_quality_platform_spark.queries import dq

    sf_dir = domain_dirs[domain]
    if site == "run_suite_unique":
        keys = _DOMAINS[domain]
        non_null = [k for k in keys if k is not None]
        res = run_suite(
            {"orders": table(spark, sf_dir, "orders")},
            [Check("u", "unique", "orders", column="o_orderkey")],
        )[0]
        dupes = len(non_null) - len(set(non_null))
        assert res.error_message is None
        assert (res.status, res.violations, res.total) == (
            "fail" if dupes else "pass",
            dupes,
            len(keys),
        )
        return
    got = [tuple(r) for r in getattr(dq, site)(spark, sf_dir).collect()]
    assert got == _oracle(sf_dir, site)


@pytest.mark.parametrize(
    "dtype,keys",
    [
        ("tinyint", [-128, -128, -1, 0, 63, 64, 127, None]),
        ("smallint", [-32768, -65, -64, 0, 32767, 32767, None]),
        ("int", [-2147483648, -1, 0, 63, 64, 2147483647, 2147483647, None]),
        ("bigint", [_LMIN, -65, -64, 0, _LMAX, _LMAX, None]),
    ],
    ids=["tinyint", "smallint", "int", "bigint"],
)
def test_distinct_presence_every_integral_type(spark, dtype, keys):
    df = spark.createDataFrame([(k,) for k in keys], f"k {dtype}")
    non_null = [k for k in keys if k is not None]
    row = distinct_presence(df, "k").collect()[0]
    assert (row.rows, row.non_null, row.distinct) == (
        len(keys),
        len(non_null),
        len(set(non_null)),
    )


def test_distinct_presence_rejects_non_integral_key(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(TypeError, match="integral"):
        distinct_presence(df, "k")


def test_dq_unique_proportion_high_duplication_exact(spark, crafted_tier):
    """A key repeated >32767 times (the domain that killed the packed
    variant's 15-bit slots) answers exactly through the standalone query."""
    rows = [(5,)] * 32770 + [(6,), (None,)]
    sf = crafted_tier("dup", orders=(rows, "o_custkey long"))
    out = dq_unique_proportion(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.total, r.n_nonnull, r.n_distinct) == (32772, 32771, 2)
    assert abs(r.unique_ratio - round(2 / 32771, 6)) < 1e-12


def test_dq_unique_proportion_mixed_domain_exact(spark, crafted_tier):
    """Mixed domain (negatives, NULLs, dupes) answers exactly."""
    rows = (
        [(k,) for k in (-5, -5, -4, -1, 0, 1, 2, 3, 4, 7, 8)]
        + [(3,)] * 6
        + [(None,)] * 3
    )
    sf = crafted_tier("mixed", orders=(rows, "o_custkey long"))
    r = dq_unique_proportion(spark, sf).collect()[0]
    # 20 rows, 17 non-null, distinct non-null = {-5,-4,-1,0,1,2,3,4,7,8}=10
    assert (r.total, r.n_nonnull, r.n_distinct) == (20, 17, 10)
    assert abs(r.unique_ratio - round(10 / 17, 6)) < 1e-12


def test_gate_flips_on_probe_rows(sf_dir):
    # sf0.001 lineitem is ~6k rows — far below the 20M default
    assert not packed_map_worthwhile(sf_dir, "lineitem")
    assert packed_map_worthwhile(sf_dir, "lineitem", min_probe_rows=1)
    # estimation failure (missing table) takes the scale-safe packed path
    assert packed_map_worthwhile("/nonexistent", "lineitem")


@pytest.mark.parametrize(
    "name",
    ["mart_shipping_priority", "mart_local_supplier_volume", "mart_small_qty_revenue"],
)
def test_gate_sides_value_identical_and_plan_pinned(
    spark, sf_dir, name, monkeypatch
):
    """Below the packed-map size gate the gated marts take their plain-join
    forms, which must be VALUE-IDENTICAL to the packed forms; each side
    must plan the shape it claims (no word map below the gate, word map
    above it)."""
    fn = getattr(relational, name)
    monkeypatch.setattr(relational, "packed_map_worthwhile", lambda *a, **k: False)
    plain_df = fn(spark, sf_dir)
    plain_plan = plain_df._jdf.queryExecution().executedPlan().toString()
    plain = sorted(map(tuple, plain_df.collect()))
    monkeypatch.setattr(relational, "packed_map_worthwhile", lambda *a, **k: True)
    packed_df = fn(spark, sf_dir)
    packed_plan = packed_df._jdf.queryExecution().executedPlan().toString()
    packed = sorted(map(tuple, packed_df.collect()))
    assert plain == packed
    assert plain_df.columns == packed_df.columns
    assert "packed_codes" not in plain_plan
    assert "packed_codes" in packed_plan
