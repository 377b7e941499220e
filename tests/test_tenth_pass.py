from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.dedup import ngram_jaccard_pairs
from enterprise_data_quality_platform_spark.dedup.jaccard import containment_pairs
from enterprise_data_quality_platform_spark.functions.text import (
    pii_flag,
    pretokens,
    redact_pii,
)
from enterprise_data_quality_platform_spark.queries import dq
from enterprise_data_quality_platform_spark.sources.writers import compact_partitions


def _texts(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")


def test_pii_flags_detect_each_kind(spark):
    df = _texts(
        spark,
        [
            "contact me at jane.doe+spam@example.co.uk today",
            "call +1 (415) 555-0199 now",
            "server at 192.168.1.100 responded",
            "ssn is 123-45-6789 ok",
            "a perfectly clean sentence",
        ],
    )
    got = df.select(
        "id",
        *[pii_flag(F.col("text"), k).alias(k) for k in ("email", "phone", "ipv4", "ssn")],
    ).collect()
    by_id = {r.id: (r.email, r.phone, r.ipv4, r.ssn) for r in got}
    assert by_id[0][0] == 1
    assert by_id[1][1] == 1
    assert by_id[2][2] == 1
    assert by_id[3][3] == 1
    assert by_id[4] == (0, 0, 0, 0)


def test_redact_pii_replaces_with_typed_placeholders(spark):
    df = _texts(
        spark,
        ["email a@b.com, ip 10.0.0.1, ssn 123-45-6789, call 415-555-0199"],
    )
    out = df.select(redact_pii(F.col("text")).alias("t")).first().t
    assert "[EMAIL]" in out and "[IPV4]" in out and "[SSN]" in out and "[PHONE]" in out
    assert "a@b.com" not in out and "10.0.0.1" not in out
    assert "123-45-6789" not in out and "415-555-0199" not in out


def test_redaction_order_protects_ssn_and_ip_from_phone_sweep(spark):
    """The SSN/IPv4 shapes also match the greedy phone pattern — redaction
    order must tag them with their OWN placeholder first."""
    df = _texts(spark, ["id 123-45-6789 and host 10.0.0.1"])
    out = df.select(redact_pii(F.col("text")).alias("t")).first().t
    assert "[SSN]" in out and "[IPV4]" in out and "[PHONE]" not in out


def test_reconciliation_counts_mismatched_and_childless(spark, crafted_tables):
    orders = spark.createDataFrame(
        [(1, 30.0), (2, 10.0), (3, 99.0)], "o_orderkey long, o_totalprice double"
    )
    lineitem = spark.createDataFrame(
        # order 1 foots (10+20=30); order 2 does not (5 != 10); order 3 childless
        [(1, 10.0), (1, 20.0), (2, 5.0)],
        "l_orderkey long, l_extendedprice double",
    )
    tables = {"orders": orders, "lineitem": lineitem}
    crafted_tables(dq, tables)
    r = dq.dq_reconciliation(spark, "unused").first()
    assert (r.n_orders, r.n_with_lines, r.n_childless, r.n_mismatched) == (3, 2, 1, 1)
    assert r.mismatch_rate == 0.5


def test_containment_catches_subset_jaccard_misses(spark):
    fragment = "alpha beta gamma delta epsilon"
    superset = fragment + " " + " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, fragment), (2, superset)], "doc_id long, text string"
    )
    cont = containment_pairs(df, threshold=0.9, n=3).collect()
    assert len(cont) == 1 and cont[0].containment == 1.0  # fragment fully inside
    jac = ngram_jaccard_pairs(df, threshold=0.5, n=3).collect()
    assert jac == []  # Jaccard blind to the same pair at any meaningful bar


def test_compact_partitions_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(0, 10000).selectExpr(
        "id", "id % 3 AS p", "CAST(id AS STRING) AS s"
    )
    # fragment: 20 files per partition
    df.repartition(20).write.partitionBy("p").parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    stats = compact_partitions(spark, path, target_file_bytes=1 << 30)
    assert stats["partitions_compacted"] == 3
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 3  # one file per partition at this size
    after_df = spark.read.parquet(path)
    assert sorted(r.id for r in after_df.collect()) == before


def test_compact_skips_already_compacted(spark, tmp_path):
    path = str(tmp_path / "ok")
    spark.range(0, 100).coalesce(1).write.parquet(path)
    stats = compact_partitions(spark, path, target_file_bytes=1 << 30)
    assert stats["partitions_compacted"] == 0
    assert stats["files_before"] == stats["files_after"] == 1


def test_k_anonymity_counts_risky_combos(spark, crafted_tables):
    rows = (
        [(1, "A")] * 10      # safe combo
        + [(1, "B")] * 2     # risky (n=2)
        + [(2, "A")] * 1     # risky (n=1)
    )
    df = spark.createDataFrame(rows, "c_nationkey long, c_mktsegment string")
    crafted_tables(dq, df)
    r = dq.dq_k_anonymity(spark, "unused").first()
    assert (r.n_combos, r.k_anonymity, r.combos_below_5, r.rows_at_risk) == (
        3, 1, 2, 3,
    )


def test_psi_zero_for_identical_halves(spark, crafted_tables):
    rows = []
    for half_start in (datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 20)):
        for i, t in enumerate(["a"] * 30 + ["b"] * 70):
            rows.append((t, half_start + datetime.timedelta(minutes=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    crafted_tables(dq, df)
    r = dq.dq_distribution_drift(spark, "unused").first()
    assert r.psi == 0.0 and r.n_buckets == 2


def test_psi_positive_under_shift(spark, crafted_tables):
    rows = [("a", datetime.datetime(2024, 1, 2))] * 90 + [
        ("b", datetime.datetime(2024, 1, 2))
    ] * 10
    rows += [("a", datetime.datetime(2024, 1, 20))] * 10 + [
        ("b", datetime.datetime(2024, 1, 20))
    ] * 90
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    crafted_tables(dq, df)
    r = dq.dq_distribution_drift(spark, "unused").first()
    assert r.psi > 0.25  # textbook "action" territory for a hard flip


def test_pretokens_split_on_character_classes(spark):
    df = spark.createDataFrame([("abc 123 a-b 4.5x",)], "text string")
    got = df.select(pretokens(F.col("text")).alias("p")).first().p
    assert got == ["abc", "123", "a", "-", "b", "4", ".", "5", "x"]
