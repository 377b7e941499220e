"""Multimodal plumbing + alert-sink lifecycle tests."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.alerts import AlertSink, incident_key
from enterprise_data_quality_platform_spark.catalog import table
from enterprise_data_quality_platform_spark.checks import Check, run_suite
from enterprise_data_quality_platform_spark.multimodal import (
    FEATURE_DIM,
    attach_fake_payloads,
    extract_features,
    frame_sample,
)
from enterprise_data_quality_platform_spark.multimodal.pipeline import decode_payload

from conftest import SF_SMALL


# --- multimodal -----------------------------------------------------------


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_payload(b"payload")


def test_extract_features_schema_and_determinism(spark):
    media = attach_fake_payloads(table(spark, SF_SMALL, "documents")).limit(50)
    feats1 = extract_features(media).orderBy("media_id").collect()
    feats2 = extract_features(media).orderBy("media_id").collect()
    assert len(feats1) == 50
    for a, b in zip(feats1, feats2):
        assert a.decode_status == "ok"
        assert len(a.feature) == FEATURE_DIM
        assert a.feature == b.feature  # deterministic across runs/partitions
        assert a.n_bytes > 0


def test_extract_features_captures_corrupt_rows(spark):
    """A null payload must produce an error row, not a failed stage."""
    media = attach_fake_payloads(table(spark, SF_SMALL, "documents")).limit(5)
    media = media.withColumn(
        "payload",
        F.when(F.col("media_id") % 2 == 0, F.col("payload")),  # else NULL
    )
    out = extract_features(media).collect()
    statuses = {r.media_id: r.decode_status for r in out}
    assert any(s.startswith("error") for s in statuses.values())
    assert any(s == "ok" for s in statuses.values())


def test_frame_sample_counts(spark):
    media = attach_fake_payloads(table(spark, SF_SMALL, "documents"))
    video = media.filter(F.col("media_type") == "video").limit(3).collect()
    frames = frame_sample(media, every_ms=1000)
    for v in video:
        n = frames.filter(F.col("media_id") == v.media_id).count()
        expected = (max(v.duration_ms - 1, 0)) // 1000 + 1
        assert n == expected


# --- alerts ---------------------------------------------------------------


def _failing_results(spark):
    df = spark.range(5).withColumn("value", F.col("id") - 10)
    return run_suite(
        {"t": df},
        [
            Check("neg values", "values_between", "t", column="value", params={"min": 0}),
            Check("non-empty", "row_count_between", "t", params={"min": 1}),
        ],
    )


def test_alert_idempotent_trigger_and_resolve(spark):
    results = _failing_results(spark)
    with tempfile.TemporaryDirectory(prefix="edqp-alerts-") as d:
        sink = AlertSink(spark, f"{d}/alerts", service="test-svc")
        n1 = sink.trigger_for_failures(results, channels=("pagerduty",))
        assert n1 == 1  # only the failed check pages
        # retry (reference retries=0 semantics → idempotent write instead)
        n2 = sink.trigger_for_failures(results, channels=("pagerduty",))
        assert n2 == 0  # no duplicate page while incident is open
        assert sink.open_incidents().count() == 1

        assert sink.resolve("neg values") == 1
        assert sink.open_incidents().count() == 0
        assert sink.resolve("neg values") == 0  # double-resolve is a no-op

        # after resolve, a new failure pages again (new incident cycle)
        n3 = sink.trigger_for_failures(results, channels=("pagerduty",))
        assert n3 == 1

        alerts = spark.read.parquet(f"{d}/alerts")
        assert alerts.count() == 3  # trigger, resolve, trigger
        key = incident_key("test-svc", "neg values")
        assert alerts.filter(F.col("incident_key") == key).count() == 3


def test_alert_event_ts_reads_back_as_the_written_utc_wall_time(spark):
    from datetime import datetime, timezone

    results = _failing_results(spark)
    with tempfile.TemporaryDirectory(prefix="edqp-alerts-") as d:
        sink = AlertSink(spark, f"{d}/alerts", service="test-svc")
        before = datetime.now(timezone.utc).replace(tzinfo=None)
        assert sink.trigger_for_failures(results, channels=("pagerduty",)) == 1
        after = datetime.now(timezone.utc).replace(tzinfo=None)
        (row,) = spark.read.parquet(f"{d}/alerts").collect()
        assert row.event_ts.tzinfo is None
        assert before <= row.event_ts <= after
