"""Streaming tests (SURVEY.md §5.2.4): foreachBatch DQ gate, watermark
late-row behavior, stateful dedup, batch/streaming parity for T2, and
checkpoint restart (SURVEY.md §4.3): a restarted query processes ONLY
newly-arrived files."""

from __future__ import annotations

import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from enterprise_data_quality_platform_spark.checks import Check
from enterprise_data_quality_platform_spark.queries.events import (
    events_tumbling_hourly,
)
from enterprise_data_quality_platform_spark.streaming import (
    events_stream,
    run_streaming_dq_gate,
    streaming_dedup,
    streaming_session_windows,
    streaming_sliding_counts,
    streaming_tumbling_counts,
)

from conftest import SF_SMALL


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),  # watermarks need LTZ
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _write_events(path, ids, ts="2024-06-01 10:00:00", **cols):
    """Write events ``ids`` as one parquet file of ``EVENTS_SCHEMA``. ``ts``
    and each of ``cols`` (``user_id``, ``event_type``, ``value``) is either
    one value per event or one value for all of them."""
    pd.DataFrame(
        {
            "event_id": ids,
            "ts": pd.to_datetime(ts),
            "user_id": 1,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
            **cols,
        }
    ).astype({"ts": "datetime64[us]"}).to_parquet(path)


def _run_to_memory(stream_df, name: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="edqp-ckpt-"))
        .start()
    )
    q.awaitTermination()
    return q


def test_streaming_batch_parity_tumbling(spark):
    """T2: the streaming tumbling aggregate equals the batch twin.
    Complete output mode so the final (not-yet-finalized) window is emitted
    too — append mode would rightly hold it back until the watermark passes."""
    stream = streaming_tumbling_counts(events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "tumbling_test", output_mode="complete")
    got = {
        (r.window_start, r.event_type): r.event_count
        for r in spark.table("tumbling_test").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.event_count
        for r in events_tumbling_hourly(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_streaming_batch_parity_sliding(spark):
    """T3: the streaming sliding-window aggregate equals the batch oracle
    twin (events_sliding_windows). Complete mode so unfinalized windows
    are emitted too."""
    from enterprise_data_quality_platform_spark.queries.events import (
        events_sliding_windows,
    )

    stream = streaming_sliding_counts(events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "sliding_test", output_mode="complete")
    got = {
        r.window_start: r.event_count
        for r in spark.table("sliding_test").collect()
    }
    expected = {
        r.window_start: r.event_count
        for r in events_sliding_windows(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_streaming_batch_parity_session(spark):
    """T4: streaming session windows equal a batch session_window
    computation over the same table (values: bounds + counts per user)."""
    from enterprise_data_quality_platform_spark.catalog import table

    stream = streaming_session_windows(events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "session_test", output_mode="complete")
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.event_count)
        for r in spark.table("session_test").collect()
    )
    batch = (
        table(spark, SF_SMALL, "events")
        .groupBy(F.session_window(F.col("ts").cast("timestamp"), "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "event_count",
        )
    )
    expected = sorted(
        (r.user_id, r.session_start, r.session_end, r.event_count)
        for r in batch.collect()
    )
    assert got and got == expected


def test_events_stream_value_parity(spark):
    """T1: the streamed source rows are value-identical to the batch read —
    the direct guard against source-decode bugs (a micros-vs-nanos mixup
    lands every ts in 1970 and fails here immediately)."""
    from enterprise_data_quality_platform_spark.catalog import table

    _run_to_memory(events_stream(spark, SF_SMALL), "source_parity_test")
    got = sorted(
        (r.event_id, r.ts, r.user_id, r.event_type, r.value)
        for r in spark.table("source_parity_test").collect()
    )
    expected = sorted(
        (r.event_id, r.ts, r.user_id, r.event_type, r.value)
        for r in table(spark, SF_SMALL, "events").collect()
    )
    assert got == expected


def test_streaming_dedup_drops_in_batch_duplicates(spark):
    from enterprise_data_quality_platform_spark.catalog import table

    stream = streaming_dedup(events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "dedup_test")
    out = spark.table("dedup_test")
    assert out.count() == out.select("event_id").distinct().count()
    # value check, not just counts: every surviving row exists verbatim in
    # the batch table (ts included — catches source-decode drift)
    batch = {
        (r.event_id, r.ts, r.value)
        for r in table(spark, SF_SMALL, "events").collect()
    }
    for r in out.collect():
        assert (r.event_id, r.ts, r.value) in batch


def test_streaming_dq_gate_summaries(spark):
    checks = [
        Check("non-empty", "row_count_between", "events", params={"min": 1}),
        Check("id not null", "not_null", "events", column="event_id"),
        Check(
            # ts-sensitive guard: fails if the source mis-decodes event time
            # (e.g. micros-as-nanos lands everything in 1970)
            "ts plausible",
            "values_between",
            "events",
            column="ts",
            params={"min": "2000-01-01 00:00:00", "max": "2100-01-01 00:00:00"},
        ),
        Check(
            "impossible",  # deliberately failing gate, reference-style
            "values_between",
            "events",
            column="value",
            params={"max": -1},
        ),
    ]
    summaries = run_streaming_dq_gate(spark, SF_SMALL, checks)
    assert len(summaries) >= 1
    s = summaries[0]
    assert s["total"] == 4
    assert s["overall_status"] == "fail"
    assert s["failed_checks"] == ["impossible"]
    assert s["rows"] > 0


def test_watermark_drops_late_rows(spark):
    """T5: a too-late row is dropped by the watermark.

    Spark filters late events with the PREVIOUS batch's watermark
    (eventTimeWatermarkForLateEvents lags one batch), so the drop is
    observable from the second batch after the watermark advanced — hence
    three micro-batches: advance, (grace), too-late."""
    with tempfile.TemporaryDirectory(prefix="edqp-late-") as src:
        # batch 0: recent rows push the watermark to 11:50
        _write_events(
            f"{src}/a.parquet", [1, 2], ["2024-06-01 10:00:00", "2024-06-01 12:00:00"]
        )
        # batch 1: grace batch (late filter still at the old watermark)
        _write_events(f"{src}/b.parquet", [3], ["2024-06-01 12:30:00"])
        # batch 2: hours-late row — late filter now at 11:50 → dropped
        _write_events(f"{src}/c.parquet", [4], ["2024-06-01 07:00:00"])

        # the file source orders batches by modification time
        import os
        import time

        now = time.time()
        for i, f in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
            os.utime(f"{src}/{f}", (now - 60 + i * 20, now - 60 + i * 20))

        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("late_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="edqp-ckpt-"))
            .start()
        )
        q.awaitTermination()
        finalized = spark.table("late_test").collect()
        # the 07:00 late row's window must never be emitted...
        windows = {r.window.start.hour for r in finalized}
        assert 7 not in windows
        # ...because the watermark dropped it (observable in metrics)
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        assert dropped >= 1


def test_rate_source_stream_shape(spark):
    """The rate-source twin must produce the events schema and be a real
    streaming frame (structural stand-in for a Kafka topic)."""
    from enterprise_data_quality_platform_spark.streaming import rate_events_stream

    s = rate_events_stream(spark, rows_per_second=10)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]


def test_shape_rate_events_deterministic(spark):
    """Batch twin of the rate transform: deterministic synthetic fields,
    valid JSON props, event_type cycling through the domain."""
    from pyspark.sql import functions as F

    from enterprise_data_quality_platform_spark.streaming import shape_rate_events

    raw = spark.range(100).select(
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("timestamp"),
        F.col("id").alias("value"),
    )
    out = shape_rate_events(raw)
    rows = out.collect()
    assert len(rows) == 100
    assert {r.event_type for r in rows} == {"view", "click", "purchase", "signup", "error"}
    assert all(0 <= r.user_id < 1000 for r in rows)
    bad_json = out.filter(F.expr("try_parse_json(props)").isNull()).count()
    assert bad_json == 0
    again = shape_rate_events(raw).collect()
    assert rows == again  # deterministic


def test_parse_kafka_events_value_decoding(spark):
    """Kafka value parser on broker-shaped static rows: ISO-8601 ts,
    epoch-millis ts, broker-timestamp fallback, corrupt-row filtering —
    no broker needed (same split as shape_rate_events)."""
    import datetime as dt
    import json

    from enterprise_data_quality_platform_spark.streaming import (
        parse_kafka_events,
    )

    broker_ts = dt.datetime(2024, 5, 1, 12, 0, 0)

    def rec(**kw):
        return json.dumps(kw).encode()

    rows = [
        (rec(event_id=1, ts="2024-03-01T06:30:00", user_id=7,
             event_type="view", value=1.5, props="{}"), broker_ts),
        (rec(event_id=2, ts="1709275800000", user_id=8,  # epoch millis
             event_type="click", value=2.5, props="{}"), broker_ts),
        (rec(event_id=3, user_id=9, event_type="error", value=9.9,
             props="{}"), broker_ts),              # no ts → broker timestamp
        (b"not json at all", broker_ts),           # corrupt → dropped
    ]
    raw = spark.createDataFrame(rows, "value binary, timestamp timestamp")

    got = {r.event_id: r for r in parse_kafka_events(raw).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].ts == dt.datetime(2024, 3, 1, 6, 30, 0)
    assert got[2].ts == dt.datetime(2024, 3, 1, 6, 50, 0)  # 1709275800000 ms
    assert got[3].ts == broker_ts
    assert (got[1].event_type, got[1].user_id, got[1].value) == ("view", 7, 1.5)

    kept = parse_kafka_events(raw, drop_corrupt=False).collect()
    assert len(kept) == 4
    assert sum(1 for r in kept if r.event_id is None) == 1


def test_parse_kafka_events_feeds_downstream_operators(spark):
    """The parsed frame plugs into the same operators as the file source:
    tumbling counts over parsed broker rows match a hand computation."""
    import datetime as dt
    import json

    from enterprise_data_quality_platform_spark.streaming import (
        parse_kafka_events,
    )

    base = dt.datetime(2024, 3, 1, 6, 0, 0)
    rows = [
        (
            json.dumps(
                {
                    "event_id": i,
                    "ts": (base + dt.timedelta(minutes=20 * i)).isoformat(),
                    "user_id": 1,
                    "event_type": "view",
                    "value": 1.0,
                    "props": "{}",
                }
            ).encode(),
            base,
        )
        for i in range(6)  # 06:00..07:40 → 3 per hour window
    ]
    raw = spark.createDataFrame(rows, "value binary, timestamp timestamp")
    agg = (
        parse_kafka_events(raw)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
    )
    got = {
        (r.window.start.hour, r.event_type): r.event_count
        for r in agg.collect()
    }
    assert got == {(6, "view"): 3, (7, "view"): 3}


def test_incident_tracker_state_carries_across_micro_batches(spark):
    """The open-incident bit must survive micro-batch boundaries: an
    incident opened in batch 0 suppresses re-triggers in batch 1 and
    resolves there — the exact behavior a batch-twin-only test can't
    pin (one AvailableNow batch never crosses the boundary)."""
    import os
    import time

    from enterprise_data_quality_platform_spark.streaming import (
        streaming_incident_tracker,
    )

    src = tempfile.mkdtemp(prefix="edqp-xbatch-")

    def write(name, rows):  # rows: (event_id, ts, value)
        ids, tss, values = map(list, zip(*rows))
        _write_events(f"{src}/{name}", ids, tss, event_type="error", value=values)

    # batch 0: trigger (200 > 150) and stay open
    write("a.parquet", [(1, "2024-01-01 00:00:00", 200.0),
                        (2, "2024-01-01 00:01:00", 180.0)])
    # batch 1: still high (suppressed), then resolve, then re-trigger
    write("b.parquet", [(3, "2024-01-01 00:02:00", 190.0),
                        (4, "2024-01-01 00:03:00", 10.0),
                        (5, "2024-01-01 00:04:00", 170.0)])
    now = time.time()
    os.utime(f"{src}/a.parquet", (now - 60, now - 60))
    os.utime(f"{src}/b.parquet", (now - 30, now - 30))

    stream_df = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_incident_tracker(stream_df)
    _run_to_memory(out, "xbatch_test", output_mode="append")
    got = [
        (r.event_id, r.action)
        for r in spark.table("xbatch_test").orderBy("ts").collect()
    ]
    # 2 and 3 are suppressed (incident already open — 3 only if state
    # carried over the batch boundary), 4 resolves, 5 re-triggers
    assert got == [(1, "trigger"), (4, "resolve"), (5, "trigger")]


def test_watermark_append_mode_emits_only_finalized_windows(spark):
    """Append-mode emission timing: a window is emitted exactly when the
    watermark passes its end — before that it is withheld; after, its
    VALUE is final (late-but-in-grace rows included, too-late excluded)."""
    import os
    import time

    src = tempfile.mkdtemp(prefix="edqp-append-")

    # batch 0: two rows in the 10:00 window
    _write_events(
        f"{src}/a.parquet", [1, 2], ["2024-06-01 10:05:00", "2024-06-01 10:20:00"]
    )
    # batch 1: watermark jumps past 11:00 (12:00 - 10min) → 10:00 window
    # finalizes WITH the in-grace row 3 that arrives in the same batch
    _write_events(
        f"{src}/b.parquet", [3, 4], ["2024-06-01 10:40:00", "2024-06-01 12:00:00"]
    )
    now = time.time()
    os.utime(f"{src}/a.parquet", (now - 60, now - 60))
    os.utime(f"{src}/b.parquet", (now - 30, now - 30))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_to_memory(agg, "append_mode_test", output_mode="append")
    got = {
        r.window.start.hour: r.n for r in spark.table("append_mode_test").collect()
    }
    # 10:00 window finalized with all 3 rows; 12:00 window still open
    # (watermark never passed 13:00) → withheld in append mode
    assert got == {10: 3}


def test_incident_tracker_matches_batch_twin(spark):
    """The applyInPandasWithState incident lifecycle emits exactly the
    batch twin's transition rows (same keys, order, actions)."""
    from enterprise_data_quality_platform_spark.queries.events import (
        events_incident_transitions,
    )
    from enterprise_data_quality_platform_spark.streaming import (
        streaming_incident_tracker,
    )

    stream = streaming_incident_tracker(events_stream(spark, SF_SMALL))
    _run_to_memory(stream, "incidents_test", output_mode="append")
    got = sorted(
        (r.event_type, r.ts, r.event_id, r.action)
        for r in spark.table("incidents_test").collect()
    )
    expected = sorted(
        (r.event_type, r.ts, r.event_id, r.action)
        for r in events_incident_transitions(spark, SF_SMALL).collect()
    )
    assert got and got == expected


def test_incident_tracker_hysteresis(spark):
    """resolve_below < threshold takes the per-row fold path: values in
    (resolve_below, threshold] neither trigger nor resolve."""
    from enterprise_data_quality_platform_spark.streaming import (
        streaming_incident_tracker,
    )

    rows = [
        # (event_id, second, value): trigger at 200, hold at 120 (between
        # resolve 100 and trigger 150), resolve at 80, re-trigger at 160
        (1, 0, 200.0),
        (2, 60, 120.0),
        (3, 120, 80.0),
        (4, 180, 160.0),
    ]
    src = tempfile.mkdtemp(prefix="edqp-inc-src-")
    _write_events(
        f"{src}/batch.parquet",
        [r[0] for r in rows],
        [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=r[1]) for r in rows],
        event_type="error",
        value=[r[2] for r in rows],
    )
    stream_df = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    out = streaming_incident_tracker(
        stream_df, threshold=150.0, resolve_below=100.0
    )
    _run_to_memory(out, "incidents_hyst_test", output_mode="append")
    got = [
        (r.event_id, r.action)
        for r in spark.table("incidents_hyst_test").orderBy("ts").collect()
    ]
    assert got == [(1, "trigger"), (3, "resolve"), (4, "trigger")]


def test_stream_static_enrich_matches_batch_join(spark):
    """T8: stream-static inner join over a finite source equals the batch
    join row-for-row (value parity, not counts)."""
    from enterprise_data_quality_platform_spark.catalog import table
    from enterprise_data_quality_platform_spark.streaming import (
        events_stream,
        first_seen_dim,
        streaming_static_enrich,
    )

    dim = first_seen_dim(table(spark, SF_SMALL, "events"))
    _run_to_memory(
        streaming_static_enrich(events_stream(spark, SF_SMALL), dim),
        "enrich_parity_test",
    )
    got = {
        (r.event_id, r.first_ts)
        for r in spark.table("enrich_parity_test").collect()
    }
    want = {
        (r.event_id, r.first_ts)
        for r in streaming_static_enrich(
            table(spark, SF_SMALL, "events").withColumn(
                "ts", F.col("ts").cast("timestamp")
            ),
            dim,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_click_purchase_pairs_interval_semantics(spark):
    """T9: crafted input pins the interval-join bounds — a purchase at
    exactly click+30min matches (inclusive), one second past does not,
    and a purchase BEFORE the click never matches."""
    import os

    def write(path, rows):  # rows: (event_id, ts, user_id, event_type)
        ids, tss, users, types = map(list, zip(*rows))
        _write_events(path, ids, tss, user_id=users, event_type=types)

    from enterprise_data_quality_platform_spark.streaming import (
        streaming_click_purchase_pairs,
    )

    with tempfile.TemporaryDirectory(prefix="edqp-ssj-") as src:
        write(
            f"{src}/events.parquet",
            [
                (1, "2024-06-01 10:00:00", 1, "click"),
                (2, "2024-06-01 10:30:00", 1, "purchase"),  # exactly +30min
                (3, "2024-06-01 10:30:01", 2, "purchase"),  # +30min 1s (u2)
                (4, "2024-06-01 10:00:00", 2, "click"),
                (5, "2024-06-01 09:59:59", 3, "purchase"),  # before the click
                (6, "2024-06-01 10:00:00", 3, "click"),
            ],
        )
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        _run_to_memory(
            streaming_click_purchase_pairs(stream), "ssj_semantics_test"
        )
        rows = spark.table("ssj_semantics_test").collect()
        assert [(r.user_id, r.click_id, r.purchase_id, r.gap_seconds) for r in rows] == [
            (1, 1, 2, 1800)
        ]


def test_click_purchase_join_state_is_bounded(spark):
    """T9 scale check: the physical streaming plan is a symmetric-hash
    stream-stream join with watermarked state on BOTH sides — state
    eviction requires the event-time range condition to have registered
    (no unbounded buffering of the click side)."""
    from enterprise_data_quality_platform_spark.streaming import (
        events_stream,
        streaming_click_purchase_pairs,
    )

    pairs = streaming_click_purchase_pairs(events_stream(spark, SF_SMALL))
    q = (
        pairs.writeStream.format("memory")
        .queryName("ssj_state_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="edqp-ckpt-"))
        .start()
    )
    q.awaitTermination()
    # the join state operator reports watermark-driven row removal support
    ops = [so for p in q.recentProgress for so in p["stateOperators"]]
    assert any(so.get("operatorName") == "symmetricHashJoin" for so in ops)


def test_streaming_upsert_sink_keeps_latest_per_key(spark, tmp_path):
    """T10: the upsert sink maintains last-event-wins state per user
    across micro-batches, and a second run with new data updates in place
    (no duplicate keys, untouched keys preserved)."""
    from enterprise_data_quality_platform_spark.streaming import (
        streaming_upsert_sink,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src)

    def write(name, rows):  # rows: (event_id, ts, user_id, value)
        ids, tss, users, values = map(list, zip(*rows))
        _write_events(f"{src}/{name}", ids, tss, user_id=users, value=values)

    def run():
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        streaming_upsert_sink(
            stream, spark, out, keys=["user_id"], checkpoint_dir=ckpt
        )

    # batch 1: user 1 twice (latest wins), user 2 once
    write("a.parquet", [(1, "2024-06-01 10:00:00", 1, 10.0),
                        (2, "2024-06-01 11:00:00", 1, 20.0),
                        (3, "2024-06-01 10:30:00", 2, 5.0)])
    run()
    state = {r.user_id: r.value for r in spark.read.parquet(out).collect()}
    assert state == {1: 20.0, 2: 5.0}
    # batch 2: user 2 updated, user 3 inserted, user 1 untouched
    write("b.parquet", [(4, "2024-06-01 12:00:00", 2, 7.5),
                        (5, "2024-06-01 12:01:00", 3, 1.0)])
    run()
    state = {r.user_id: r.value for r in spark.read.parquet(out).collect()}
    assert state == {1: 20.0, 2: 7.5, 3: 1.0}
    # exactly one row per key
    assert spark.read.parquet(out).count() == 3


def test_streaming_upsert_sink_tie_breaks_on_event_id(spark, tmp_path):
    """Same-timestamp updates for one key resolve by event_id (the
    deterministic max_by struct key), not arrival order."""
    import os

    from enterprise_data_quality_platform_spark.streaming import (
        streaming_upsert_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events(f"{src}/a.parquet", [9, 4], value=[111.0, 222.0])
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    out = str(tmp_path / "state")
    streaming_upsert_sink(stream, spark, out, keys=["user_id"])
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0].value == 111.0  # event_id 9 wins


def test_append_mode_emits_only_watermark_finalized_windows(spark):
    """T5 emission timing: append mode must emit a window ONLY after the
    watermark passes its end — never in the batch where its rows arrive —
    and exactly once; update mode (the contrast case) emits running
    aggregates including never-finalized windows."""
    import os
    import time as _time

    def run(mode):
        with tempfile.TemporaryDirectory(prefix="edqp-emit-") as src:
            _write_events(
                f"{src}/a.parquet", [1, 2], ["2024-06-01 10:15:00", "2024-06-01 10:20:00"]
            )
            _write_events(f"{src}/b.parquet", [3], ["2024-06-01 12:00:00"])
            _write_events(f"{src}/c.parquet", [4], ["2024-06-01 13:05:00"])
            now = _time.time()
            for i, f in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
                os.utime(f"{src}/{f}", (now - 60 + i * 20, now - 60 + i * 20))
            stream = (
                spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            emitted = []  # (batch_id, window_start_hour, n)

            def sink(batch_df, batch_id):
                for r in batch_df.collect():
                    emitted.append((batch_id, r.window.start.hour, r.n))

            q = (
                agg.writeStream.foreachBatch(sink)
                .outputMode(mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", tempfile.mkdtemp(prefix="edqp-ck-"))
                .start()
            )
            q.awaitTermination()
            return emitted

    append = run("append")
    # the 10:00 window (rows in batch 0) must be emitted once, in a LATER
    # batch (only after the 12:00 row pushed the watermark past 11:00)
    tens = [(b, n) for b, h, n in append if h == 10]
    assert len(tens) == 1 and tens[0][1] == 2
    assert tens[0][0] > 0, "append emitted a window in its own arrival batch"
    # the last window (13:00) is never finalized -> never emitted
    assert all(h != 13 for _, h, _ in append)

    update = run("update")
    # update mode emits running aggregates: the 10:00 window appears in
    # batch 0 and the never-finalized 13:00 window IS emitted
    assert any(b == 0 and h == 10 for b, h, _ in update)
    assert any(h == 13 for _, h, _ in update)


def test_stream_stream_left_outer_null_emission(spark):
    """T9b: matched clicks pair immediately; an UNmatched click emits with
    NULL purchase only after the watermark proves no match can arrive; a
    click near the stream end stays unemitted (the negative is unproven)."""
    import os
    import time as _time

    from enterprise_data_quality_platform_spark.streaming import (
        streaming_click_conversion_outer,
    )

    def write(path, rows):  # rows: (event_id, ts, event_type)
        ids, tss, types = map(list, zip(*rows))
        _write_events(path, ids, tss, event_type=types)

    with tempfile.TemporaryDirectory(prefix="edqp-outer-") as src:
        # batch 0: converted click + its purchase; and an orphan click
        write(
            f"{src}/a.parquet",
            [
                (1, "2024-06-01 10:00:00", "click"),
                (2, "2024-06-01 10:10:00", "purchase"),
                # 09:00 click: the 10:10 purchase is outside its 30-min
                # window -> never converts
                (3, "2024-06-01 09:00:00", "click"),
            ],
        )
        # batch 1: far-future click pushes BOTH watermarks way past
        # click#3's join window (10:05 + 30min), enabling its null row
        write(f"{src}/b.parquet", [(4, "2024-06-01 23:00:00", "click")])
        # batch 2: nudge once more (outer emission lags one batch)
        write(f"{src}/c.parquet", [(5, "2024-06-01 23:30:00", "click")])
        now = _time.time()
        for i, f in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
            os.utime(f"{src}/{f}", (now - 60 + i * 20, now - 60 + i * 20))
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_click_conversion_outer(
            stream, max_gap="30 minutes", watermark="10 minutes"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("outer_pairs")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="edqp-ck-"))
            .start()
        )
        q.awaitTermination()
        rows = {r.click_id: r for r in spark.table("outer_pairs").collect()}
        assert rows[1].purchase_id == 2 and rows[1].converted
        assert rows[3].purchase_id is None and not rows[3].converted
        # the stream-end clicks (4, 5): no watermark ever passed their
        # windows -> withheld, not emitted as unconverted
        assert 5 not in rows


def test_rocksdb_state_store_parity(spark):
    """Scale path for stateful streams: the RocksDB state store provider
    (off-heap/on-disk state + changelog checkpointing) produces the SAME
    tumbling aggregate as the default HDFS-backed provider, and the query
    really ran on RocksDB (rocksdb* custom metrics in the progress)."""
    from enterprise_data_quality_platform_spark.streaming.pipeline import (
        use_rocksdb_state,
    )

    baseline = {
        (r.window_start, r.event_type): r.event_count
        for r in events_tumbling_hourly(spark, SF_SMALL).collect()
    }
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        stream = streaming_tumbling_counts(events_stream(spark, SF_SMALL))
        q = _run_to_memory(stream, "rocksdb_tumbling", output_mode="complete")
        got = {
            (r.window_start, r.event_type): r.event_count
            for r in spark.table("rocksdb_tumbling").collect()
        }
        assert got == baseline
        state_ops = (q.lastProgress or {}).get("stateOperators") or []
        metrics = state_ops[0].get("customMetrics", {}) if state_ops else {}
        assert any(k.startswith("rocksdb") for k in metrics), metrics
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def _emission_run(spark, mode, group_cols, window_col_name):
    """Shared harness for per-mode emission-timing pins: three files
    triggered one per batch (10:15+10:20, then 12:00, then 13:05),
    10-minute watermark, returns (batch_id, window_start_hour+minute,
    n) tuples from a foreachBatch sink."""
    import os
    import time as _time

    with tempfile.TemporaryDirectory(prefix="edqp-emit2-") as src:
        _write_events(
            f"{src}/a.parquet", [1, 2], ["2024-06-01 10:15:00", "2024-06-01 10:20:00"]
        )
        _write_events(f"{src}/b.parquet", [3], ["2024-06-01 12:00:00"])
        _write_events(f"{src}/c.parquet", [4], ["2024-06-01 13:05:00"])
        now = _time.time()
        for i, f in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
            os.utime(f"{src}/{f}", (now - 60 + i * 20, now - 60 + i * 20))
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        emitted = []  # (batch_id, "HH:MM" window start, n)

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                w = r[window_col_name]
                emitted.append((batch_id, w.start.strftime("%H:%M"), r.n))

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="edqp-ck-"))
            .start()
        )
        q.awaitTermination()
        return emitted


def test_sliding_window_append_vs_update_emission(spark):
    """T3 emission timing: a sliding window (1h / 30m slide) covers each
    row twice. Append emits each covered window exactly once, only after
    the watermark passes its END, never in the arrival batch; update
    emits running aggregates in the arrival batch including windows the
    watermark never finalizes."""
    cols = [F.window("ts", "1 hour", "30 minutes")]
    append = _emission_run(spark, "append", cols, "window")
    # rows 10:15/10:20 covered by windows 09:30 and 10:00, both n=2, each
    # emitted exactly once and only after the 12:00 row advanced the
    # watermark (arrival batch is 0)
    for start in ("09:30", "10:00"):
        hits = [(b, n) for b, s, n in append if s == start]
        assert len(hits) == 1 and hits[0][1] == 2, (start, append)
        assert hits[0][0] > 0, f"append emitted {start} in its arrival batch"
    # the 13:05 row's windows (12:30, 13:00) are never watermark-finalized
    assert all(s not in ("12:30", "13:00") for _, s, _ in append), append

    update = _emission_run(spark, "update", cols, "window")
    # update emits the running state of BOTH covering windows in batch 0
    assert {( b, s) for b, s, _ in update if b == 0} >= {(0, "09:30"), (0, "10:00")}
    # and the never-finalized windows do appear
    assert any(s in ("12:30", "13:00") for _, s, _ in update), update


def test_session_window_append_emission_and_update_rejected(spark):
    """T4 emission timing: session windows emit in append mode only after
    the watermark passes the session END (gap-extended), never in the
    arrival batch; a stream-end session is withheld forever. Update mode
    is REJECTED by Spark for session aggregations
    (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION) — pinned so an engine
    upgrade that starts accepting it is noticed."""
    import pytest

    cols = ["user_id", F.session_window("ts", "30 minutes")]
    append = _emission_run(spark, "append", cols, "session_window")
    # 10:15+10:20 merge into one session [10:15, 10:50): emitted once,
    # n=2, after its arrival batch
    tens = [(b, n) for b, s, n in append if s == "10:15"]
    assert len(tens) == 1 and tens[0][1] == 2, append
    assert tens[0][0] > 0
    # 12:00's session finalized by the 13:05 watermark advance
    assert any(s == "12:00" and n == 1 for _, s, n in append), append
    # 13:05's session: watermark never passes its end -> withheld
    assert all(s != "13:05" for _, s, _ in append), append

    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException, match="STREAMING_OUTPUT_MODE"):
        _emission_run(spark, "update", cols, "session_window")


def test_restart_processes_only_new_files(spark):
    with tempfile.TemporaryDirectory(prefix="edqp-resume-") as src, \
         tempfile.TemporaryDirectory(prefix="edqp-ck-") as ck:

        def run_once():
            seen = []
            q = (
                spark.readStream.schema(EVENTS_SCHEMA)
                .parquet(src)
                .writeStream.foreachBatch(lambda df, bid: seen.append(df.count()))
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination()
            return sum(seen)

        _write_events(f"{src}/a.parquet", [1, 2, 3])
        assert run_once() == 3

        # new file arrives while the query is DOWN; restart from checkpoint
        _write_events(f"{src}/b.parquet", [4, 5])
        assert run_once() == 2  # only the new file's rows

        # nothing new → restart is a no-op (no reprocessing)
        assert run_once() == 0
