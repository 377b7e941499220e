"""Streaming queries (SURVEY.md §2.4) — rows-only driver checks (the
driver can't diff a streaming query against SQL; batch twins in events.py
carry the oracle burden for the same semantics)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..checks import Check
from ..session import local_frame
from ..streaming import run_streaming_dq_gate
from .registry import register

_STREAM_CHECKS = [
    Check("events non-empty", "row_count_between", "events", params={"min": 1}),
    Check("event_id not null", "not_null", "events", column="event_id"),
    Check(
        "event_type domain",
        "values_in_set",
        "events",
        column="event_type",
        params={"values": ("error", "view", "purchase", "signup", "click")},
    ),
    Check(
        "value non-negative",
        "values_between",
        "events",
        column="value",
        params={"min": 0.0},
    ),
    Check("event_id unique", "unique", "events", column="event_id"),
]


def _run_stream(stream_df, name: str, output_mode: str = "append"):
    import tempfile

    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="edqp-ckpt-"))
        .start()
    )
    q.awaitTermination()


@register(
    "streaming_tumbling_windows",
    # real oracle (not rows-only): with AvailableNow + complete output mode
    # the run is deterministic and finite, so the emitted windows must equal
    # the batch SQL exactly. Doubles stay out of the projection (counts are
    # exact integers) so distributed summation order can't perturb the hash.
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS event_count
    FROM events
    GROUP BY 1, 2
    """,
    tables=("events",),
)
def streaming_tumbling_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: watermarked tumbling hourly aggregate over the event stream, run
    to completion with AvailableNow (complete mode so the final window
    emits). Value-checked against the batch SQL oracle — the streaming
    result IS the batch result for a finite source."""
    from ..streaming import events_stream, streaming_tumbling_counts

    stream = streaming_tumbling_counts(events_stream(spark, sf_dir))
    _run_stream(stream, "edqp_tumbling_q", output_mode="complete")
    return spark.table("edqp_tumbling_q").select(
        "window_start", "event_type", "event_count"
    )


@register(
    "streaming_sliding_windows",
    # same oracle as the batch twin events_sliding_windows — complete-mode
    # AvailableNow output equals the batch answer (parity-tested).
    oracle="""
    WITH slides AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) - s.off * INTERVAL 1 MINUTE AS window_start
      FROM events, (SELECT UNNEST([0, 15, 30, 45]) AS off) s
    )
    SELECT window_start, COUNT(*) AS event_count
    FROM slides
    GROUP BY 1
    """,
    tables=("events",),
)
def streaming_sliding_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: watermarked sliding (1h, 15min) window aggregate over the event
    stream (streaming_sliding_counts), run to completion with AvailableNow
    in complete mode. Oracle-checked against the batch sliding SQL."""
    from ..streaming import events_stream, streaming_sliding_counts

    stream = streaming_sliding_counts(events_stream(spark, sf_dir))
    _run_stream(stream, "edqp_sliding_q", output_mode="complete")
    return spark.table("edqp_sliding_q")


@register(
    "streaming_session_windows",
    # full per-session oracle via gaps-and-islands: Spark's session merge
    # is gap-INCLUSIVE (event exactly at session_end extends it), which is
    # precisely `ts - prev_ts > 30 min` starting a new island; session_end
    # is last-event ts + gap. Complete-mode AvailableNow emits every
    # session, open ones included.
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), islands AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM marked
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS event_count
    FROM islands
    GROUP BY user_id, sid
    """,
    tables=("events",),
)
def streaming_session_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: native session_window (30-min gap) over the event stream, run to
    completion with AvailableNow (complete mode so open sessions emit).
    Oracle-checked per session (bounds + counts), not just per user."""
    from ..streaming import events_stream, streaming_session_windows

    stream = streaming_session_windows(events_stream(spark, sf_dir))
    _run_stream(stream, "edqp_sessions_q", output_mode="complete")
    return (
        spark.table("edqp_sessions_q")
        .orderBy("user_id", "session_start")
    )


@register(
    "streaming_dedup",
    oracle=None,  # streaming — rows-only; events_dedup carries the oracle
    tables=("events",),
)
def streaming_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: dropDuplicatesWithinWatermark on the stream key; returns the
    per-type counts of the deduplicated stream."""
    from pyspark.sql import functions as F

    from ..streaming import events_stream, streaming_dedup

    _run_stream(streaming_dedup(events_stream(spark, sf_dir)), "edqp_dedup_q")
    return (
        spark.table("edqp_dedup_q")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "streaming_dq_gate",
    oracle=None,  # streaming — rows-only; semantics oracle'd via batch twins
    tables=("events",),
)
def streaming_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T5/T7: the foreachBatch DQ gate run with Trigger.AvailableNow over
    the events stream — per-batch check summaries as rows (the streaming
    replacement for the reference's sleep-then-revalidate barrier,
    pager-workflow.py:309-313)."""
    summaries = run_streaming_dq_gate(spark, sf_dir, _STREAM_CHECKS)
    rows = [
        (
            int(s["batch_id"]),
            int(s["rows"]),
            int(s["total"]),
            int(s["passed"]),
            int(s["failed"]),
            s["overall_status"],
        )
        for s in summaries
    ]
    return local_frame(
        spark,
        rows,
        "batch_id bigint, rows bigint, checks_total bigint, "
        "checks_passed bigint, checks_failed bigint, overall_status string",
    )


@register(
    "streaming_incident_lifecycle",
    # same oracle as the batch twin events_incident_transitions: with one
    # AvailableNow micro-batch the tracker's per-key (ts, event_id) sort
    # makes the state machine's transition set exactly the lag-based SQL.
    oracle="""
    WITH ordered AS (
      SELECT event_type, ts, event_id, value,
             LAG(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS prev_value
      FROM events
    )
    SELECT event_type, ts, event_id, value,
           CASE WHEN value > 150.0 THEN 'trigger' ELSE 'resolve' END AS action
    FROM ordered
    WHERE (value > 150.0 AND (prev_value IS NULL OR prev_value <= 150.0))
       OR (value <= 150.0 AND prev_value > 150.0)
    """,
    tables=("events",),
)
def streaming_incident_lifecycle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-event-type
    incident lifecycle — trigger above threshold, suppress while open,
    resolve on recovery (the reference's PagerDuty incident_key semantics
    as a streaming state machine). Oracle-checked against the lag-based
    transition SQL (the batch twin's oracle)."""
    from ..streaming import events_stream, streaming_incident_tracker

    stream = streaming_incident_tracker(events_stream(spark, sf_dir))
    _run_stream(stream, "edqp_incidents_q", output_mode="append")
    return spark.table("edqp_incidents_q").orderBy("event_type", "ts", "event_id")


@register(
    "streaming_enrich_first_seen",
    # stream-static inner join is stateless: for a finite AvailableNow run
    # the appended rows ARE the batch join. is_first_day is an exact
    # boolean (day-truncated comparison), counts are exact integers.
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    )
    SELECT CAST(date_trunc('day', e.ts) = date_trunc('day', fs.first_ts)
                AS BOOLEAN) AS is_first_day,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS event_count
    FROM events e JOIN fs ON fs.user_id = e.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tables=("events",),
)
def streaming_enrich_first_seen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: stream-static join — each streamed event enriched with the
    batch-computed per-user first-seen profile, summarized as new-vs-
    returning traffic by event type. The static side is the batch
    ``first_seen_dim`` over the same table, so the finite streaming run
    must equal the batch SQL exactly (value-checked)."""
    from pyspark.sql import functions as F

    from ..catalog import table
    from ..streaming import events_stream, first_seen_dim, streaming_static_enrich

    dim = first_seen_dim(table(spark, sf_dir, "events"))
    enriched = streaming_static_enrich(events_stream(spark, sf_dir), dim)
    _run_stream(enriched, "edqp_enrich_q")
    return (
        spark.table("edqp_enrich_q")
        .select(
            (
                F.date_trunc("day", F.col("ts"))
                == F.date_trunc("day", F.col("first_ts"))
            ).alias("is_first_day"),
            "event_type",
        )
        .groupBy("is_first_day", "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .orderBy("is_first_day", "event_type")
    )


@register(
    "streaming_click_purchase",
    # stream-stream inner interval join: append-mode output for a finite
    # AvailableNow run equals the batch interval join (watermarks only
    # bound state; nothing is late relative to a single-batch load). Gap
    # reported in exact integer seconds.
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_seconds
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY c.user_id, click_id, purchase_id
    """,
    tables=("events",),
)
def streaming_click_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: stream-stream self-join — purchases matched to prior clicks by
    the same user within 30 minutes, both sides watermarked so the join
    state is bounded by event time. Value-checked against the batch
    interval join."""
    from ..streaming import events_stream, streaming_click_purchase_pairs

    pairs = streaming_click_purchase_pairs(events_stream(spark, sf_dir))
    _run_stream(pairs, "edqp_pairs_q")
    return spark.table("edqp_pairs_q").orderBy(
        "user_id", "click_id", "purchase_id"
    )
