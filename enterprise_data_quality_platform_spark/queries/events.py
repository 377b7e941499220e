"""Event-stream queries, batch twins of the streaming layer (SURVEY.md §2.4).

The streaming versions (readStream + watermark + window/session_window) live
in ``streaming/``; these batch twins compute identical answers so the driver
can oracle-check the semantics (T2/T4 batch-twin rule, §2.7)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.numeric import fx_avg, fx_round, fx_sum, sql_avg, sql_round, sql_sum
from .registry import register


@register(
    "events_tumbling_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS event_count,
           {sql_sum("value")} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tables=("events",),
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 batch twin: tumbling 1-hour window aggregate. Uses window() (the
    same primitive the streaming query uses) and projects window.start, which
    equals date_trunc('hour', ts) for tumbling windows."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            fx_sum(F.col("value"), "total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


@register(
    "events_sliding_windows",
    oracle="""
    -- every event belongs to exactly 4 sliding (1h, 15min) windows whose
    -- starts are the 4 preceding 15-minute marks
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
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 batch twin: sliding 1-hour window, 15-minute slide. Each event maps
    to 4 overlapping windows (window() duplicates rows exactly like the
    UNNEST offsets in the oracle)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("window.start").alias("window_start"), "event_count")
    )


@register(
    "events_json_extract",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {sql_avg("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tables=("events",),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16: JSON property extraction (events.props is a JSON string, the
    alert-payload pattern of pager-workflow.py:15-27) + aggregate. The
    extraction is projected ONCE before the aggregate: referencing the
    extraction expression from two aggregate functions re-parses the JSON
    per reference (no CSE across agg expressions — one parse per row
    instead of two, measured ~1.6x at sf10). Extraction uses Spark 4's
    VARIANT (``variant_get(try_parse_json(...))``, binary-shredded typed
    access — sf10 A/B: 0.98 s vs ``from_json`` 1.16 s vs
    ``get_json_object`` 1.96 s); ``try_parse_json`` yields NULL on
    malformed rows instead of throwing under ANSI."""
    k = F.expr("variant_get(try_parse_json(props), '$.k', 'bigint')")
    return (
        table(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fx_avg(F.col("k"), "avg_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "events_dedup",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           COUNT(DISTINCT event_id) AS distinct_events,
           COUNT(*) - COUNT(DISTINCT event_id) AS duplicate_rows
    FROM events
    """,
    tables=("events",),
)
def events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18/X3: exact dedup metrics on the stream key. The streaming twin is
    dropDuplicatesWithinWatermark('event_id') (T6); batch dedup itself is
    dropDuplicates(['event_id']) — this query reports its effect size."""
    df = table(spark, sf_dir, "events")
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count_distinct("event_id").alias("distinct_events"),
        (F.count(F.lit(1)) - F.count_distinct("event_id")).alias("duplicate_rows"),
    )


@register(
    "events_sessionization",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    marked AS (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      FROM ordered
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS session_count,
           COUNT(*) AS event_count
    FROM marked
    GROUP BY user_id
    """,
    tables=("events",),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 batch twin: sessionization — a new session starts when the gap to
    the previous event (per user) exceeds 30 minutes, same construct as the
    streaming twin (`session_window(ts, '30 minutes')`).

    Native batch session_window instead of the lag-window gaps-and-islands
    form: MergingSessionsExec merges sessions map-side BEFORE the shuffle,
    so only partial-session rows move, versus the window form shuffling and
    sorting every raw event through WindowExec (measured at sf10: 0.8 s vs
    4.7 s — and the gap widens with data volume since raw-event shuffle
    grows linearly while merged-session rows are bounded by time-range /
    gap). Spark's batch session merge is INCLUSIVE (an event exactly at
    session_end extends the session), which matches the oracle's
    `ts - prev_ts > INTERVAL 30 MINUTE` new-session convention exactly —
    edge-tested in tests/test_events_analytics.py with 30min and 30min+1us
    gaps."""
    sessions = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("session_count"),
        F.sum("n").alias("event_count"),
    )


@register(
    "events_daily_pivot",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events
    GROUP BY 1
    """,
    tables=("events",),
)
def events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type, one row per day — the dashboard
    wide form. Explicit pivot values keep it one pass (without them Spark
    needs an extra distinct-values job)."""
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent (day, type) combos; the oracle's
    # conditional counts yield 0 — align
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register(
    "events_type_distribution",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS fraction
    FROM events
    GROUP BY event_type
    """,
    tables=("events",),
)
def events_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-adjacent: categorical distribution profile (fraction of total) —
    the KL-divergence check's observed side. Total via 1-row aggregate
    broadcast onto the buckets, not an unpartitioned window."""
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.agg(F.sum("n").alias("__t"))
    return counts.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "n",
        F.round(F.col("n") / F.col("__t"), 6).alias("fraction"),
    )


@register(
    "events_incident_transitions",
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
def events_incident_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState incident tracker
    (streaming/pipeline.py): with resolve == trigger threshold the
    post-event incident state is memorylessly `value > T`, so transitions
    reduce to a per-key lag comparison — trigger where value crosses above
    T, resolve where it crosses back. Identical rows to the streaming
    operator (test-asserted) and DuckDB-oracle-checked."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.lit(150.0)
    prev = F.col("prev_value")
    return (
        table(spark, sf_dir, "events")
        .withColumn("prev_value", F.lag("value").over(w))
        .filter(
            ((F.col("value") > t) & (prev.isNull() | (prev <= t)))
            | ((F.col("value") <= t) & (prev > t))
        )
        .select(
            "event_type",
            "ts",
            "event_id",
            "value",
            F.when(F.col("value") > t, F.lit("trigger"))
            .otherwise(F.lit("resolve"))
            .alias("action"),
        )
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS view_ts,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS click_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(view_ts) AS BIGINT) AS n_view,
           CAST(COUNT(CASE WHEN click_ts > view_ts THEN 1 END) AS BIGINT) AS n_click_after_view,
           CAST(COUNT(CASE WHEN purchase_ts > click_ts AND click_ts > view_ts THEN 1 END) AS BIGINT) AS n_full_funnel,
           COUNT(CASE WHEN purchase_ts > click_ts AND click_ts > view_ts THEN 1 END)
             / COUNT(view_ts) AS view_to_purchase_rate
    FROM per_user
    """,
    tables=("events",),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per-user first
    touch per stage via conditional MIN, then one row of staged conversion
    counts. NULL comparison semantics do the stage gating (a missing or
    out-of-order stage yields NULL > NULL → filtered by COUNT(CASE)) —
    identical in both engines, no explicit null-handling branches.

    Plan: single groupBy(user_id) with conditional aggregates (one
    map-combined shuffle over the filtered event subset — the filter is
    pushed to the scan), then a 1-row final aggregate. No window over raw
    events, no self-joins per stage (the naive N-stage form is N-1
    self-joins)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    stage = lambda s: F.min(  # noqa: E731
        F.when(F.col("event_type") == s, F.col("ts"))
    )
    per_user = ev.groupBy("user_id").agg(
        stage("view").alias("view_ts"),
        stage("click").alias("click_ts"),
        stage("purchase").alias("purchase_ts"),
    )
    ordered = (F.col("purchase_ts") > F.col("click_ts")) & (
        F.col("click_ts") > F.col("view_ts")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("view_ts").alias("n_view"),
        F.count(F.when(F.col("click_ts") > F.col("view_ts"), 1)).alias(
            "n_click_after_view"
        ),
        F.count(F.when(ordered, 1)).alias("n_full_funnel"),
        (F.count(F.when(ordered, 1)) / F.count("view_ts")).alias(
            "view_to_purchase_rate"
        ),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    firstday AS (
      SELECT user_id, MIN(d) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT f.cohort_day,
           date_diff('day', f.cohort_day, a.d) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM days a JOIN firstday f USING (user_id)
    WHERE date_diff('day', f.cohort_day, a.d) <= 7
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tables=("events",),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, counted
    on each of their next 7 active days — the day-N retention table every
    product warehouse materializes.

    Plan: distinct (user, day) FIRST (shrinks the fact before anything
    else), then the per-user cohort day as ONE window MIN partitioned by
    user over the deduped frame — not a groupBy + self-join: the join
    form computed the distinct subtree twice (inferred-IsNotNull
    de-canonicalization, caught by the r5 scan-count audit) and let AQE
    broadcast the user-cardinality cohort frame (fine at test SF, a
    scale-killer at 100 TB where |users| outgrows any broadcast budget).
    The window's per-user groups are bounded by active days, then one
    final groupBy on (cohort_day, day_offset) — a low-cardinality result
    grid. (user, day) rows are already distinct, so active_users needs no
    count_distinct/Expand."""
    days = (
        table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    return (
        days.select(
            F.datediff(F.col("d"), F.min("d").over(w)).alias("day_offset"),
            F.min("d").over(w).alias("cohort_day"),
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "events_latency_percentiles",
    oracle=f"""
    SELECT event_type,
           {sql_round("quantile_cont(value, 0.50)", 2)} AS p50,
           {sql_round("quantile_cont(value, 0.95)", 2)} AS p95,
           {sql_round("quantile_cont(value, 0.99)", 2)} AS p99,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tables=("events",),
)
def events_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact percentiles (p50/p95/p99 of ``value`` per event
    type) — the SLO/latency profile shape. One multi-quantile sort-based
    aggregate per group (array form: ONE buffer serves all three ranks),
    equal to DuckDB ``quantile_cont`` (interpolated; portability proven
    by ``dq_quantiles``). At local/bench scales the in-task sort over
    ~n/|G| values is the fastest exact plan (0.70 s at sf10, ~2×
    DuckDB); the buffer grows with group size, so at 100 TB switch to
    ``operators.quantiles.exact_group_quantiles`` (three codegen passes,
    flat executor memory, same values — A/B'd slower here at 4.1 s) or
    ``percentile_approx`` when approximation is acceptable."""
    pcts = F.expr("percentile(value, array(0.50, 0.95, 0.99))")
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(pcts.alias("ps"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            fx_round(F.col("ps")[0], 2).alias("p50"),
            fx_round(F.col("ps")[1], 2).alias("p95"),
            fx_round(F.col("ps")[2], 2).alias("p99"),
            "n_events",
        )
        .orderBy("event_type")
    )


@register(
    "events_gapfill_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             COUNT(*) AS event_count,
             {sql_avg("value")} AS avg_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ),
    grid AS (
      SELECT t.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    )
    SELECT g.event_type,
           g.hour,
           COALESCE(h.event_count, 0) AS event_count,
           last_value(h.avg_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS avg_value_filled
    FROM grid g
    LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hour = h.hour
    ORDER BY g.event_type, g.hour
    """,
    tables=("events",),
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly grid per event type (empty
    hours appear with count 0) with last-observation-carried-forward
    interpolation of the hourly mean — the densify-then-fill primitive
    dashboards and feature pipelines need before any rolling computation.

    Plan at scale: the raw scan collapses to (type, hour) aggregates
    first, and EVERYTHING else happens on that bounded frame: each
    observed bucket explodes the gap up to the next observed bucket of
    its type (plus the leading gap down to the global first hour for each
    type's first bucket), so the dense grid is emitted WITHOUT a grid ⋈
    hourly join — the earlier join form consumed the hourly subtree three
    times (grid types, bounds, probe side) and Catalyst's per-consumer
    aggregate pruning de-canonicalized them into three full event scans
    (r5 scan-count audit). Global bounds ride an unpartitioned window
    over hourly — bounded by construction (types × hours), never raw
    rows — and the carry-forward window runs over the grid as before.
    One fact scan, one (type, hour) shuffle, explode factor = gap
    lengths (grid-sized output either way)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("event_count"),
        fx_avg(F.col("value"), "avg_value"),
    )
    wb = Window.partitionBy()  # bounded: hourly bucket rows only
    wt = Window.partitionBy("event_type").orderBy("hour")
    hour_step = F.expr("interval 1 hour")
    spans = hourly.select(
        "event_type",
        "hour",
        "event_count",
        "avg_value",
        F.min("hour").over(wb).alias("h0"),
        F.max("hour").over(wb).alias("h1"),
        F.lead("hour").over(wt).alias("next_hour"),
        F.lag("hour").over(wt).alias("prev_hour"),
    )
    lead_gap = F.when(
        F.col("prev_hour").isNull() & (F.col("hour") > F.col("h0")),
        F.sequence(F.col("h0"), F.col("hour") - hour_step, hour_step),
    ).otherwise(F.array())
    span = F.sequence(
        F.col("hour"),
        F.coalesce(F.col("next_hour") - hour_step, F.col("h1")),
        hour_step,
    )
    grid = spans.select(
        "event_type",
        "hour",
        "event_count",
        "avg_value",
        F.explode(F.concat(lead_gap, span)).alias("grid_hour"),
    )
    observed = F.col("grid_hour") == F.col("hour")
    w = (
        Window.partitionBy("event_type")
        .orderBy("grid_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "event_type",
        F.col("grid_hour").alias("hour"),
        F.when(observed, F.col("event_count")).otherwise(F.lit(0)).alias(
            "event_count"
        ),
        F.last(F.when(observed, F.col("avg_value")), ignorenulls=True)
        .over(w)
        .alias("avg_value_filled"),
    ).orderBy("event_type", "hour")


@register(
    "events_user_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS transition_count,
           COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS transition_prob
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY from_type, to_type
    """,
    tables=("events",),
)
def events_user_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the per-user event-type transition matrix (Markov
    first-order) — counts and conditional probabilities of "after X, the
    user does Y". The journey-analysis primitive behind funnel discovery
    and next-action prediction.

    Plan: ONE window partitioned by ``user_id`` (distributed — state per
    user, never a global order) computes each row's successor via ``lead``
    with a deterministic (ts, event_id) tiebreak; the transition matrix is
    a map-combined groupBy onto ≤ |types|² rows, and the row-conditional
    normalization is a window over those result rows only. One shuffle on
    user_id, one on the 25-row matrix."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("transition_count")
    )
    norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "transition_count",
        (
            F.col("transition_count")
            / F.sum("transition_count").over(norm)
        ).alias("transition_prob"),
    ).orderBy("from_type", "to_type")


@register(
    "events_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_start, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS s1,
             CAST(SUM(n * n) AS BIGINT) AS s2
      FROM hourly
    )
    SELECT h.hour_start, h.n,
           (CAST(h.n AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
           / SQRT(CAST(s.s2 AS DOUBLE) / CAST(s.n_hours AS DOUBLE)
                  - (CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
                    * (CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))) AS zscore
    FROM hourly h, stats s
    WHERE ABS(
          (CAST(h.n AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
          / SQRT(CAST(s.s2 AS DOUBLE) / CAST(s.n_hours AS DOUBLE)
                 - (CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
                   * (CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE)))) > 2.0
    ORDER BY hour_start
    """,
    tables=("events",),
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC control chart on the event rate: hours whose event count sits
    more than 2 population-sigmas from the mean hourly rate — the
    volume-anomaly monitor ("traffic fell off a cliff / spiked") that the
    platform's freshness check can't see.

    Determinism: the moment sums (n, Σn, Σn²) are exact BIGINTs over
    hourly counts; mean/variance/z are the identical IEEE expression tree
    on both sides. Plan: one map-combined groupBy to hourly rows, a 1-row
    stats aggregate broadcast back onto them — never a global window, and
    the raw event scan is touched once."""
    events = table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / F.col("n_hours").cast("double")
    var = (
        F.col("s2").cast("double") / F.col("n_hours").cast("double")
        - mean * mean
    )
    z = (nd - mean) / F.sqrt(var)
    return (
        hourly.crossJoin(F.broadcast(stats))
        .filter(F.abs(z) > 2.0)
        .select("hour_start", "n", z.alias("zscore"))
        .orderBy("hour_start")
    )


@register(
    "events_scd2_episodes",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                       LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    numbered AS (
      SELECT user_id, event_type, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS episode_seq
      FROM flagged
    )
    SELECT user_id, CAST(episode_seq AS BIGINT) AS episode_seq, event_type,
           MIN(ts) AS started_at, MAX(ts) AS ended_at,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered
    GROUP BY user_id, episode_seq, event_type
    ORDER BY user_id, episode_seq
    """,
    tables=("events",),
)
def events_scd2_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal episode compression (SCD-Type-2 building): collapse each
    user's CONSECUTIVE same-type events into one validity row
    (started_at, ended_at, n_events) — the gaps-and-islands rewrite that
    turns an event log into a slowly-changing state table.

    Plan: one user-partitioned window computes the change flag (lag) and
    the running episode number (cumulative sum) in the SAME sort order —
    Catalyst fuses both into a single Window node over one shuffle — then
    a map-combined groupBy per (user, episode). Distributed by user;
    nothing global."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "event_type",
        "ts",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
        )
        .otherwise(0)
        .alias("is_new"),
        F.col("event_id"),
    )
    numbered = flagged.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("episode_seq"),
    )
    # no final orderBy: the episode table is large and the driver compares
    # order-insensitively — a presentation sort here would be a global
    # shuffle purely for cosmetics
    return numbered.groupBy("user_id", "episode_seq", "event_type").agg(
        F.min("ts").alias("started_at"),
        F.max("ts").alias("ended_at"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "events_attribution",
    oracle="""
    WITH touched AS (
      SELECT event_type, ts, user_id,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
               OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    purchases AS (
      SELECT COALESCE(touch_type, 'none') AS attributed_type,
             CASE WHEN touch_ts IS NOT NULL
                  THEN date_diff('second', touch_ts, ts) END AS secs
      FROM touched WHERE event_type = 'purchase'
    )
    SELECT attributed_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(secs) AS BIGINT) AS total_secs_to_convert,
           CAST(SUM(secs) AS DOUBLE) / COUNT(secs) AS avg_secs_to_convert
    FROM purchases
    GROUP BY attributed_type ORDER BY attributed_type
    """,
    tables=("events",),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent PRECEDING non-purchase event — the marketing-analytics join of
    conversions back to touchpoints, plus time-to-convert stats.

    Plan: one user-partitioned window (frame UNBOUNDED PRECEDING .. 1
    PRECEDING, so a purchase can't attribute to itself) carries the last
    qualifying touch forward via ``last(ignorenulls)``; purchases filter
    AFTER the window (the window must see every event), then a
    map-combined groupBy onto ≤ |types| rows. Time-to-convert sums are
    exact integer seconds (floor-epoch difference on both engines);
    the average is one division."""
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    touched = events.select(
        "event_type",
        "ts",
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(not_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    purchases = touched.filter(F.col("event_type") == "purchase").select(
        F.coalesce(F.col("touch_type"), F.lit("none")).alias("attributed_type"),
        F.when(
            F.col("touch_ts").isNotNull(),
            F.unix_timestamp("ts") - F.unix_timestamp("touch_ts"),
        ).alias("secs"),
    )
    return (
        purchases.groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("secs").alias("total_secs_to_convert"),
            (F.sum("secs").cast("double") / F.count("secs")).alias(
                "avg_secs_to_convert"
            ),
        )
        .orderBy("attributed_type")
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events
    )
    SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n_journeys
    FROM seq
    WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n_journeys DESC, path
    LIMIT 10
    """,
    tables=("events",),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 length-3 user journeys (event-type trigrams) — the path-mining
    big sibling of ``events_user_transitions``'s first-order matrix.

    Plan: ONE user-partitioned sort serves both ``lead`` offsets (same
    window spec → one Exchange + one Sort), trigram rows collapse in the
    map-side partial agg (path cardinality ≤ |types|³ = 125), and the
    top-10 is TakeOrderedAndProject — no global sort of path counts. The
    (ts, event_id) tiebreak makes journeys deterministic under duplicate
    timestamps, so counts are reproducible on any partitioning."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(" > ", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), "path")
        .limit(10)
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM pairs GROUP BY day
    ),
    wau AS (
      SELECT g.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau
      FROM dau g JOIN pairs p ON p.day BETWEEN g.day - 6 AND g.day
      GROUP BY g.day
    )
    SELECT d.day, d.dau, w.wau
    FROM dau d JOIN wau w USING (day)
    ORDER BY d.day
    """,
    tables=("events",),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day WAU per observed day — the engagement headline
    pair. Rolling DISTINCT over a sliding window is the classically
    painful distributed aggregate (naive forms are a range self-join or a
    per-day state scan); here it is rewritten as *explode-to-target-days*:
    each distinct (user, day) activity row votes for the 7 calendar days
    it keeps the user "weekly active" on, then WAU is a plain distinct
    count per target day.

    Plan: distinct (user, day) FIRST (the same shrink-the-fact move as
    retention cohorts), DAU and the exploded WAU votes both reuse that
    input; the explode factor is a constant 7 (bounded blow-up, unlike a
    range join whose multiplicity is data-dependent), and the final
    distinct is a two-level groupBy keyed by (day, user) — mergeable,
    no window state. The inner join back to observed days drops the
    lead-out tail the oracle's grid also excludes.

    The explicit day-IS-NOT-NULL filter is canonicalization, not
    semantics (the final inner join on day drops NULL days anyway): the
    join used to infer ``isnotnull(day)`` into ONLY the dau-side scan,
    de-canonicalizing the two distinct-pairs subtrees so events was
    scanned twice (the tfidf de-canonicalization lesson; caught by the
    r5 scan-count audit). With both sides filtered identically the
    (user, day) exchange is built once and reused."""
    pairs = (
        table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .filter(F.col("day").isNotNull())
        .distinct()
    )
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    votes = pairs.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("day"),
    ).distinct()
    wau = votes.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return dau.join(wau, "day").select("day", "dau", "wau").orderBy("day")


@register(
    "events_ab_experiment",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CASE WHEN (user_id * 2654435761) % 1000 < 500 THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      FROM users
    )
    SELECT n_a, n_b, conv_a, conv_b,
           {sql_round("CAST(conv_a AS DOUBLE) / n_a", 6)} AS rate_a,
           {sql_round("CAST(conv_b AS DOUBLE) / n_b", 6)} AS rate_b,
           {sql_round(
               "(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)"
               " / NULLIF(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
               " * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
               " * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), CAST(0 AS DOUBLE))", 6)} AS z_score
    FROM arms
    """,
    tables=("events",),
)
def events_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: hash-assigned variants,
    per-arm user conversion (any purchase), and the two-proportion pooled
    z-score — the experimentation primitive a warehouse team runs daily.

    Assignment reuses the training-split Knuth multiplicative hash
    (``plans/training_data.py``): plain BIGINT arithmetic, so the same
    user lands in the same arm on ANY engine/cluster layout — assignment
    is a shuffle-free narrow projection, never a stored mapping table.

    Plan: per-user groupBy (conversion flag collapses map-side), then a
    single 1-row conditional aggregate for both arms — no join between
    arms, no second scan. The z statistic is formed from the four exact
    integers in one identical IEEE expression tree on both engines
    (+,-,*,/ and sqrt are all correctly-rounded per IEEE 754), rounded
    6dp per the ln/KL precedent."""
    users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
            ).alias("converted")
        )
        .withColumn(
            "variant",
            F.when(
                (F.col("user_id") * F.lit(2654435761)) % F.lit(1000) < 500, F.lit("A")
            ).otherwise(F.lit("B")),
        )
    )
    is_a = F.col("variant") == "A"
    arms = users.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(is_a, F.col("converted")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(~is_a, F.col("converted")).otherwise(0)).alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    # NULLIF guard: a degenerate experiment (all or no users converted)
    # has zero pooled variance — z is undefined, not an ANSI throw
    z = (rate_a - rate_b) / F.nullif(
        F.sqrt(
            pooled
            * (F.lit(1).cast("double") - pooled)
            * (
                F.lit(1).cast("double") / F.col("n_a")
                + F.lit(1).cast("double") / F.col("n_b")
            )
        ),
        F.lit(0).cast("double"),
    )
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        fx_round(rate_a, 6).alias("rate_a"),
        fx_round(rate_b, 6).alias("rate_b"),
        fx_round(z, 6).alias("z_score"),
    )


@register(
    "events_hourly_seasonality",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    hod AS (
      SELECT CAST(EXTRACT(hour FROM h) AS BIGINT) AS hour_of_day,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             -- bare SUM binds HUGEINT in DuckDB (decimal128 in Arrow) while
             -- Spark emits bigint -> value-hash mismatch; cast explicitly
             CAST(SUM(n) AS BIGINT) AS total_events
      FROM hourly GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(total_events) AS BIGINT) AS all_events FROM hod)
    SELECT h.hour_of_day, h.n_hours, h.total_events,
           {sql_round("CAST(h.total_events AS DOUBLE) / h.n_hours", 4)} AS avg_per_hour,
           {sql_round("CAST(h.total_events AS DOUBLE) / t.all_events", 6)} AS share
    FROM hod h CROSS JOIN tot t
    ORDER BY h.hour_of_day
    """,
    tables=("events",),
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile: mean event rate and traffic share
    per clock hour — the baseline a seasonal anomaly detector (and a
    capacity plan) is built on; pairs with ``events_rate_anomaly``'s
    global SPC bands, which flag every peak hour a seasonal baseline
    would absorb.

    Plan: raw events collapse to ≤ 24×31 hourly buckets first (one
    map-combined groupBy), the hour-of-day rollup and grand total then
    work on those bucket rows only — integer counts all the way, two
    rounded divisions at the end, so the oracle is exact."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hod = hourly.groupBy(F.hour("h").cast("long").alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("n_hours"), F.sum("n").alias("total_events")
    )
    tot = hod.agg(F.sum("total_events").alias("all_events"))
    return (
        hod.crossJoin(F.broadcast(tot))
        .select(
            "hour_of_day",
            "n_hours",
            "total_events",
            fx_round(
                F.col("total_events").cast("double") / F.col("n_hours"), 4
            ).alias("avg_per_hour"),
            fx_round(
                F.col("total_events").cast("double") / F.col("all_events"), 6
            ).alias("share"),
        )
        .orderBy("hour_of_day")
    )


@register(
    "events_churn_inactivity",
    oracle=f"""
    WITH bounds AS (
      SELECT MAX(ts) AS corpus_max FROM events
    ),
    last_seen AS (
      SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
    ),
    flags AS (
      SELECT CASE WHEN CAST(epoch(b.corpus_max) AS BIGINT)
                       - CAST(epoch(l.last_ts) AS BIGINT) > 7 * 86400
                  THEN 1 ELSE 0 END AS churned
      FROM last_seen l CROSS JOIN bounds b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(churned) AS BIGINT) AS churned_users,
           CAST(COUNT(*) - SUM(churned) AS BIGINT) AS active_users,
           {sql_round("CAST(SUM(churned) AS DOUBLE) / COUNT(*)", 6)} AS churn_rate
    FROM flags
    """,
    tables=("events",),
)
def events_churn_inactivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity churn: users whose last event is more than 7 days before
    the corpus frontier — the retention counterpart of DAU/WAU (who has
    silently left?), and the freshness gate (G20) applied per entity
    instead of per table.

    Plan: per-user MAX(ts) is one map-combined groupBy; the corpus
    frontier is a 1-row broadcast factor DERIVED FROM the per-user frame
    (max over per-user maxes == global max), so the per-user exchange is
    shared and events is scanned once — the r5 repeated-fact-scan audit
    found the events-rooted frontier cost a second full scan. The 7-day
    rule is exact integer epoch-seconds (floor-epoch on both engines, the
    attribution precedent) so no timestamp-interval arithmetic
    differences can leak in; one final 1-row summary."""
    events = table(spark, sf_dir, "events")
    last_seen = events.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    bounds = last_seen.agg(F.max("last_ts").alias("corpus_max"))
    flags = last_seen.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.unix_timestamp("corpus_max") - F.unix_timestamp("last_ts")
            > 7 * 86400,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("churned")
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("churned").alias("churned_users"),
        (F.count(F.lit(1)) - F.sum("churned")).alias("active_users"),
        fx_round(
            F.sum("churned").cast("double") / F.count(F.lit(1)), 6
        ).alias("churn_rate"),
    )


@register(
    "events_heavy_hitters",
    # exact frequent-items: users owning > 0.5% of all events. Threshold is
    # integer cross-multiplication (n*1000 > total*5); share is the one
    # final rounded division.
    oracle="""
    WITH pu AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events)
    SELECT pu.user_id, pu.n_events,
           FLOOR(CAST(pu.n_events AS DOUBLE) / tot.total * 1000000 + 0.5)
             / 1000000.0 AS share
    FROM pu CROSS JOIN tot
    WHERE pu.n_events * 1000 > tot.total * 5
    ORDER BY pu.n_events DESC, pu.user_id
    """,
    tables=("events",),
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: users generating more than 0.5% of total
    traffic — the skew/abuse detector that pairs with dq_key_skew (that one
    profiles the distribution; this one names the offenders).

    Plan: one map-combined per-user groupBy + a 1-row broadcast total
    factor; the threshold comparison is exact integer cross-multiplication.
    At 100 TB this is the recommended EXACT form — per-user partial counts
    combine map-side so the shuffle carries |users| rows, and no Expand or
    distinct pass exists. (A count-min sketch saves nothing here because
    the per-user aggregate is already the cheapest pass over the data.)"""
    events = table(spark, sf_dir, "events")
    pu = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    tot = events.agg(F.count(F.lit(1)).alias("total"))
    return (
        pu.crossJoin(F.broadcast(tot))
        .filter(F.col("n_events") * 1000 > F.col("total") * 5)
        .select(
            "user_id",
            "n_events",
            fx_round(F.col("n_events").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
    )


@register(
    "events_user_value_trend",
    # per-user OLS slope of value over time, computed ENTIRELY from exact
    # integer sufficient statistics: x = whole epoch-seconds offset from
    # 2024-01-01 (integer), y = value in 1e-2 units (integer). num/den are
    # DECIMAL(38,0) products of BIGINT sums -> exact and order-independent
    # on both engines; the single double division happens once at the end.
    oracle="""
    WITH pts AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY user_id
    )
    SELECT user_id, n,
           FLOOR(CAST(CAST(n AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / CAST(NULLIF(CAST(n AS DECIMAL(38,0)) * sxx
                               - CAST(sx AS DECIMAL(38,0)) * sx,
                               CAST(0 AS DECIMAL(38,0))) AS DOUBLE)
                 * 36.0 * 1000000 + 0.5) / 1000000.0 AS slope_per_hour
    FROM s
    WHERE n >= 10
    ORDER BY user_id
    """,
    tables=("events",),
)
def events_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend (OLS slope) of event value over time — the
    'is this account's spend rising?' primitive, computed with NO UDF and
    NO per-user iteration: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from one
    groupBy of integer sufficient statistics.

    Scale notes: x is whole seconds offset from a fixed epoch (keeps row
    products inside BIGINT at any fleet size); the n·Σ products are the
    only place 64 bits could overflow at large n, so the combine is
    DECIMAL(38,0) — exact, deterministic, still whole-stage codegen. The
    slope is reported per hour (×3600) in original value units (÷100),
    folded into one ×36 factor; NULLIF guards the zero-variance degenerate
    (all events at the same second) under ANSI mode."""
    events = table(spark, sf_dir, "events")
    # integer div (never float-divide micros: a double quotient can land a
    # hair below the integer and truncate differently than DuckDB's //)
    x = F.expr("unix_micros(cast(ts as timestamp)) div 1000000") - F.lit(1704067200)
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    pts = events.select("user_id", x.alias("x"), y.alias("y"))
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * F.col("sxy") - dec("sx") * F.col("sy")).cast("double")
    den = F.nullif(
        (dec("n") * F.col("sxx") - dec("sx") * F.col("sx")),
        F.lit(0).cast("decimal(38,0)"),
    ).cast("double")
    return (
        s.filter(F.col("n") >= 10)
        .select(
            "user_id",
            "n",
            fx_round(num / den * F.lit(36.0), 6).alias("slope_per_hour"),
        )
        .orderBy("user_id")
    )


@register(
    "events_cumulative_users",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
    ),
    adds AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_day GROUP BY day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM adds ORDER BY day
    """,
    tables=("events",),
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience growth curve: per-day new users and the cumulative
    distinct-user count — the "total users ever" metric.

    A running DISTINCT over an event stream is the textbook
    unscalable-as-written aggregate (per-day distinct state grows without
    bound); the first-seen rewrite makes it trivially distributed: each
    user contributes exactly ONE (user, first_day) row (a map-combined
    min), daily new-user counts are a second mergeable groupBy, and the
    cumulative sum is a window over the ≤|days| aggregate rows — never
    over raw events. Same discipline as dq_anomaly_zscore's
    pre-agg-then-window."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    adds = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return adds.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    ).orderBy("day")


@register(
    "events_scd2_checksum",
    # the BENCHED twin of events_scd2_episodes: identical episode
    # compression, folded into (user-bucket, event_type) checksums —
    # VERDICT r7 decomposition showed 0.8 s of the 2.6 s sf10 bench was
    # driver collect of 80k episode rows. Timestamps cross the compare as
    # epoch-microsecond residues mod 1e9 (exact integers on both engines,
    # scale-safe sums); any wrong boundary/count/type changes its row.
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                       LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    numbered AS (
      SELECT user_id, event_type, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS episode_seq
      FROM flagged
    ),
    episodes AS (
      SELECT user_id, CAST(episode_seq AS BIGINT) AS episode_seq, event_type,
             MIN(ts) AS started_at, MAX(ts) AS ended_at,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM numbered
      GROUP BY user_id, episode_seq, event_type
    )
    -- pmod-equivalent: Spark buckets with F.pmod (always >= 0) while plain
    -- DuckDB % follows the dividend sign — negative/hashed ids would cause
    -- a spurious parity failure otherwise (ADVICE r7)
    SELECT ((user_id % 256) + 256) % 256 AS bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_episodes,
           CAST(SUM(n_events) AS BIGINT) AS sum_events,
           CAST(SUM(episode_seq) AS BIGINT) AS sum_seq,
           CAST(SUM(epoch_us(started_at) % 1000000000
                    + epoch_us(ended_at) % 1000000000) AS BIGINT) AS ts_checksum
    FROM episodes
    GROUP BY bucket, event_type
    ORDER BY bucket, event_type
    """,
    tables=("events",),
)
def events_scd2_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output benched form of ``events_scd2_episodes`` (see that
    docstring for the operator); the per-episode twin stays registered
    for the driver's full-granularity gate."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "event_type",
        "ts",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
        )
        .otherwise(0)
        .alias("is_new"),
        F.col("event_id"),
    )
    numbered = flagged.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("episode_seq"),
    )
    episodes = numbered.groupBy("user_id", "episode_seq", "event_type").agg(
        F.min("ts").alias("started_at"),
        F.max("ts").alias("ended_at"),
        F.count(F.lit(1)).alias("n_events"),
    )
    us = lambda c: F.expr(f"unix_micros(cast({c} as timestamp)) % 1000000000")
    return (
        episodes.groupBy(
            F.pmod(F.col("user_id"), F.lit(256)).alias("bucket"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_episodes"),
            F.sum("n_events").alias("sum_events"),
            F.sum("episode_seq").alias("sum_seq"),
            F.sum(us("started_at") + us("ended_at")).alias("ts_checksum"),
        )
        .orderBy("bucket", "event_type")
    )


@register(
    "events_rapid_fire_users",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    per_user AS (
      SELECT user_id, COUNT(*) AS n_events,
             MIN(gap_us) AS min_gap_us,
             CAST(COALESCE(SUM(CASE WHEN gap_us < 60000000 THEN 1 END), 0)
                  AS BIGINT) AS n_rapid_gaps
      FROM g GROUP BY user_id
    )
    SELECT user_id, n_events, min_gap_us, n_rapid_gaps
    FROM per_user WHERE min_gap_us IS NOT NULL
    ORDER BY min_gap_us ASC, user_id
    LIMIT 20
    """,
    tables=("events",),
)
def events_rapid_fire_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot / scripted-traffic shortlist: the 20 users with the smallest
    gap between consecutive events, plus how many of their gaps ran under
    60 s — the inter-arrival-time screen an ingestion pipeline applies
    before user-generated text reaches a training corpus (humans don't
    fire events microseconds apart; scripts do).

    Exactness: gaps are exact integer MICROSECONDS (unix_micros /
    epoch_us on an identical (ts, event_id)-ordered lag), so min/ordering
    can't drift. Single-event users have no gap and are excluded (NULL
    min).

    Scale shape: one user-partitioned window (the events_scd2_checksum
    window-shuffle family — per-user sort after one hash exchange), the
    per-user rollup rides the same partitioning, and the top-20 is
    TakeOrderedAndProject."""
    events = table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    per_user = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("gap_us").alias("min_gap_us"),
        F.coalesce(
            F.sum(F.when(F.col("gap_us") < 60000000, F.lit(1))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_rapid_gaps"),
    )
    return (
        per_user.filter(F.col("min_gap_us").isNotNull())
        .orderBy(F.col("min_gap_us").asc(), "user_id")
        .limit(20)
    )


@register(
    "events_user_gini",
    oracle="""
    WITH pc AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    rk AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS i FROM pc
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) AS s,
             CAST(SUM(i * cnt) AS BIGINT) AS sic
      FROM rk
    )
    SELECT n AS n_users,
           s AS total_events,
           FLOOR((2.0 * CAST(sic AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                  - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS gini_6dp
    FROM sums
    """,
    tables=("events",),
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-concentration audit: exact Gini coefficient of per-user
    event counts (0 = uniform, ->1 = a few users produce everything).
    The concentration screen a training-data intake runs next to the
    rapid-fire shortlist: a corpus whose "user-generated" text comes from
    a handful of accounts inherits their bias wholesale, and a sudden
    Gini jump between snapshots flags scripted-traffic floods that
    per-user thresholds miss.

    Exactness: rank-sum identity G = 2*sum(i*c_i)/(n*sum(c)) - (n+1)/n
    over counts sorted ascending (ties rank arbitrarily — the sum is
    permutation-invariant within equal counts, so ranks never need to be
    materialized per user). All three moments are exact BIGINT; the
    coefficient is formed in ONE fixed IEEE tree both engines spell
    identically, then fx-rounded to 6dp.

    Scale shape (r11): users with equal cnt form a tie-group whose ranks
    are consecutive, so sum(i*c_i) collapses per group to
    c * (m*start + m*(m-1)/2) with start = 1 + (#users below). The rank
    window therefore runs over the DISTINCT-COUNT frame, whose size is
    O(sqrt(total_events)) (distinct positive counts summing to N number
    at most ~sqrt(2N)) — the r10 form ranked the per-user frame, the one
    single-partition window in the repo whose input grew LINEARLY with
    the data (VERDICT r10 "what's wrong" #1). m*(m-1) DIV 2 stays exact
    BIGINT (the product of consecutive integers is even); the oracle's
    per-user ROW_NUMBER form is unchanged and the moments are equal
    integers."""
    events = table(spark, sf_dir, "events")
    pc = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    cc = pc.groupBy("cnt").agg(F.count(F.lit(1)).alias("m"))
    cum = cc.select(
        "cnt",
        "m",
        (
            F.sum("m").over(
                Window.orderBy("cnt").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("m")
        ).alias("below"),
    )
    group_sic = F.col("cnt") * (
        F.col("m") * (F.col("below") + F.lit(1))
        + F.expr("m * (m - 1) DIV 2")
    )
    sums = cum.agg(
        F.sum("m").alias("n"),
        F.sum(F.col("cnt") * F.col("m")).alias("s"),
        F.sum(group_sic).alias("sic"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    gini_raw = F.lit(2.0) * F.col("sic").cast("double") / (nd * sd) - (
        nd + F.lit(1.0)
    ) / nd
    return sums.select(
        F.col("n").alias("n_users"),
        F.col("s").alias("total_events"),
        (F.floor(gini_raw * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "gini_6dp"
        ),
    )
