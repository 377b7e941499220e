"""Custom-operator queries: as-of join and range join (SURVEY.md §2.6 /
task brief: "operators Spark lacks — as-of join, range join").

Both have DuckDB oracles: DuckDB ships native ASOF JOIN and plans the
inequality join directly (IEJoin), so the oracle states the semantics
declaratively while the Spark side proves the scalable composition."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.numeric import sql_sum
from ..operators import asof_join, interval_join
from .registry import register


@register(
    "events_asof_purchase_view",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, v.ts AS last_view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    tables=("events",),
)
def events_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the most recent view (ts <= purchase
    ts) by the same user — attribution's core primitive. One shuffle on
    user_id (union + carry-forward window), no inequality join."""
    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = asof_join(purchases, views, on="ts", key="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_right").alias("last_view_ts"),
    )


@register(
    "events_range_join_incidents",
    oracle="""
    WITH incidents AS (
      SELECT MIN(ts) AS start_ts, MIN(ts) + INTERVAL 45 MINUTE AS end_ts
      FROM events WHERE event_type = 'error'
      GROUP BY date_trunc('hour', ts)
      HAVING COUNT(*) >= 8
    )
    SELECT COUNT(*) AS n_pairs,
           COUNT(DISTINCT e.event_id) AS n_events,
           COUNT(DISTINCT i.start_ts) AS n_incidents
    FROM events e
    JOIN incidents i ON e.ts >= i.start_ts AND e.ts < i.end_ts
    """,
    tables=("events",),
)
def events_range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events falling inside 45-minute "incident windows"
    (hours with >= 8 errors, window from the first error). The Spark side
    uses the bucketed interval join (hash join on time bucket + residual
    predicate) instead of the O(n*m) nested loop the naive predicate
    would plan."""
    events = table(spark, sf_dir, "events")
    incidents = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("start_ts"))
        .filter(F.col("n") >= 8)
        .select(
            "start_ts",
            (F.col("start_ts") + F.expr("INTERVAL 45 MINUTES")).alias("end_ts"),
        )
    )
    joined = interval_join(
        events, incidents, point_ts="ts", start_ts="start_ts",
        end_ts="end_ts", bucket_seconds=2700,
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("event_id").alias("n_events"),
        F.count_distinct("start_ts").alias("n_incidents"),
    )


@register(
    "events_zorder_locality",
    # the z-value is pure integer bit math -> engine-portable, so the
    # layout decision is fully oracle-checked: per z-range bucket, how many
    # distinct values of EACH dimension land there (small on both = the
    # multi-dim pruning guarantee).
    oracle="""
    WITH z AS (
      SELECT
        -- PRECONDITION: user_id >= 0 AND ts >= epoch (holds for this
        -- schema). Spark buckets via F.pmod + `div` while this twin uses
        -- %/'//' — they agree only for non-negative operands, and unlike
        -- the flat-bucket twins a pmod wrap alone wouldn't align the
        -- floor-vs-truncate `//` on negative epochs (ADVICE r7).
        -- parenthesize each shift: DuckDB's << binds LOOSER than +, so an
        -- unparenthesized a << x + b << y chains the shifts
        (SELECT SUM( (((user_id % 256) >> i & 1) << (2*i))
                   + ((((epoch_us(ts) // 3600000000) % 256) >> i & 1) << (2*i+1)))
         FROM generate_series(0, 7) AS g(i)) AS zval,
        user_id % 256 AS ub,
        (epoch_us(ts) // 3600000000) % 256 AS hb
      FROM events
    )
    -- zval is a SUM -> HUGEINT in DuckDB; cast so the output column binds
    -- int64 like Spark's long, or the driver's value hash mismatches
    SELECT CAST(zval // 1024 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT ub) AS BIGINT) AS distinct_user_buckets,
           CAST(COUNT(DISTINCT hb) AS BIGINT) AS distinct_hour_buckets,
           MIN(ub) AS min_ub, MAX(ub) AS max_ub,
           MIN(hb) AS min_hb, MAX(hb) AS max_hb
    FROM z
    GROUP BY 1
    ORDER BY 1
    """,
    tables=("events",),
)
def events_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (user bucket, hour bucket)
    and report, per 1024-wide z range (a stand-in for one output file),
    how many distinct values of each dimension it covers. Small counts on
    BOTH dimensions are the multi-dimensional pruning guarantee that a
    plain (user, hour) sort cannot give — a linear sort makes the second
    key unbounded within each file.

    The actual re-layout operator is ``operators.layout.zorder_by``
    (repartitionByRange on the z-value + sortWithinPartitions); this
    query is its oracle-checkable planning/audit step, all in exact
    integer bit arithmetic (codegen, no UDF)."""
    from ..operators.layout import interleave_bits

    events = table(spark, sf_dir, "events")
    ub = F.pmod(F.col("user_id"), F.lit(256))
    hb = F.pmod(
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000"), F.lit(256)
    )
    z = interleave_bits(ub, hb, bits=8)
    return (
        events.select(
            (z / F.lit(1024)).cast("long").alias("z_bucket"),
            ub.alias("ub"),
            hb.alias("hb"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("ub").alias("distinct_user_buckets"),
            F.count_distinct("hb").alias("distinct_hour_buckets"),
            F.min("ub").alias("min_ub"),
            F.max("ub").alias("max_ub"),
            F.min("hb").alias("min_hb"),
            F.max("hb").alias("max_hb"),
        )
        .orderBy("z_bucket")
    )


@register(
    "source_duckdb_scan",
    # the connector feeds the same rows the oracle reads natively, so the
    # aggregate must match exactly (counts are integers; money goes
    # through the fixed-point sum so partition order can't perturb it).
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_sum("o_totalprice")} AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tables=("orders",),
)
def source_duckdb_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 via the Spark 4 Python Data Source API: orders read through the
    custom ``duckdb_table`` connector (sources/duckdb_source.py) with
    JDBC-style range partitioning on o_orderkey, then aggregated. Proves
    the connector inside the correctness gate — Arrow-batched transfer,
    8-way parallel range reads, no driver-side rows.

    Scale posture: the ``query`` option projects only the 3 needed columns
    WAREHOUSE-side (the API has no automatic column pruning for Python
    sources, so projection rides the query — the BigQuery-connector
    pattern); comparison predicates push down via ``pushFilters``. The
    residual cost vs the engine reading its own file is the Python↔JVM
    Arrow hop — inherent to any out-of-process connector."""
    from ..functions.numeric import fx_sum
    from ..sources.duckdb_source import register_duckdb_source

    register_duckdb_source(spark)
    df = (
        spark.read.format("duckdb_table")
        .option(
            "query",
            "SELECT o_orderkey, o_orderstatus, o_totalprice "
            f"FROM read_parquet('{sf_dir.rstrip('/')}/orders.parquet')",
        )
        .option("partitionColumn", "o_orderkey")
        .option("numPartitions", "8")
        .load()
    )
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fx_sum(F.col("o_totalprice"), "total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "events_pit_state_join",
    # point-in-time (feature-store) join: each purchase gets the SCD2
    # state row valid AT purchase time. DuckDB states it natively with
    # ASOF JOIN over the same episode CTE.
    oracle="""
    WITH acts AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type <> 'purchase'
    ),
    flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                       LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM acts
    ),
    episodes AS (
      SELECT user_id, event_type AS state_type, MIN(ts) AS started_at
      FROM (
        -- event_id tiebreak keeps episode numbering deterministic under
        -- duplicate (user_id, ts) rows; must match the lag window's order
        SELECT user_id, event_type, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS seq
        FROM flagged
      )
      GROUP BY user_id, seq, event_type
    )
    , pit AS (
      SELECT p.event_id, p.ts, e.state_type, e.started_at
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN episodes e
        ON p.user_id = e.user_id AND e.started_at <= p.ts
    )
    SELECT COALESCE(state_type, 'none') AS state_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN started_at IS NULL THEN 0
                    ELSE epoch_us(ts) // 1000000
                         - epoch_us(started_at) // 1000000 END) AS BIGINT)
             AS total_state_age_sec
    FROM pit
    GROUP BY 1 ORDER BY 1
    """,
    tables=("events",),
)
def events_pit_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (the feature-store primitive): every purchase
    event is enriched with the SCD2 activity-state row that was valid AT
    purchase time — "what was the user doing when they bought". Training
    pipelines use exactly this shape to attach features as-of a label
    timestamp without leakage (no future state can match: the as-of is
    backward-only).

    Plan: activity episodes (non-purchase events compressed per user —
    the events_scd2_episodes build) become the version table keyed by
    started_at; the purchase side joins via the as-of operator — union +
    carry-forward window, ONE shuffle on user_id, no inequality join.
    Episode boundaries inherit the (ts, event_id)-deterministic SCD2
    sort; started_at <= purchase_ts ties match (backward ASOF)."""
    events = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    acts = events.filter(F.col("event_type") != "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = acts.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    # event_id tiebreak: under duplicate (user_id, ts) the running episode
    # number is otherwise tie-order dependent (must mirror the lag window)
    wsum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    episodes = (
        flagged.withColumn("seq", F.sum("is_new").over(wsum))
        .groupBy("user_id", "seq", F.col("event_type").alias("state_type"))
        .agg(F.min("ts").alias("ts"))
        .select("user_id", "state_type", "ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, episodes, on="ts", key="user_id",
        right_value_cols=["state_type"],
    )
    # summarize (purchases by state, exact integer state-age sums): the
    # per-purchase frame is a table you WRITE at scale — an unbounded
    # driver result would measure py4j transfer, not the join (the
    # mart_customer_first_last_order lesson); the aggregate also verifies
    # EVERY row's state assignment through exact sums, which is a
    # stronger oracle than hashing a capped sample
    age_sec = F.expr(
        "unix_micros(cast(ts as timestamp)) div 1000000"
    ) - F.expr("unix_micros(cast(ts_right as timestamp)) div 1000000")
    return (
        joined.select(
            F.coalesce(F.col("state_type_right"), F.lit("none")).alias(
                "state_type"
            ),
            F.when(F.col("ts_right").isNull(), F.lit(0))
            .otherwise(age_sec)
            .alias("age_sec"),
        )
        .groupBy("state_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("age_sec").alias("total_state_age_sec"),
        )
        .orderBy("state_type")
    )


@register(
    "source_csv_roundtrip",
    # the roundtrip is the identity on every field, so the oracle is the
    # direct aggregate over the parquet table — if Spark's CSV writer and
    # parser disagreed anywhere (quoting, timestamp text, float repr,
    # NULLs), a value would change and the hash would catch it.
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    tables=("events",),
    demo=True,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV serialization contract, in-plan: every events row is rendered
    to a CSV line with ``to_csv`` and parsed back with ``from_csv`` under
    the declared schema (sources/readers.py's no-inference discipline);
    the aggregate runs on the PARSED fields. Exercises quoting (props is
    JSON full of commas/quotes), timestamp round-trip text, and double
    round-trip — the surface a CSV landing zone depends on.

    Plan: both functions are row-local JVM expressions (one projection,
    no shuffle added); FAILFAST parse mode so a lossy round-trip fails
    loudly rather than nulling fields. The corrupt-capture PERMISSIVE
    path for real files is ``sources.readers.read_csv`` (quarantine
    semantics tested in tests/test_sources_pipelines.py)."""
    events = table(spark, sf_dir, "events")
    schema = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    # the DEFAULT timestamp text truncates to milliseconds — a silently
    # lossy round-trip for microsecond data (caught by this query's own
    # oracle on first run); pin a microsecond format on BOTH directions
    ts_opts = {"timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}
    line = F.to_csv(
        F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
        ts_opts,
    )
    parsed = events.select(line.alias("line")).select(
        F.from_csv(
            F.col("line"), F.lit(schema), {"mode": "FAILFAST", **ts_opts}
        ).alias("r")
    )
    cents = F.floor(F.col("r.value") * 100 + F.lit(0.5)).cast("long")
    return (
        parsed.groupBy(F.col("r.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("r.event_id").alias("sum_event_id"),
            F.sum(cents).alias("sum_value_cents"),
            F.min("r.ts").alias("min_ts"),
            F.max("r.ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "source_orc_roundtrip",
    # identity round-trip through the ORC columnar format: the oracle is
    # the direct aggregate over the parquet table — any type-mapping loss
    # in the ORC writer/reader (timestamp precision, double bits, string
    # encoding) changes a value and fails the hash.
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    tables=("events",),
    demo=True,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC serialization contract: events written to ORC (zlib, Spark's
    native writer — the orc-core jars ship with the distribution) and
    read back under the declared schema; the aggregate runs on the
    RE-READ frame, so timestamp_ntz precision, double bits and string
    round-trip are all on the hook. The second columnar format next to
    parquet — an exchange/landing format a warehouse migration actually
    uses. (Avro's external datasource module is NOT deployed in this
    environment — same documented boundary as Delta/Iceberg.)

    The write lands under ONE fixed per-session temp path (keyed by the
    Spark applicationId, ``mode("overwrite")``), so repeated invocations
    within a bench session reuse the same directory instead of
    accumulating copies; a production pipeline points
    ``write_orc``-style paths at the lake instead."""
    import os
    import tempfile

    events = table(spark, sf_dir, "events")
    base = os.path.join(
        tempfile.gettempdir(), f"edqp-orc-{spark.sparkContext.applicationId}"
    )
    if not os.path.exists(base):
        # drop DEAD sessions' copies (bounds disk to ~one round's worth);
        # mtime-gated so a concurrently-live session's copy survives even
        # if the one-session-at-a-time contract is violated (ADVICE r7)
        from ..session import drop_stale_session_dirs

        drop_stale_session_dirs("edqp-orc", keep=base)
    path = os.path.join(base, "events.orc")
    events.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_event_id"),
            F.sum(cents).alias("sum_value_cents"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )
