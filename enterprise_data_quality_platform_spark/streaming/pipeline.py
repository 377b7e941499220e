"""Structured Streaming layer (SURVEY.md §2.4 T1-T7).

Replaces the reference's poll-and-revalidate pattern — trigger dbt,
``time.sleep(120)``, re-run validation SQL
(``/root/reference/airflow/dags/pager-workflow.py:292-325``) — with
event-time streaming:

- the hardcoded 120s barrier becomes a **watermark** (T5): lateness is a
  declared bound, not a sleep;
- the re-validation task becomes a **foreachBatch DQ gate** (T7): the same
  compiled check suite from ``checks/`` runs per micro-batch and yields a
  per-batch summary. The gate itself neither alerts nor raises; a caller's
  ``on_batch_results`` hook can append alerts (``alerts.py``, idempotent by
  incident_key) or raise.

Tests drive these with Trigger.AvailableNow over the events parquet, which
exercises identical code paths to a live file/kafka source.
"""

from __future__ import annotations

import tempfile
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import raw_table
from ..checks import Check, run_suite
from ..checks.definitions import CheckResult
from ..session import configure_session

#: RocksDB-backed streaming state (Spark ≥3.2, rocksdbjni ships with the
#: distribution). The 100 TB posture for stateful streams: state lives
#: off-heap/on-disk per executor instead of in the JVM heap (HDFS-backed
#: provider keeps every key in memory — GC death once sessionization or
#: dedup state outgrows the executors), and changelog checkpointing ships
#: per-batch deltas instead of full snapshots. Same results, pinned by
#: tests/test_streaming.py::test_rocksdb_state_store_parity.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(
    spark: SparkSession, changelog_checkpointing: bool = True
) -> SparkSession:
    """Route stateful streaming queries STARTED AFTER this call to the
    RocksDB state store provider (the provider is bound per-query at
    start from the session conf; running queries keep theirs)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true" if changelog_checkpointing else "false",
    )
    return spark


def run_available_now(
    writer: DataStreamWriter, checkpoint_dir: str | None = None
) -> StreamingQuery:
    """Start ``writer`` with Trigger.AvailableNow (checkpointed in
    ``checkpoint_dir``, else a fresh temp dir) and wait until it has
    processed every input available at start."""
    query = (
        writer.trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="edqp-ckpt-"),
        )
        .start()
    )
    query.awaitTermination()
    return query


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """T1: file-based streaming source over the events table.

    The declared read schema is the table's footer schema, so ts keeps its
    stored representation (TIMESTAMP(NANOS) is a long under ``nanosAsLong``,
    as in the batch reader's ``catalog._fix_events_ts``), and is normalized
    to LTZ TIMESTAMP in the stream — watermarks require LTZ, and the UTC
    session TZ makes wall-clock values match the batch/NTZ side exactly."""
    configure_session(spark)
    from pyspark.sql import types as T

    schema = raw_table(spark, sf_dir, "events").schema
    ts_type = schema["ts"].dataType
    if not isinstance(ts_type, (T.LongType, T.TimestampType, T.TimestampNTZType)):
        raise TypeError(f"unsupported events.ts parquet type: {ts_type}")
    # the file stream source needs a directory; glob-filter to the events
    # table inside the sf dir
    reader = spark.readStream.schema(schema).option(
        "pathGlobFilter", "events.parquet"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(sf_dir)
    if isinstance(ts_type, T.LongType):  # TIMESTAMP(NANOS) via nanosAsLong
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def rate_events_stream(
    spark: SparkSession,
    rows_per_second: int = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """T1 (non-file source): a ``rate``-source stream shaped like the
    events table — the demo/load-test twin of ``events_stream`` and the
    structural stand-in for a Kafka topic (same downstream code: every
    operator below consumes either). Synthetic fields are deterministic
    functions of the rate source's monotonically increasing ``value``
    column, so output is reproducible for a given trigger window."""
    reader = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    )
    if num_partitions:
        reader = reader.option("numPartitions", num_partitions)
    raw = reader.load()  # columns: timestamp, value
    return shape_rate_events(raw)


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    drop_corrupt: bool = True,
) -> DataFrame:
    """T1 (Kafka source): ``format("kafka")`` wiring for the events topic —
    the production twin of the reference's event-driven failure fan-out
    (``repository_dispatch`` webhooks,
    ``/root/reference/.github/workflows/Dag_Fail_Alert.yml:4-6``). Every
    downstream operator in this module consumes the result unchanged.

    The sandbox has no broker (and no spark-sql-kafka package), so this
    function is config wiring; the value decoding lives in
    ``parse_kafka_events`` which is unit-tested on static broker-shaped
    frames. Options follow the public spark-sql-kafka surface:
    ``maxOffsetsPerTrigger`` bounds per-micro-batch intake (the Kafka
    analogue of maxFilesPerTrigger), ``startingOffsets`` picks
    earliest/latest/per-partition JSON."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return parse_kafka_events(reader.load(), drop_corrupt=drop_corrupt)


#: JSON value schema for events records on the wire. ``ts`` arrives as a
#: string: ISO-8601 or epoch milliseconds both decode (producers disagree).
EVENTS_WIRE_SCHEMA = (
    "event_id long, ts string, user_id long, event_type string, "
    "value double, props string"
)


def parse_kafka_events(raw: DataFrame, drop_corrupt: bool = True) -> DataFrame:
    """Decode broker-shaped rows (binary ``value`` + broker ``timestamp``)
    into the events schema — split from the source so it is testable
    without a broker, exactly like ``shape_rate_events``.

    Decoding rules:
    - value parses with ``from_json`` against ``EVENTS_WIRE_SCHEMA``
      (permissive: malformed JSON → null struct);
    - event time: ISO-8601 ``ts`` or epoch-millis ``ts``, else the broker
      timestamp (late-arrival-safe default, never null);
    - ``drop_corrupt=True`` filters undecodable rows (the DQ gate can
      count them upstream via a parallel query on the raw frame);
      ``False`` keeps them with null event_id for quarantine sinks."""
    e = F.from_json(F.col("value").cast("string"), EVENTS_WIRE_SCHEMA)
    parsed = raw.select(
        e.alias("e"), F.col("timestamp").alias("_broker_ts")
    ).select(
        F.col("e.event_id").alias("event_id"),
        F.coalesce(
            F.try_to_timestamp(F.col("e.ts")),
            F.timestamp_millis(F.col("e.ts").try_cast("long")),
            F.col("_broker_ts"),
        ).alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )
    if drop_corrupt:
        parsed = parsed.filter(F.col("event_id").isNotNull())
    return parsed


def shape_rate_events(raw: DataFrame) -> DataFrame:
    """Map a rate-source frame (timestamp, value) to the events schema —
    split out so the transform is testable on a static batch twin."""
    types = F.array(
        F.lit("view"), F.lit("click"), F.lit("purchase"), F.lit("signup"), F.lit("error")
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.pmod(F.xxhash64(F.col("value")), F.lit(1000)).alias("user_id"),
        types[F.pmod(F.col("value"), F.lit(5)).cast("int")].alias("event_type"),
        (F.pmod(F.xxhash64(F.col("value"), F.lit(1)), F.lit(10000)) / 100.0).alias(
            "value"
        ),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


def streaming_tumbling_counts(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """T2+T5: watermarked tumbling hourly aggregate. Late rows beyond the
    watermark are dropped — the declarative form of the reference's fixed
    120s lateness allowance."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


def streaming_sliding_counts(
    stream: DataFrame,
    duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T3: watermarked sliding-window aggregate — the streaming twin of the
    batch ``events_sliding_windows`` oracle query (queries/events.py).
    ``window()`` fans each event into duration/slide overlapping windows
    before the shuffle; state per window is bounded by the watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(F.col("window.start").alias("window_start"), "event_count")
    )


def streaming_session_windows(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """T4: native session windows (30-min gap), the streaming twin of the
    batch gaps-and-islands query (queries/events.py)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "event_count",
        )
    )


def streaming_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T6: stateful dedup on the event key, state bounded by the watermark."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_incident_tracker(
    stream: DataFrame,
    threshold: float = 150.0,
    resolve_below: float | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: the
    reference's PagerDuty incident_key lifecycle
    (``pager-workflow.py:247-267`` trigger / suppress-while-open / resolve,
    ``alerts.py`` batch semantics) as a per-key streaming state machine —
    not expressible with built-in windows/dedup because the open-incident
    bit must carry across micro-batches.

    Per event_type: an event with value > ``threshold`` TRIGGERS an
    incident unless one is open (suppression = the reference's idempotent
    incident_key); an event with value <= ``resolve_below`` (default: the
    threshold — pure hysteresis off) RESOLVES it. Emits only transition
    rows. State per key is a single boolean — O(|keys|), watermark-free.

    Scale/impl notes: events are processed in (ts, event_id) order within
    each micro-batch; cross-batch order is source order, matching the
    reference's poll-loop arrival semantics. With resolve_below ==
    threshold the post-event state equals ``value > threshold``
    memorylessly, so the transition scan vectorizes (numpy shift) instead
    of folding row-by-row in Python; the hysteresis case falls back to the
    per-row fold. Arrow-batched either way.
    """
    import pandas as pd

    resolve_at = threshold if resolve_below is None else resolve_below
    if resolve_at > threshold:
        raise ValueError("resolve_below must not exceed threshold")

    def track(key, pdf_iter, state) -> "pd.DataFrame":
        (etype,) = key
        open_ = state.get[0] if state.exists else False
        outs = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            vals = pdf["value"].to_numpy()
            if resolve_at == threshold:
                # memoryless: state after event i is vals[i] > threshold
                was_open = pdf["value"].gt(threshold).shift(
                    1, fill_value=open_
                )
                trig = (vals > threshold) & ~was_open.to_numpy()
                reso = (vals <= resolve_at) & was_open.to_numpy()
                if len(vals):
                    open_ = bool(vals[-1] > threshold)
            else:
                trig = [False] * len(vals)
                reso = [False] * len(vals)
                for i, v in enumerate(vals):
                    if v > threshold and not open_:
                        trig[i] = open_ = True
                    elif v <= resolve_at and open_:
                        reso[i] = True
                        open_ = False
            emit = pdf.loc[[t or r for t, r in zip(trig, reso)],
                           ["ts", "event_id", "value"]].copy()
            emit.insert(0, "event_type", etype)
            emit["action"] = [
                "trigger" if t else "resolve"
                for t, r in zip(trig, reso)
                if t or r
            ]
            if len(emit):
                outs.append(emit)
        state.update((bool(open_),))
        yield pd.concat(outs) if outs else pd.DataFrame(
            columns=["event_type", "ts", "event_id", "value", "action"]
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        track,
        outputStructType=(
            "event_type string, ts timestamp, event_id long, "
            "value double, action string"
        ),
        stateStructType="open boolean",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def run_streaming_dq_gate(
    spark: SparkSession,
    sf_dir: str,
    checks: Sequence[Check],
    on_batch_results: Callable[[int, list[CheckResult]], None] | None = None,
    checkpoint_dir: str | None = None,
) -> list[dict]:
    """T7: the foreachBatch DQ gate, run to completion with AvailableNow.

    Each micro-batch runs the compiled check suite (fused scans, isolation —
    same engine as batch) and records a per-batch summary row; a caller
    hook receives the raw results (e.g. to append alerts). Returns the
    batch summaries."""
    from ..checks.runner import summarize

    summaries: list[dict] = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        results = run_suite({"events": batch_df}, list(checks))
        if on_batch_results is not None:
            on_batch_results(batch_id, results)
        s = summarize(results)
        s["batch_id"] = batch_id
        s["rows"] = batch_df.count()
        summaries.append(s)

    stream = events_stream(spark, sf_dir)
    run_available_now(stream.writeStream.foreachBatch(handle), checkpoint_dir)
    return summaries


def streaming_static_enrich(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """T8 (stream-static join): enrich each event with a batch-computed
    per-user dimension row — the streaming form of the reference's pattern
    of validating fresh rows against an already-materialized reference
    table (``pager-workflow.py`` re-validates the refreshed mart against
    static expectations).

    The static side is re-planned per micro-batch by Spark (so a refreshed
    dim parquet is picked up), the join is stateless (no watermark needed
    for inner stream-static), and at scale the dim side is whatever join
    strategy Catalyst picks for its size — broadcast for a small profile
    table, shuffle otherwise. Inner join: events from users missing in the
    dim are dropped (the DQ gate counts them upstream)."""
    return stream.join(dim, "user_id")


def first_seen_dim(events: DataFrame) -> DataFrame:
    """Batch per-user first-seen profile — the static side for
    ``streaming_static_enrich``. One map-combined groupBy."""
    return events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))


def _click_purchase_join(
    stream: DataFrame, max_gap: str, watermark: str, how: str
) -> DataFrame:
    """Watermarked click and purchase sides of ``stream``, joined on the
    same user and ``click_ts <= purchase_ts <= click_ts + max_gap``."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user_id = p_user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {max_gap}"
        ),
        how,
    )


def streaming_click_purchase_pairs(
    stream: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """T9 (stream-stream join): purchases matched to every prior click by
    the same user within ``max_gap`` — the interval self-join that powers
    conversion attribution on a live stream.

    Both sides carry watermarks and the join condition carries the
    event-time range, so Spark bounds the join state: a buffered click can
    be evicted once the purchase-side watermark passes click_ts + max_gap
    (state is O(events within the gap window), not O(stream)). Inner join
    in append mode — for a finite AvailableNow run the emitted pairs equal
    the batch interval join exactly (oracle-checked). The gap is reported
    in exact integer seconds so no float crosses the compare."""
    pairs = _click_purchase_join(stream, max_gap, watermark, "inner")
    return pairs.select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("gap_seconds"),
    )


def streaming_upsert_sink(
    stream: DataFrame,
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    checkpoint_dir: str | None = None,
    date_col: str | None = None,
):
    """T10 (streaming → serving table): keep a keyed parquet table current
    from a stream via ``foreachBatch`` + ``merge_upsert`` — the streaming
    form of the reference's refresh-then-revalidate loop, and the pattern
    that turns an append-only event stream into an upsert-maintained
    dimension/state table.

    Per micro-batch: rows are deduplicated to the LAST event per key
    (max_by over event time, so a batch carrying several updates for one
    key lands its latest — the caller contract merge_upsert requires),
    then merged. Restart safety: the checkpoint replays an uncommitted
    batch; replaying the same batch re-merges the same keys to the same
    values, so the sink is effectively idempotent (exactly-once table
    state from at-least-once batch delivery). Runs with AvailableNow and
    returns after completion."""
    from ..sources.writers import merge_upsert

    key_list = list(keys)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        others = [c for c in batch_df.columns if c not in key_list]
        latest = batch_df.groupBy(*key_list).agg(
            *[
                F.max_by(c, F.struct(F.col("ts"), F.col("event_id"))).alias(c)
                for c in others
            ]
        )
        merge_upsert(spark, latest, path, keys=key_list, date_col=date_col)

    return run_available_now(stream.writeStream.foreachBatch(handle), checkpoint_dir)


def streaming_click_conversion_outer(
    stream: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """T9b (stream-stream LEFT OUTER): every click, matched to a purchase
    within ``max_gap`` — or emitted with NULL purchase once the watermark
    proves no match can still arrive. The outer side is what funnels
    actually need: the UNconverted clicks are the product signal.

    Semantics under the hood (pinned by test): matched pairs emit as soon
    as both rows are buffered, but a null-extended click can only emit
    when the PURCHASE-side watermark passes ``click_ts + max_gap`` —
    until then Spark must hold the click in state because a matching
    purchase may still arrive. So unmatched emission lags by watermark
    delay + one batch, and a click near the end of a finite run stays
    unemitted: correct, not a bug — the stream hasn't proven the
    negative yet. State stays bounded exactly as the inner variant."""
    pairs = _click_purchase_join(stream, max_gap, watermark, "leftOuter")
    return pairs.select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("purchase_ts").isNotNull().alias("converted"),
    )
