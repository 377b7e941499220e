"""SparkSession construction tuned for the engine.

The reference has no in-process engine (all SQL is shipped to BigQuery,
``/root/reference/airflow/dags/pager-workflow.py:120-126``); here the session
IS the engine. Defaults follow the 100TB posture of SURVEY.md §4.3: AQE on
(runtime coalesce + skew-join splitting), UTC session time zone (timestamp
parity with the DuckDB oracle and any external warehouse), Arrow transfer for
the pandas boundary.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Runtime-settable confs applied to *any* session handed to us (see
# ``configure_session``) — safe after JVM start.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Keep Spark's default parallelism-first coalesce. The size-first
    # alternative (false, 64 MB targets) was measured WORSE here: shuffle
    # bytes undercount downstream compute, so a 17 MB compressed
    # per-customer aggregate coalesced to ONE task that then ran the final
    # 1.5M-key agg + join + window serially (mart_topk_customers 4.0 s vs
    # 1.25 s, rollup 2.05 s vs 1.18 s at sf10; sf0.1 headline total
    # unchanged). minPartitionSize (1 MB default) still collapses KB-sized
    # stages to one task either way.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime-size-decided broadcast ceiling. The STATIC threshold stays at
    # the 10 MB default (file sizes overestimate filtered inputs), but when
    # AQE has the measured post-filter size in hand, converting an SMJ whose
    # build side is ≤64 MB into a broadcast join is safe at any scale: a
    # side that grows past the ceiling at 100 TB simply stays SMJ. This is
    # what turns the Q5/Q12/Q17 shapes' filtered-orders side into the hash
    # build DuckDB picks, without ever hinting a scale-growing table.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "67108864",
    # Runtime bloom-filter join pruning (InjectRuntimeFilter): build a
    # bloom over the filtered build side's join keys and push it into the
    # probe side's scan — cuts the probe-side shuffle write by the build
    # filter's selectivity (the Q5/Q10/Q7 fact⋈filtered-fact shapes).
    # Spark enables the rule by default but gates the probe side at 10 GB,
    # which a 100 TB fact trivially passes while the test tiers never do —
    # so the local plan silently DIVERGED from the at-scale plan. 128 MB
    # aligns them (sf10 facts qualify; unit-test SFs still skip it).
    # Creation side opened to 256 MB (the post-pruning estimate of a
    # year-filtered orders slice; the bloom itself stays maxNumItems-
    # bounded, never broadcast-sized). Measured at sf10 (medians of 3,
    # alternating in-session): local_supplier_volume 5.72→4.04 s,
    # nation_trade_volume 3.76→3.18, returned_revenue 4.12→3.84,
    # large_volume_customers 3.29→2.96, pit_state_join/small_qty/
    # supplier_part_counts −0.1..−0.3 s each; one regression
    # (sole_late_supplier +0.6 s — its 'F'-status build filter is ~50%
    # selective, so the bloom prunes little) is far outweighed.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "134217728b",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "268435456b",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems": "8000000",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # NOTE on scan splits: spark.sql.files.minPartitionNum already defaults
    # to leafNodeDefaultParallelism (= core count in local mode), so small
    # inputs fan out to ≥cores splits out of the box — an explicit 2×cores
    # override A/B'd at sf10 as pure noise (PERF.md round-5 ledger); the
    # 128 MiB maxPartitionBytes ceiling is the 100 TB-relevant bound.
    # The events table carries TIMESTAMP(NANOS) parquet, which Spark 4
    # rejects by default; read as long and convert (catalog._fix_events_ts).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Confs that must be set before the session exists.
BUILD_CONFS: dict[str, str] = {
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB scan splits
    "spark.ui.enabled": "false",
    # local mode runs driver + all executor threads in ONE JVM; the 1g
    # default heap GC-throttles every job (~2x on short jobs, measured).
    # On a real cluster this maps to ordinary driver/executor sizing.
    "spark.driver.memory": os.environ.get("EDQP_DRIVER_MEMORY", "16g"),
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "edqp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session with engine defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster callers should size it to ~2-3x total executor cores (or rely on
    AQE coalesce, which is enabled).
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
    )
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS, **(confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def drop_stale_session_dirs(prefix: str, keep: str, max_age_hours: float = 6.0) -> None:
    """Best-effort cleanup of per-session temp dirs (``<tmp>/<prefix>-<appId>``)
    left behind by DEAD sessions, without racing a live one.

    One-session-at-a-time is the repo's documented execution contract, but it
    was previously unenforced here: an unconditional delete of every
    non-current dir would rm-rf a concurrently running session's live copy
    (e.g. pytest while a bench session is up — ADVICE r7). The mtime gate
    makes the cleanup safe under that violation: a live session's dir was
    written this session (mtime minutes old), so only dirs older than
    ``max_age_hours`` — which no live local session plausibly is — are
    removed. Never raises; disk bounded to ~one round's worth of copies.
    """
    import glob
    import shutil
    import tempfile
    import time as _time

    cutoff = _time.time() - max_age_hours * 3600
    for stale in glob.glob(os.path.join(tempfile.gettempdir(), f"{prefix}-*")):
        if stale == keep:
            continue
        try:
            if os.path.getmtime(stale) < cutoff:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass


def configure_session(spark: SparkSession, force: bool = False) -> SparkSession:
    """Apply runtime confs to an externally-provided session (e.g. the
    driver's). Only touches confs that are settable post-start.

    Applies ONCE per session (marker conf) unless ``force``: this is
    called from every ``catalog.table()`` read, and re-applying on each
    read silently REVERTED any conf a caller had tuned in between — found
    live in r8 when a probe set the AQE broadcast ceiling to -1, read a
    table, and got a broadcast join anyway (PERF.md r8 skew-demo gotcha
    1). A user who tunes a conf after the first read now keeps it; the
    engine's defaults still land exactly once on any session handed in."""
    if not force and spark.conf.get("spark.edqp.sessionConfigured", "false") == "true":
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; keep going
    try:
        spark.conf.set("spark.edqp.sessionConfigured", "true")
    except Exception:
        pass
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """A small driver-built frame (report rows, alert rows, broadcast
    dims) that plans as a ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` goes through ``parallelize``
    into a ``PipelinedRDD``, so its first action forks ``pyspark.daemon``
    and Python workers (~2 s on a cold session, ~0.4 s after). Handing
    Spark a ``pyarrow.Table`` instead ships the rows to the JVM once; the
    frame then needs no job and no Python worker to read. ``schema`` is a
    ``StructType`` or a DDL string. Each row is checked against it first,
    as ``createDataFrame`` does: pyarrow would coerce e.g. an ``int`` into
    a ``double`` field, and it builds a non-nullable field holding
    ``None``, which Spark only rejects later with a bare Arrow cast error.
    Each row is then converted with ``schema.toInternal``, so dates and
    timestamps (naive ones in the process's local time) land on the same
    values the list path stored."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) if internal else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
