"""Data layer: parquet-backed tables registered as views.

Replaces the reference's BigQuery datasets (``raw_adventureworks`` /
``chicory_mds_staging`` / ``chicory_mds_marts``,
``/root/reference/airflow/dags/pager-workflow.py:126,159,189``) with
DataFrames over parquet. ``footer`` is the one reader of their parquet
footers (files, row counts, integral bounds, null counts, Spark schema);
tables are read with that schema, so no schema-inference job runs, with
Spark's inference as the fallback where the footers cannot prove it.
``footer_of`` gives a DataFrame's snapshot when a scan of it would read
exactly those footers' files. ``EXPECTED_SCHEMAS``
documents the contract (FIXTURES.md) that ``dq_schema_audit`` checks.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import configure_session

EXPECTED_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


TABLES: tuple[str, ...] = tuple(EXPECTED_SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _fix_events_ts(df: DataFrame) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives as
    long nanoseconds. Truncate to micros and present as TIMESTAMP_NTZ —
    exactly what DuckDB (and any µs engine) sees."""
    from pyspark.sql import functions as F

    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


#: Footer facts are derived for at most this many files (a bounded
#: driver-side read at any scale).
MAX_FOOTER_FILES = 256

#: Spark types the footer mapping is proven exact for (arrays of them too).
_EXACT_TYPES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.DateType,
    T.TimestampType, T.TimestampNTZType,
)


@dataclass(frozen=True)
class Footer:
    """One table's parquet footers: ``metadata`` holds each data file's
    pyarrow ``FileMetaData``; ``rows`` is ``None`` without files; ``bounds``
    maps integral columns to their exact (min, max), ``(None, None)`` when
    empty; ``nulls`` maps flat top-level columns to their exact null count;
    ``schema`` is ``None`` when the footers cannot prove it."""

    files: tuple[str, ...]
    metadata: tuple
    rows: int | None
    bounds: dict
    nulls: dict
    schema: T.StructType | None


def footer(sf_dir: str, name: str) -> Footer:
    """Read table ``name``'s footers now (< 1 ms per file). Nothing is
    memoized, so a table rewritten in place is never seen stale. Files are
    listed as Spark lists them: recursively, skipping ``_`` and ``.`` names.

    The schema is what ``spark.read.parquet`` infers under the engine's
    confs (``nanosAsLong``: TIMESTAMP(NANOS) is a long; NTZ inference on).
    It is ``None``, leaving the schema to Spark's inference, for an absent
    or non-local path, sub-directories (hive partitions), more than
    ``MAX_FOOTER_FILES`` files, files whose schemas differ, an INT96
    column, or any type outside ``_EXACT_TYPES``."""
    return _snapshot(table_path(sf_dir, name))


def _snapshot(path: str) -> Footer:
    import pyarrow.parquet as pq

    files, nested = [path] if os.path.isfile(path) else [], False
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[0] not in "_.")
        nested = nested or bool(dirs)
        files += [os.path.join(root, f) for f in sorted(names) if f[0] not in "_."]
    metadata = tuple(pq.read_metadata(f) for f in files)
    exact = 0 < len(files) <= MAX_FOOTER_FILES
    schemas = {_spark_schema(md) for md in metadata} if exact and not nested else ()
    return Footer(
        files=tuple(files),
        metadata=metadata,
        rows=sum(md.num_rows for md in metadata) if files else None,
        bounds=_int_bounds(metadata) if exact else {},
        nulls=_null_counts(metadata) if exact else {},
        schema=next(iter(schemas)) if len(schemas) == 1 else None,
    )


def _exact(dt: T.DataType) -> T.DataType | None:
    """``dt`` nullable at every level, as Spark's file sources read it, or
    ``None`` outside ``_EXACT_TYPES``."""
    if isinstance(dt, T.ArrayType):
        elem = _exact(dt.elementType)
        return None if elem is None else T.ArrayType(elem, True)
    return dt if isinstance(dt, _EXACT_TYPES) else None


def _spark_schema(md) -> T.StructType | None:
    """One file's Spark schema, or ``None`` when it is not provably exact."""
    from pyspark.sql.pandas.types import from_arrow_schema

    cols = [md.schema.column(j) for j in range(md.num_columns)]
    if any(c.physical_type == "INT96" for c in cols):
        return None  # Arrow calls it timestamp[ns]; Spark, a timestamp
    # so NANOS is keyed on the parquet logical type, never the Arrow unit
    nanos = {
        c.path
        for c in cols
        if c.logical_type.type == "TIMESTAMP"
        and json.loads(c.logical_type.to_json())["timeUnit"] == "nanoseconds"
    }
    try:
        arrow = from_arrow_schema(md.schema.to_arrow_schema(), True)
        # Spark reads the files it wrote with the schema stored in them
        stored = (md.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        stored = stored and T.StructType.fromJson(json.loads(stored))
    except Exception:  # a type pyarrow or PySpark cannot map: unprovable
        return None
    types = [T.LongType() if f.name in nanos else _exact(f.dataType) for f in arrow]
    if nanos - set(arrow.names) or None in types:  # a nested NANOS column too
        return None
    schema = T.StructType([T.StructField(f.name, t) for f, t in zip(arrow, types)])
    if stored and [(f.name, _exact(f.dataType), f.metadata) for f in stored] != [
        (f.name, f.dataType, {}) for f in schema
    ]:
        return None  # char/varchar, collations, field metadata
    return schema


def _int_bounds(metadata) -> dict:
    """Exact (min, max) per integral column from column-chunk statistics;
    a column is left out when any chunk holding values lacks them."""
    found, unproven = {}, set()
    for md in metadata:
        for j in range(md.num_columns):
            col = md.schema.column(j)
            found.setdefault(col.path, [])
            if col.physical_type not in ("INT32", "INT64") or (
                col.logical_type.type not in ("NONE", "INT")
            ):
                unproven.add(col.path)
            for i in range(md.num_row_groups):
                chunk = md.row_group(i).column(j)
                st = chunk.statistics
                if not (chunk.num_values if st is None else st.num_values):
                    continue  # no values: an empty or all-NULL chunk
                if st is None or not st.has_min_max:
                    unproven.add(col.path)
                elif col.path not in unproven:
                    found[col.path] += [st.min, st.max]
    return {
        c: (min(v), max(v)) if v else (None, None)
        for c, v in found.items()
        if c not in unproven
    }


def _null_counts(metadata) -> dict:
    """Exact null count per flat top-level column; a column is left out
    when any chunk lacks a ``null_count`` statistic."""
    found, unproven = {}, set()
    for md in metadata:
        for j in range(md.num_columns):
            col = md.schema.column(j)
            if col.path != col.name or col.max_repetition_level:
                unproven.add(col.path)  # nested: leaf nulls are not row nulls
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                if st is None or not st.has_null_count:
                    unproven.add(col.path)
                else:
                    found[col.path] = found.get(col.path, 0) + st.null_count
    return {c: n for c, n in found.items() if c not in unproven}


def footer_of(df: DataFrame) -> Footer | None:
    """The snapshot of the files ``df`` reads, when its footers are exactly
    what a scan of ``df`` would see; otherwise ``None``.

    Exactness condition: ``df``'s analyzed plan is one bare parquet
    ``LogicalRelation`` (no filter, projection or partition columns) over
    one local root; the snapshot of that root has a proven schema equal to
    ``df.schema``; and the files the relation listed (``df.inputFiles()``)
    are the snapshot's files with the same size and modification time, so
    no file was rewritten since ``df`` was read."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if (
            rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().toString() != "Parquet"
            or rel.partitionSchema().length()
            or rel.location().rootPaths().size() != 1
        ):
            return None
        root = rel.location().rootPaths().head().toUri()
        listed = rel.location().allFiles()
        listed = {
            st.getPath().toUri().getPath(): (st.getLen(), st.getModificationTime())
            for st in (listed.apply(i) for i in range(listed.size()))
        }
    except Exception:  # py4j: not a file-index relation
        return None
    if root.getScheme() != "file":
        return None
    try:
        snap = _snapshot(root.getPath())
        stats = [os.stat(f) for f in snap.files]  # after the footer reads
    except (OSError, ValueError):
        return None
    now = {f: (st.st_size, st.st_mtime_ns // 1_000_000) for f, st in zip(snap.files, stats)}
    if not snap.files or snap.schema != df.schema or now != listed:
        return None
    return snap


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table as stored (events.ts not normalized): read with the footer
    schema, so no schema-inference job runs, unless the footers cannot
    prove it or the session's parquet confs are not the engine's."""
    schema = None
    nanos_as_long = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    if nanos_as_long == ntz == "true":
        try:
            schema = footer(sf_dir, name).schema
        except (OSError, ValueError):  # not parquet: let Spark report it
            pass
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(table_path(sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = raw_table(spark, sf_dir, name)
    return _fix_events_ts(df) if name == "events" else df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Timestamp parity: UTC session TZ is (re)applied so
    LTZ interpretation can't drift from the oracle."""
    configure_session(spark)
    return _read(spark, sf_dir, name)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Read all tables and register them as temp views so both the DataFrame
    API and ``spark.sql`` can address them."""
    configure_session(spark)
    out: dict[str, DataFrame] = {}
    for name in names:
        out[name] = _read(spark, sf_dir, name)
        out[name].createOrReplaceTempView(name)
    return out
