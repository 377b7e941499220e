"""QuerySpec registry backing ``__spark_entry__.py``."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None -> rows-only check
    tables: tuple[str, ...]  # inputs, for docs/bench
    doc: str = ""
    #: demo/roundtrip twin: the Spark side deliberately does work the
    #: oracle skips (a pedagogical decorrelation demo, a write+read
    #: round-trip whose oracle reads the original table). Still a real
    #: correctness-gated query, but EXCLUDED from the headline
    #: Spark-vs-DuckDB comparable aggregate — the ratio is not
    #: apples-to-apples by construction (VERDICT r6 item 3).
    demo: bool = False


def register(
    name: str,
    oracle: str | None,
    tables: tuple[str, ...],
    doc: str = "",
    demo: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name, fn, oracle, tables, doc or (fn.__doc__ or ""), demo
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules on first use so registration happens lazily
    import importlib

    for mod in (
        "dq",
        "relational",
        "events",
        "text",
        "embeddings",
        "dedup_ops",
        "streaming_ops",
        "multimodal_ops",
        "training_ops",
        "operator_ops",
        "partsupp_ops",
    ):
        try:
            importlib.import_module(f".{mod}", __package__)
        except ModuleNotFoundError as exc:
            if f"queries.{mod}" not in str(exc):
                raise  # real dependency error inside the module — surface it
    return dict(_REGISTRY)


def query_fns() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


#: the scale the external driver runs its oracle gate at — oracles that must
#: name parquet files directly (DuckDB metadata table functions can't read a
#: view's footer) embed {SF_PARQUET_DIR} and get it substituted here; the
#: no-arg call (the driver contract) binds the driver's fixed gate dir, and
#: tools/parity.py / tools/multiscale.py pass their actual sf_dir.
DRIVER_SF_DIR = "/root/testdata/sf0.01"


def oracle_sqls(sf_dir: str = DRIVER_SF_DIR) -> dict[str, str]:
    return {
        name: spec.oracle.replace("{SF_PARQUET_DIR}", sf_dir.rstrip("/"))
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per ``catalog.TABLES`` table over
    ``sf_dir`` — the database every oracle SQL runs against."""
    import duckdb

    from ..catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con
