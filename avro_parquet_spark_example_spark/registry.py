"""Query registry — the engine's declared operator inventory.

Every operator from SURVEY.md §2 registers itself here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` re-exports this registry
to the driver; the driver hash-compares each pair at sf=0.01.

Registration is decorator-based so each operator module stays self-contained:

    @register("agg_scan_group", oracle="SELECT ...")
    def agg_scan_group(spark, sf_dir):
        return load(spark, sf_dir, "lineitem").filter(...)...

Oracle-alignment rules (SURVEY.md §5) enforced by convention in every query:
alias every computed column identically on both sides; normalize events.ts;
deterministic tiebreakers on every window orderBy / LIMIT; round float
aggregates on both sides; cast JSON extracts on both sides.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from avro_parquet_spark_example_spark.session import (
    configure,
    session_state,
    verify_events_readable,
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver runs rows-only check
    doc: str


_REGISTRY: dict[str, Query] = {}

#: Modules that register queries on import (one per SURVEY.md §2 group).
_QUERY_MODULES = [
    "avro_parquet_spark_example_spark.sources.scans",
    "avro_parquet_spark_example_spark.operators.projection",
    "avro_parquet_spark_example_spark.operators.joins",
    "avro_parquet_spark_example_spark.operators.tpch",
    "avro_parquet_spark_example_spark.operators.timeseries",
    "avro_parquet_spark_example_spark.operators.aggregates",
    "avro_parquet_spark_example_spark.operators.windows",
    "avro_parquet_spark_example_spark.functions.scalar",
    "avro_parquet_spark_example_spark.functions.udfs",
    "avro_parquet_spark_example_spark.streaming.windows",
    "avro_parquet_spark_example_spark.streaming.stateful",
    "avro_parquet_spark_example_spark.operators.dedup",
    "avro_parquet_spark_example_spark.operators.simsearch",
    "avro_parquet_spark_example_spark.operators.multimodal",
    "avro_parquet_spark_example_spark.operators.text_analysis",
    "avro_parquet_spark_example_spark.operators.clustering",
    "avro_parquet_spark_example_spark.operators.graph",
    "avro_parquet_spark_example_spark.operators.curation",
    "avro_parquet_spark_example_spark.operators.entity",
    "avro_parquet_spark_example_spark.operators.mining",
    "avro_parquet_spark_example_spark.operators.inference",
    "avro_parquet_spark_example_spark.operators.rankstats",
    "avro_parquet_spark_example_spark.operators.survival",
    "avro_parquet_spark_example_spark.operators.features",
    "avro_parquet_spark_example_spark.sources.python_datasource",
    "avro_parquet_spark_example_spark.sources.avro_datasource",
]

_LOADED = False


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def register(name: str, oracle: str | None = None):
    """Register ``fn`` as the named query; ``oracle`` is DuckDB SQL or None."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def _wrap(q: Query) -> Callable[[SparkSession, str], DataFrame]:
    """``q.fn`` behind the session's plan cache: each ``(sf_dir, name)``
    builds at most once per session, even when threads race, until
    ``session.release``. Caching the plan handle skips Catalyst analysis on
    repeated calls. Those reuse the SAME RDD DAG, and the DAGScheduler skips
    shuffle map stages whose outputs are registered, so a repeated shuffle
    query re-runs only its post-shuffle stages; timings that need full
    re-execution (bench "fresh", scale-up) call ``q.fn`` directly. The
    events read-type probe (round-3 postmortem) runs once per ``sf_dir``."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        state = session_state(spark)

        def build() -> DataFrame:
            configure(spark)
            state.get(
                state.probed, sf_dir, lambda: verify_events_readable(spark, sf_dir)
            )
            return q.fn(spark, sf_dir)

        return state.get(state.plans, (sf_dir, q.name), build)

    run.__name__ = q.name
    run.__doc__ = q.doc
    return run


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name → callable(spark, sf_dir) for every registered operator."""
    _load_all()
    return {name: _wrap(q) for name, q in sorted(_REGISTRY.items())}


def all_oracle_sql() -> dict[str, str]:
    """name → DuckDB oracle SQL for every SQL-expressible registered operator."""
    _load_all()
    return {name: q.oracle for name, q in sorted(_REGISTRY.items()) if q.oracle}


def get_query(name: str) -> Query:
    _load_all()
    return _REGISTRY[name]
