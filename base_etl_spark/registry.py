"""Query registry: one decorator keeps each Spark query and its DuckDB
oracle SQL side-by-side, so a key can never exist on one side only
(SURVEY §3 E2).

Usage::

    @query("agg_pricing", oracle="SELECT ... FROM lineitem ...")
    def agg_pricing(t: Tables) -> DataFrame:
        return t.lineitem...

Keys with ``oracle=None`` are rows-only checks (SURVEY §2 'R' rows).

``queries()`` and ``oracle_sql()`` return keys in registration order:
operator modules in ``base_etl_spark.operators`` import order, then
declaration order within each module.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from base_etl_spark.io import Tables, load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn  # (spark, sf_dir) -> DataFrame
    oracle: str | None  # DuckDB SQL, or None for rows-only keys
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def query(key: str, oracle: str | None = None) -> Callable:
    """Register a (Tables -> DataFrame) function under ``key``."""

    def deco(fn: Callable[[Tables], DataFrame]) -> QueryFn:
        if key in REGISTRY:
            raise ValueError(f"duplicate query key: {key}")

        def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(load_tables(spark, sf_dir))

        runner.__name__ = fn.__name__
        runner.__doc__ = fn.__doc__
        # raw (Tables -> DataFrame) body, so tests can drive the same
        # code path over hand-built edge-case frames (SURVEY §5.4)
        runner.tables_fn = fn
        REGISTRY[key] = QuerySpec(key, runner, oracle, fn.__doc__ or "")
        return runner

    return deco


def _ensure_loaded() -> None:
    # importing the package registers every operator module's queries
    import base_etl_spark.operators  # noqa: F401


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {k: s.fn for k, s in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {k: s.oracle for k, s in REGISTRY.items() if s.oracle is not None}
