"""Registry mapping query name → (Spark callable, DuckDB oracle SQL).

Contract (driver verify): each Spark callable takes ``(spark, sf_dir)`` and
returns a DataFrame whose column names match the oracle SQL's aliases — the
driver sorts columns by name before value-hashing, so every computed column
is aliased identically on both sides. Each call builds a fresh lazy plan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and its DuckDB oracle, if SQL-expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
