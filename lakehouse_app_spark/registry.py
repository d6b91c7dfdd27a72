"""Query registry: the engine's declared, oracle-checked surface.

Each operator from SURVEY.md §2.2 registers a named query builder
(callable ``(spark, sf_dir) -> DataFrame``) and the DuckDB SQL oracle
that reproduces its result exactly.
``__spark_entry__.py`` exposes these to the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[[Any, str], Any]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str):
    """Register a query builder with its exact DuckDB oracle.

    The registered callable goes through the prepared-plan cache
    (runtime_cache.prepared_plan): pure plan builders are analyzed
    once per (session, sf_dir) and the immutable DataFrame replayed;
    builders that schedule jobs at build time are never cached.
    """

    def deco(fn):
        import functools

        from lakehouse_app_spark.runtime_cache import prepared_plan

        @functools.wraps(fn)
        def prepared(spark, sf_dir):
            return prepared_plan(name, fn, spark, sf_dir)

        QUERIES[name] = prepared
        ORACLES[name] = " ".join(oracle.split())
        fn.query_name = name
        prepared.query_name = name
        prepared.builder = fn
        return fn

    return deco
