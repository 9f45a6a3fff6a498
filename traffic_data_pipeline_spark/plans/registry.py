"""The one name -> query registry behind ``__spark_entry__.queries()``.

``QUERIES`` maps every registered name to a Spark callable
``(spark, sf_dir) -> DataFrame``; ``ORACLES`` maps it to the DuckDB SQL
twin the correctness gate compares against. ``plans/queries.py``
re-exports all three names and imports every registering module at its
tail, so importing it yields the complete registry.

This module imports nothing from ``plans``: a module that reads its
siblings' registrations while its own body runs (the staged_ops* oracle
late-binding) registers through here, so importing it first does not run
queries.py's tail while it is still half-defined.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:  # not assert: must survive python -O
            raise RuntimeError(f"query name registered twice: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco
