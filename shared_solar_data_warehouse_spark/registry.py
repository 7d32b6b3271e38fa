"""Operator registry — the single source of truth for the graded surface.

Each operator from SURVEY.md §2 registers itself with the ``@op``
decorator, declaring its PySpark builder and (when SQL-expressible) the
DuckDB oracle SQL next to each other.  ``__spark_entry__.queries()`` /
``oracle_sql()`` derive from this registry, which keeps the driver
contract file trivial and the inventory greppable against SURVEY.md §2.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from shared_solar_data_warehouse_spark.session import pin_session

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB ANSI SQL, or None -> rows-only check


REGISTRY: dict[str, Op] = {}

#: Modules that register operators on import (SURVEY.md §7.0 layout).
_OP_MODULES = (
    "shared_solar_data_warehouse_spark.sources.io",
    "shared_solar_data_warehouse_spark.operators.relational",
    "shared_solar_data_warehouse_spark.operators.aggregates",
    "shared_solar_data_warehouse_spark.operators.windows",
    "shared_solar_data_warehouse_spark.functions.scalar",
    "shared_solar_data_warehouse_spark.operators.timeseries",
    "shared_solar_data_warehouse_spark.operators.text",
    "shared_solar_data_warehouse_spark.operators.dedup",
    "shared_solar_data_warehouse_spark.operators.graph",
    "shared_solar_data_warehouse_spark.operators.similarity",
    "shared_solar_data_warehouse_spark.operators.udfs",
    "shared_solar_data_warehouse_spark.operators.multimodal",
    "shared_solar_data_warehouse_spark.operators.sql_entry",
    "shared_solar_data_warehouse_spark.operators.etl",
    "shared_solar_data_warehouse_spark.streaming.streams",
)


def op(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Register a builder under ``name``; returns the builder unchanged.

    The builder must be a pure function of (spark, sf_dir) — no globals,
    no cached state — and must alias every computed column to the same
    lower_snake_case name the oracle SQL uses (SURVEY.md §3.5, §5.4).
    ``Op.builder`` is the builder behind a wrapper that pins the
    caller's session first (``session.pin_session``), so builders never
    pin it themselves.
    """

    def register(builder: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate op name: {name}")

        @functools.wraps(builder)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            return builder(pin_session(spark), sf_dir)

        REGISTRY[name] = Op(
            name=name,
            builder=pinned,
            oracle=oracle.strip() if oracle else None,
        )
        return builder

    return register


def load_all_ops() -> dict[str, Op]:
    """Import every operator module (idempotent) and return the registry."""
    for module in _OP_MODULES:
        importlib.import_module(module)
    return REGISTRY


def queries() -> dict[str, Builder]:
    """Every op's builder, in sorted name order."""
    load_all_ops()
    return {name: REGISTRY[name].builder for name in sorted(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    """Every hash-checkable op's oracle SQL, in sorted name order."""
    load_all_ops()
    return {
        name: REGISTRY[name].oracle
        for name in sorted(REGISTRY)
        if REGISTRY[name].oracle is not None
    }
