"""The decimal-sum rounding helpers agree across Spark and DuckDB on
exact half steps."""

from __future__ import annotations

import duckdb
import pytest

from shared_solar_data_warehouse_spark.parity import dsum, sql_dsum


@pytest.mark.parametrize(
    "values, expected",
    [((283778228.75, 0.08495), 283778228.835), ((-0.00005,), -0.0001)],
)
def test_dsum_rounds_half_steps_alike(spark, values, expected):
    """The exact decimal sum ends on a half step at the 5th decimal;
    rounding its double would split the engines (Spark ...835, DuckDB
    ...8349), rounding the decimal gives one answer in both."""
    df = spark.createDataFrame([(v,) for v in values], "x double")
    spark_out = df.agg(dsum("x")).first()[0]
    rows = ", ".join(f"({v!r}::DOUBLE)" for v in values)
    duck_out = duckdb.sql(f"SELECT {sql_dsum('x')} FROM (VALUES {rows}) t(x)").fetchone()[0]
    assert spark_out == duck_out == expected
