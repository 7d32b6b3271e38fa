"""The decimal-sum rounding helpers agree across Spark and DuckDB on
exact half steps, and every rounded exact sum goes through them."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

import shared_solar_data_warehouse_spark
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


def _unwindowed(text: str, start: int) -> bool:
    """Whether the ``sum(...)`` at ``start`` is a plain aggregate: its
    closing parenthesis is not followed by ``OVER`` (windowed sums
    round their quotients or keep the decimal, and stay inline)."""
    depth = 0
    for i in range(start, len(text)):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        if depth == 0 and text[i] == ")":
            return not text[i + 1 :].lstrip().startswith("OVER")
    return True


def test_rounded_exact_sums_use_the_parity_helpers():
    """The rounding rule of an exact sum is spelled only in ``parity``:
    an inline ``round(CAST(sum(CAST(...))) AS DOUBLE), n)`` or
    ``F.round(F.sum(...))`` rounds the double instead of the decimal
    and splits the engines at a half step, even when the other side of
    the same op calls the helper."""
    root = os.path.dirname(shared_solar_data_warehouse_spark.__file__)
    spellings = ("round(CAST(sum(CAST(", "F.round(F.sum(")
    found = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        if os.path.basename(path) == "parity.py":
            continue
        with open(path) as fh:
            text = fh.read()
        for spelling in spellings:
            at = text.find(spelling)
            while at >= 0:
                if _unwindowed(text, text.index("sum(", at)):
                    line = text.count("\n", 0, at) + 1
                    found.append(f"{os.path.relpath(path, root)}:{line}")
                at = text.find(spelling, at + 1)
    assert found == []
