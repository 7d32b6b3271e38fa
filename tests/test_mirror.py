"""Tier-1 of the pyramid (SURVEY.md §5.3): the local oracle mirror —
every registry op vs its DuckDB twin on identical parquet.

Runs at sf0.001 for speed (the driver's gate runs sf0.01; run
`python -m shared_solar_data_warehouse_spark.mirror` for that).  A
registry entry may only exist if this passes — the test enforces it.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _op_names():
    from shared_solar_data_warehouse_spark.registry import REGISTRY, load_all_ops

    load_all_ops()
    return sorted(REGISTRY)


@pytest.fixture(scope="module")
def duck():
    from shared_solar_data_warehouse_spark.mirror import duck_connect

    return duck_connect(SF_SMALL)


@pytest.mark.parametrize("name", _op_names())
def test_oracle_mirror(spark, registry, duck, name):
    from shared_solar_data_warehouse_spark.mirror import run_op

    o = registry[name]
    res = run_op(spark, duck, name, o.builder, o.oracle, SF_SMALL)
    assert res["status"] in ("PASS", "ROWS_ONLY"), res


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    rows = entry_mod.entry(spark).collect()
    assert len(rows) > 0
    assert set(rows[0].asDict()) == {"n_name", "revenue", "n_items"}


def test_every_query_has_contract_shape(registry):
    """queries()/oracle_sql() derive cleanly in sorted registry order;
    oracle keys ⊆ query keys."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(registry)
    assert list(q) == sorted(registry)
    assert list(o) == [n for n in sorted(registry) if registry[n].oracle is not None]
    # rows-only ops are the documented minority
    assert len(o) >= 0.75 * len(q)


def test_canon_value_floats_are_bit_exact():
    """r5 (VERDICT r4 items 2/3): the mirror's float canonicalization
    must be BIT-exact, not ==-exact — Python `==` passes 0.0 == -0.0
    and 1 == 1.0, both of which a formatting value-hash splits (the r4
    driver/mirror divergence class; -0.0 was caught live on
    agg_skew_kurt the first bit-exact run)."""
    from shared_solar_data_warehouse_spark.mirror import canon_value

    # negative zero must NOT canonicalize equal to positive zero
    assert canon_value(0.0) != canon_value(-0.0)
    # int vs float dtype mismatch must NOT compare equal
    assert canon_value(1) != canon_value(1.0)
    # every NaN payload folds to one token (sorting stability)
    assert canon_value(float("nan")) == "NaN"
    # equal bits canonicalize equal, and the form is stable
    assert canon_value(0.1) == canon_value(0.1)
    assert canon_value(0.1) == "f64:" + __import__("struct").pack(
        "<d", 0.1
    ).hex()
    # Decimal gets its OWN token (r6, ADVICE r5): the driver splits
    # DECIMAL-vs-DOUBLE dtypes even at equal values, so a Decimal cell
    # that compared equal to a double here would hide a driver fail —
    # the tripwire that caught the 7 live floor()/literal leaks.
    from decimal import Decimal

    assert canon_value(Decimal("0.5")) != canon_value(0.5)
    assert canon_value(Decimal("0.5")) == "dec:0.5"
    # bools stay bools (never confused with 0/1 ints by the canon)
    assert canon_value(True) is True
