"""Operator registry — the single source of truth for the graded surface.

Each operator from SURVEY.md §2 registers itself with the ``@op``
decorator, declaring its PySpark builder and (when SQL-expressible) the
DuckDB oracle SQL next to each other.  ``__spark_entry__.queries()`` /
``oracle_sql()`` derive from this registry, which keeps the driver
contract file trivial and the inventory greppable against SURVEY.md §2.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB ANSI SQL, or None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


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


def op(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""
) -> Callable[[Builder], Builder]:
    """Register a builder under ``name``; returns the builder unchanged.

    The builder must be a pure function of (spark, sf_dir) — no globals,
    no cached state — and must alias every computed column to the same
    lower_snake_case name the oracle SQL uses (SURVEY.md §3.5, §5.4).
    """

    def register(builder: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate op name: {name}")
        REGISTRY[name] = Op(
            name=name,
            builder=builder,
            oracle=oracle.strip() if oracle else None,
            tags=tuple(tags),
            doc=doc or (builder.__doc__ or ""),
        )
        return builder

    return register


def load_all_ops() -> dict[str, Op]:
    """Import every operator module (idempotent) and return the registry."""
    for module in _OP_MODULES:
        try:
            importlib.import_module(module)
        except ModuleNotFoundError as exc:
            # Tolerate not-yet-written modules during incremental build,
            # but never swallow a typo inside an existing module.
            if exc.name and not exc.name.startswith("shared_solar_data_warehouse_spark"):
                raise
    return REGISTRY


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op_fingerprint(o: Op) -> str:
    """Content hash of an op's behavior surface: builder source + oracle
    SQL.  Used to invalidate driver coverage when an op changes — a
    green CORRECTNESS row only counts while the op still hashes the
    same as when the driver verified it (ADVICE r02: without this, an
    edited op would stay sorted to the tail forever and a regression
    could ship unverified indefinitely).

    For the spark.sql-entry closures the builder source is shared
    boilerplate, but the oracle string IS the query body, so the
    fingerprint still keys on the actual behavior.
    """
    import hashlib
    import inspect

    try:
        src = inspect.getsource(o.builder)
    except (OSError, TypeError):
        src = repr(o.builder)
    return hashlib.sha256((src + "\x00" + (o.oracle or "")).encode()).hexdigest()[:16]


def _recorded_fingerprints() -> dict[str, str]:
    """OP_FINGERPRINTS.json: op -> fingerprint at driver-green time.
    Maintained by tools/update_fingerprints.py at round start (after the
    driver writes CORRECTNESS_r{N}.json, before this round's edits)."""
    import json
    import os

    try:
        with open(os.path.join(_repo_root(), "OP_FINGERPRINTS.json")) as fh:
            data = json.load(fh)
        return {k: str(v) for k, v in data.items()} if isinstance(data, dict) else {}
    except (OSError, ValueError):
        return {}


def _is_green_row(row: object) -> bool:
    """THE green criterion for a driver ``CORRECTNESS_r*.json`` record:
    all three matches true, or the documented rows-only check
    (``err == "no_oracle"`` with a row count) for oracle-less ops.

    Single source of truth — also used by tools/update_fingerprints.py
    and tools/compose_window.py, so a future change to the criterion
    cannot silently diverge between coverage, fingerprint stamping, and
    rotation-age computation (ADVICE r9 review)."""
    if not isinstance(row, dict):
        return False
    if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
        return True
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def driver_green() -> set[str]:
    """Ops green in ANY past driver ``CORRECTNESS_r*.json`` (no
    invalidation — the raw union of green rows, per ``_is_green_row``).
    """
    import glob
    import json
    import os

    covered: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if _is_green_row(row):
                covered.add(name)
    return covered


def driver_covered() -> set[str]:
    """Ops whose driver-green record is still valid: green in a past
    ``CORRECTNESS_r*.json`` AND unchanged since (current fingerprint
    matches the recorded one).  An op edited after its green round drops
    out of this set and rotates back into the driver's bounded sample
    until re-verified.  The driver checks a bounded prefix of
    ``queries()`` per round (50 rows in dict order), so ordering
    not-yet-covered ops first rotates fresh coverage into every round.
    """
    load_all_ops()
    recorded = _recorded_fingerprints()
    covered = set()
    for name in driver_green():
        o = REGISTRY.get(name)
        if o is None:
            continue
        rec = recorded.get(name)
        # No recorded fingerprint (file missing / op never snapshotted):
        # fail open to "covered" so a lost sidecar file doesn't wipe the
        # rotation state — the snapshot tool repopulates it at round start.
        if rec is None or rec == op_fingerprint(o):
            covered.add(name)
    return covered


def _bench_cost() -> dict[str, float]:
    """Per-op wall-clock from the committed local bench (ordering hint)."""
    import json
    import os

    try:
        with open(os.path.join(_repo_root(), "BENCH.json")) as fh:
            return dict(json.load(fh).get("queries") or {})
    except (OSError, ValueError):
        return {}


#: Ops to confirm FIRST in the next driver round (the driver checks the
#: first 50 rows of queries()).  The head is MANDATORY: every
#: driver-green op whose source fingerprint changed since its green
#: round (tests/test_registry_rotation.py fails while one is missing).
#: Here those are the r12 optimization edits (graph memo tables,
#: interval overlap, PCA centering, stream joins/dedup) and the two
#: generated-snapshot parity fixes, sql_tpch_q1 (decimal round before
#: the double cast) and udf_pandas_grouped_agg (exact decimal mean).
#: The tail is the rest of the r12 window: valid-green ops sampled
#: again for depth.  An edit that makes another op stale swaps it in
#: for the last tail entry instead of recomposing, so the tuple is not
#: the verbatim output of ``tools/compose_window.py --window 50
#: --fill-oldest``, which prints the difference.  The four oracle-less
#: rows-only ops stay out: a re-sample adds no hash evidence.
_FRONTLOAD: tuple[str, ...] = (
    "graph_assortativity",
    "graph_connected_components",
    "graph_degree_dist",
    "graph_jaccard_neighbors",
    "graph_pagerank",
    "join_interval_overlap",
    "sim_pca_power_iteration",
    "stream_dedup",
    "stream_stream_join",
    "sql_tpch_q1",
    "udf_pandas_grouped_agg",
    "win_ntile",
    "scan_text",
    "udf_pandas_iter",
    "fn_url",
    "agg_bool",
    "agg_heavy_hitters",
    "agg_histogram",
    "agg_benford",
    "etl_cdc_diff",
    "text_source_quality",
    "win_percent_rank",
    "join_mark_exists",
    "etl_zorder_key",
    "udf_arrow_scalar",
    "sort_within_partitions",
    "scan_csv_permissive",
    "scan_csv_gzip",
    "ts_seasonality_index",
    "ts_load_profile",
    "fn_try_safe",
    "fn_map",
    "agg_collect",
    "stream_ingest_files",
    "win_row_number",
    "fn_array",
    "agg_gini",
    "ts_downtime",
    "ts_credit_reconciliation",
    "ts_counter_reset",
    "etl_dq_report",
    "sql_tpch_q12",
    "ts_rollup_two_level",
    "source_calendar_spine",
    "text_inverted_index",
    "dedup_minhash_signature",
    "text_quality_composite",
    "text_chunk_windows",
    "fn_penny_allocation",
    "text_dataset_mixture",
)


def driver_order() -> list[str]:
    """Registry names, driver-priority first: this round's must-confirm
    fixes, then ops with no (valid) green driver row yet — cheapest
    first, so more fit any per-round time budget — then the
    already-verified tail."""
    load_all_ops()
    covered = driver_covered()
    cost = _bench_cost()
    front = {n: i for i, n in enumerate(_FRONTLOAD)}
    # Front rank dominates the covered flag: a frontloaded op must be
    # re-confirmed even if a stale green record still marks it covered
    # (e.g. an op edited in the same session that snapshots fingerprints).
    return sorted(
        REGISTRY,
        key=lambda n: (front.get(n, len(front)), n in covered, cost.get(n, 0.5), n),
    )


def queries() -> dict[str, Builder]:
    load_all_ops()
    return {name: REGISTRY[name].builder for name in driver_order()}


def oracle_sql() -> dict[str, str]:
    load_all_ops()
    return {
        name: REGISTRY[name].oracle
        for name in driver_order()
        if REGISTRY[name].oracle is not None
    }
