"""Session construction and session state: the codegen cache is sized
to the engine's working set, so warm panels run from cached generated
classes; every registry op pins the caller's session and otherwise
leaves its confs as it found them; and scratch trees root at the
process temp dir."""

from __future__ import annotations

import os
import tempfile

from shared_solar_data_warehouse_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    pin_session,
)
from tests.conftest import SF_SMALL

#: Sixteen read-only dashboard panels.  Together they generate ~130
#: classes at sf0.001, more than Spark's default 100-entry cache, which
#: then evicts every one of them before its panel comes round again; a
#: handful of panels would fit the default and prove nothing.
DASHBOARD_PANELS = (
    "ts_load_profile",
    "ts_peak",
    "sql_tpch_q6",
    "topk_global",
    "ts_capacity_factor",
    "sql_tpch_q1",
    "ts_demand_charge",
    "agg_rollup",
    "topk_per_group",
    "text_source_quality",
    "sql_tpch_q3",
    "win_share_of_total",
    "dedup_exact",
    "graph_degree_dist",
    "sim_label_centroids",
    "udf_pandas_grouped_agg",
)


def test_session_carries_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_panels_do_not_recompile(spark, registry):
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    def run_panels() -> None:
        for name in DASHBOARD_PANELS:
            registry[name].builder(spark, SF_SMALL).toPandas()

    run_panels()
    warm = compiles()
    run_panels()
    assert compiles() == warm


def test_builders_leave_session_confs_unchanged(spark, registry):
    """The partitioned sink overwrites one partition through a per-write
    option and the recursive CTE's row guard is a pinned runtime conf,
    so neither builder changes a conf of the session it runs on, even
    one where neither key was set before (as a harness passes it)."""
    for key in (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.cteRecursionRowLimit",
    ):
        spark.conf.unset(key)
    pin_session(spark)
    before = spark.conf.getAll
    for name in ("sink_parquet_partitioned", "sql_recursive_cte"):
        assert registry[name].builder(spark, SF_SMALL).collect()
    assert spark.conf.getAll == before


def test_registry_pins_every_builder(spark):
    """``scan_xml`` never pins the session itself; the registry pins it
    before the builder runs, whichever entry point calls it."""
    import inspect

    from shared_solar_data_warehouse_spark.registry import REGISTRY, queries
    from shared_solar_data_warehouse_spark.sources import io

    key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/New_York")
    try:
        queries()["scan_xml"](spark, SF_SMALL)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, "UTC")
    builder = REGISTRY["scan_xml"].builder
    assert builder.__module__ == io.__name__
    assert builder.__doc__ == io.scan_xml.__doc__
    assert inspect.getsource(builder) == inspect.getsource(io.scan_xml)


def test_scratch_dir_roots_at_the_temp_dir(monkeypatch, tmp_path):
    from shared_solar_data_warehouse_spark.sources.io import scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = scratch_dir("/data/sf0.001/", "sink_csv")
    key = os.path.basename(os.path.dirname(path))
    assert path == os.path.join(
        str(tmp_path), "sswh_spark_scratch", key, "sink_csv"
    )
    assert key.startswith("sf0.001-")
    assert os.path.isdir(path)
    assert scratch_dir("/data/sf0.001", "sink_csv") == path
    assert scratch_dir("/other/sf0.001", "sink_csv") != path
