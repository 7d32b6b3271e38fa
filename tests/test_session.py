"""Session construction: the codegen cache is sized to the engine's
working set, so warm panels run from cached generated classes."""

from __future__ import annotations

from shared_solar_data_warehouse_spark.session import CODEGEN_CACHE_ENTRIES
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
