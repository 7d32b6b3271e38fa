"""SparkSession construction and the one place session confs change.

The ONLY place a session is built (SURVEY.md §7.0) or has a conf set.
Static confs, the codegen cache size among them, are fixed when the
JVM's SparkContext starts, so they apply only to sessions that
``get_session`` builds (``bench.py``, the tests, ``perfbench``); a
session a harness passes in keeps whatever its operator chose.
``pin_session`` sets the runtime confs that make results
hash-comparable against the DuckDB oracle (UTC timestamps) and fast on
local[N]; ``registry.op`` calls it on the caller's session once per op
call, so every entry point is covered and no builder pins.  Stream
queries run on ``streaming_session``, whose stream confs are set once
when it is made, so a drain never writes the caller's session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from shared_solar_data_warehouse_spark.materialize import memo

#: Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``, a static
#: conf) holds 100 generated classes by default, fewer than the engine's
#: working set: warm panels would recompile (Janino), and the JIT would
#: re-optimize every new class.  Measured with an oversized cache and
#: ``CodegenMetrics``: one sf0.01 mirror pass over all 375 ops compiles
#: 3246 distinct classes (a second pass in the same session, 88).  The
#: cache holds one whole pass, rounded up.
CODEGEN_CACHE_ENTRIES = 4000

#: Runtime confs safe to apply to an existing session.
_RUNTIME_CONFS = {
    # Timestamp determinism vs DuckDB (SURVEY.md §5.4).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting —
    # the local[N] default and the 100 TB default alike.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow for every pandas interop path (pandas_udf, applyInPandas,
    # toPandas) — columnar batch transfer instead of pickled rows.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # sql_recursive_cte produces n_customers x ~log2(keyspace) rows;
    # Spark guards runaway recursion at 1M rows by default, which a
    # ~100k+ customer dimension legitimately exceeds (hit at the x10
    # scale smoke).  Raising the guard is the documented knob — the
    # depth limit (cteRecursionLevelLimit=100) still bounds the loop.
    "spark.sql.cteRecursionRowLimit": str(200_000_000),
}


def pin_session(spark: SparkSession) -> SparkSession:
    """Apply parity/perf runtime confs to an existing session (idempotent)."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be non-modifiable in exotic deployments; the
            # defaults we'd be setting are then whatever the operator
            # of that session chose — proceed rather than fail.
            pass
    # Local-mode shuffle sizing: a harness-provided session may carry the
    # 200-partition default, which at fixture scale is pure scheduling
    # overhead (tiny tasks x 200 per exchange across the whole registry).
    # Overridden ONLY in local mode AND only when it is still the stock
    # default — a deliberately configured value (any non-200) stands, and
    # cluster deployments are never touched.
    try:
        if spark.sparkContext.master.startswith("local") and (
            spark.conf.get("spark.sql.shuffle.partitions") == "200"
        ):
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    return spark


def streaming_session(
    spark: SparkSession, sf_dir: str, nodata_batch: bool = True
) -> SparkSession:
    """The engine-owned session stream queries on ``sf_dir`` run on.

    A pinned ``spark.newSession()`` (same SparkContext, own confs and
    temp views), made once per snapshot and flag through
    ``materialize.memo``.  Stateful operators spin one state-store
    instance per shuffle partition per micro-batch; at fixture scale
    that fixed cost dominates, so the session runs streams with few
    state partitions (read when a query starts and baked into its
    checkpoint; measured: 8 -> 4 saves ~0.7 s on the stream-stream
    join, 4 -> 2 nothing).  On a real cluster this is instead sized
    ~2x total cores.

    ``nodata_batch=False`` disables the trailing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``) for queries
    whose OUTPUT cannot depend on it — ops that emit rows the moment
    they are seen/matched, where the extra batch only evicts state.
    Watermark-gated APPEND AGGREGATES (stream_watermark) must keep the
    default: their finalized windows are emitted BY the no-data batch.
    """

    def build() -> SparkSession:
        session = pin_session(spark.newSession())
        session.conf.set("spark.sql.shuffle.partitions", "4")
        if not nodata_batch:
            session.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", "false"
            )
        return session

    return memo(spark, sf_dir, ("streaming_session", nodata_batch), build)


def get_session(
    app_name: str = "shared_solar_data_warehouse_spark",
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the pinned local session for tests/bench.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle partitions match core count — at test SFs every shuffle fits
    in memory and 200 partitions would be pure scheduling overhead; at
    100 TB this knob is instead set ~2-3× total executor cores and AQE
    coalesces from there.

    ``extra_confs`` are applied LAST at builder time (they win over the
    defaults above) — the invariance probes use this to pin a static
    conf like ``spark.sql.autoBroadcastJoinThreshold=-1`` before the
    JVM exists, without duplicating the rest of this builder.  Note
    ``getOrCreate`` ignores builder confs when a session already
    exists; callers that REQUIRE an extra conf must verify it stuck
    (see tools/mirror_nobroadcast.py).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32" if cpus == "*" else cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Python workers inherit the driver env in local mode, but pin it
        # explicitly for cluster deployments too: numpy's THP madvise
        # causes direct-compaction stalls on fragmented hosts (see
        # __init__.py — measured 45x on the driver-side graph gathers).
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return pin_session(spark)
