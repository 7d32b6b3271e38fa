"""Sources & sinks (SURVEY.md §2.1) + the shared table loader.

The warehouse's canonical storage is partitioned Parquet (columnar,
vectorized scan, row-group statistics for predicate pushdown) — the
Spark-native analog of the reference's "normalize gateway CSV logs into
warehouse tables" stage (SURVEY.md §3.1, reconstruction: the reference
checkout is empty, §0).  CSV/NDJSON readers model the raw-log ingest
path; both read with EXPLICIT schemas — ``inferSchema`` is banned in
engine paths (full-data extra pass + nondeterministic typing).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shared_solar_data_warehouse_spark.materialize import memo
from shared_solar_data_warehouse_spark.parity import dsum, sql_dsum
from shared_solar_data_warehouse_spark.registry import op

#: All fixture tables, in FK-dependency order (FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.

    ``events.ts`` is TIMESTAMP(MICROS) in the fixture parquet — Spark's
    native µs TimestampType — so it loads directly with no unit
    conversion; DuckDB sees the identical µs instants.  Operators
    bucket/truncate ``ts`` on both sides anyway (SURVEY.md §5.4).

    The resolved relation is reused per (session, snapshot):
    ``spark.read.parquet`` costs ~100 ms of driver work per call (file
    listing, footer schema read, relation resolution).
    """
    return memo(
        spark,
        sf_dir,
        ("table", spark, name),
        lambda: spark.read.parquet(table_path(sf_dir, name)),
    )


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin-spread a scan across the available cores ONLY when
    its natural split count cannot feed them (r11, guide §2.5/§6).

    The driver fixtures are single-row-group parquet files, so scans
    arrive as 1-3 partitions regardless of split config and a CPU-heavy
    projection or Python pass would run one task wide; at real scale
    the input is many files/row-groups and this is a no-op — the old
    hard-coded ``repartition(32)`` would have SHRUNK a many-thousand-
    partition scan on a cluster (the local-constant trap the
    optimization guide §2 calls out).
    """
    target = spark.sparkContext.defaultParallelism
    # ADVICE r11: ``df.rdd`` builds the Python-serialization RDD plan
    # on every call just to read a partition count; the JVM-side RDD
    # answers the same question without that per-build driver work.
    if df._jdf.rdd().getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Expose fixture tables as temp views for SQL-twin operators.

    Idempotent per (session, snapshot): re-registration costs ~40 ms
    of catalog work per view and every SQL op build paid 7 of them
    (~0.6 s, 30–50% of a warm SQL-band query) — skip when the view
    already points at this snapshot, re-register when it changes."""
    for name in names or TABLES:
        memo(
            spark,
            sf_dir,
            ("view", spark, name),
            lambda: load_table(spark, sf_dir, name).createOrReplaceTempView(name),
            exclusive=True,
        )


def scratch_root() -> str:
    """Root of every scratch tree the engine writes: under the process
    temp dir (``TMPDIR``), so a caller relocates it without an option."""
    return os.path.join(tempfile.gettempdir(), "sswh_spark_scratch")


def scratch_dir(sf_dir: str, op_name: str) -> str:
    """Deterministic per-(sf, op) scratch path for sink/ingest
    round-trips: ``<scratch_root>/<basename>-<hash>/<op>``.  The hash
    of the absolute snapshot path keeps apart two snapshots that share
    a basename; the basename keeps the tree readable."""
    sf_path = os.path.abspath(sf_dir)
    digest = hashlib.sha1(sf_path.encode()).hexdigest()[:8]
    key = f"{os.path.basename(sf_path) or 'sf'}-{digest}"
    path = os.path.join(scratch_root(), key, op_name)
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# §2.1 operators
# ---------------------------------------------------------------------------


@op("scan_parquet", oracle="SELECT * FROM nation")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan of a Parquet fixture (vectorized columnar read)."""
    return load_table(spark, sf_dir, "nation")


@op(
    "scan_parquet_pruned",
    oracle="""
    SELECT l_orderkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def scan_parquet_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with column pruning + predicate pushdown.

    Plan contract (asserted in tests/test_plans.py): the Parquet scan
    node carries PushedFilters for both predicates and a ReadSchema of
    exactly 4 columns — at 100 TB this is the difference between
    reading ~25% of the column bytes and reading everything.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )


@op("scan_csv", oracle="SELECT * FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared CSV ingest (the raw gateway-log entry format).

    Round-trips the `nation` fixture through CSV so the oracle can
    check it against the pre-registered view: write parquet->csv, read
    back with an explicit StructType (never inferSchema).
    """
    path = scratch_dir(sf_dir, "scan_csv")
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(path)


@op(
    "scan_json",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared NDJSON ingest, round-tripped from the events fixture.

    Excludes the ``ts`` column (JSON timestamp round-trips are a
    format/zone parity trap — SURVEY.md §5.4); doubles round-trip
    exactly via shortest-repr JSON encoding.
    """
    path = scratch_dir(sf_dir, "scan_json")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(path).select(
        "event_id", "user_id", "event_type", "value"
    )


@op("scan_orc", oracle="SELECT * FROM customer")
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip of the customer fixture (the third columnar
    format Spark reads natively alongside parquet/csv/json).  ORC
    carries the full schema, so the read-back needs no declared
    StructType; column order is re-selected to match the oracle view.
    Like parquet, ORC scans support predicate pushdown and column
    pruning at 100 TB — this op proves the wiring, not the planner.
    """
    nat = load_table(spark, sf_dir, "customer")
    path = scratch_dir(sf_dir, "scan_orc")
    nat.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(*nat.columns)


@op(
    "sink_parquet",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           count(*) AS n_rows
    FROM lineitem GROUP BY 1
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned warehouse write + read-back (hive-style layout).

    Partitioning by a date-derived column is the 100 TB layout rule
    (SURVEY.md §7.4): queries with a time predicate prune whole
    directories before any I/O happens (static partition pruning).

    The landed layout carries only the columns the read-back census
    consumes (l_orderkey + the partition dir) — the r11
    etl_file_manifest precedent (guide §2.3/§6): writing lineitem's
    other 14 columns was pure write+read amplification invisible to
    the declared result (interleaved A/B min-of-3: 3.70 -> 3.05 s).
    """
    path = scratch_dir(sf_dir, "sink_parquet")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.year("l_shipdate").alias("ship_year")
    )
    # Cluster rows by the partition column before the write: without
    # this every task holds rows of every year and the layout degrades
    # to n_tasks × n_years small files (224 here) — the classic
    # partitioned-write file-explosion.  One exchange on ship_year
    # yields one file per directory; at 100 TB you'd hash by
    # (ship_year, salt) to keep per-file sizes bounded instead.
    li.repartition("ship_year").write.partitionBy("ship_year").mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("ship_year").cast("int").alias("ship_year")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@op(
    "sink_csv",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum('l_extendedprice')}
               AS total_price,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report export: aggregate -> single-file CSV -> read back.

    ``coalesce(1)`` is correct ONLY because the report is 3 rows; a
    100 TB export keeps natural partitioning and lets the downstream
    consumer glob the directory.
    """
    path = scratch_dir(sf_dir, "sink_csv")
    report = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            dsum("l_extendedprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    report.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("total_price", T.DoubleType()),
            T.StructField("n_rows", T.LongType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(path)


@op("source_range", oracle="SELECT range AS id, range * 2 AS doubled FROM range(0, 1000)")
def source_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic distributed generator (`Range` physical node, no input I/O)."""
    return spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )


@op(
    "scan_partition_pruned",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           l_linenumber,
           round(l_extendedprice, 4) AS price
    FROM lineitem
    WHERE year(l_shipdate) = 1997 AND l_quantity > 48
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning end-to-end: write the fact partitioned
    by ship_year (the §7.4 warehouse layout), read back with a
    ship_year predicate — the scan's PartitionFilters eliminate every
    other year's directory BEFORE any I/O (asserted in
    tests/test_plans.py), and the residual quantity predicate pushes
    into the surviving files' row groups.  This is the mechanism that
    turns a 100 TB table into a one-partition read for time-ranged
    queries."""
    path = scratch_dir(sf_dir, "scan_partition_pruned")
    li = load_table(spark, sf_dir, "lineitem")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li.withColumn("ship_year", F.year("l_shipdate")).write.partitionBy(
            "ship_year"
        ).mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter((F.col("ship_year") == 1997) & (F.col("l_quantity") > 48))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 4).alias("price"),
        )
    )


@op(
    "join_bucketed",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_items,
           floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE)
                 / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables — the 100 TB
    answer to repeated fact⋈fact joins on the same key.

    Both sides are written ONCE as external bucketed tables (8 buckets
    on the join key, hive layout under scratch), after which every join
    on that key needs ZERO Exchange on either side: bucket i joins
    bucket i, per-task sort-merge (tests/test_plans.py pins the
    no-Exchange plan).  The MERGE hint keeps the demo on the sort-merge
    path (broadcast would trivially skip shuffles anyway at fixture
    scale).  On a cluster the same DDL amortizes the one-time shuffle
    across every downstream join/aggregate on the bucket key.
    """
    sf_key = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    db = "sswh_bucketed"
    li_tbl = f"{db}.lineitem_b_{sf_key}"
    o_tbl = f"{db}.orders_b_{sf_key}"
    db_dir = os.path.join(scratch_root(), "bucketed_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{db_dir}'")
    catalog = spark.catalog
    if not catalog.tableExists(li_tbl):
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", os.path.join(scratch_dir(sf_dir, "bucketed"), "lineitem_b")
        ).mode("overwrite").saveAsTable(li_tbl)
    if not catalog.tableExists(o_tbl):
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
            "path", os.path.join(scratch_dir(sf_dir, "bucketed"), "orders_b")
        ).mode("overwrite").saveAsTable(o_tbl)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    joined = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    avg_price = F.floor(
        F.sum(F.col("l_extendedprice").cast("decimal(25,8)")).cast("double")
        / F.count(F.lit(1)).cast("double")
        * 10000.0
        + 0.5
    ) / 10000.0
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        avg_price.alias("avg_price"),
    )


@op(
    "scan_csv_permissive",
    oracle="""
    SELECT count(CASE WHEN doc_id % 7 <> 0 THEN 1 END) AS n_good,
           count(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS n_corrupt,
           CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT) AS good_chars
    FROM documents
    """,
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingest under PERMISSIVE mode — the reference's
    world is messy gateway log files, and this is Spark's idiom for
    surviving them: corrupt fields go null, the raw line lands in
    ``_corrupt_record``, and the load NEVER aborts (contrast FAILFAST).

    The fixture round-trip plants a deterministic fault (every 7th
    doc_id gets a non-numeric n_chars field), reads back with a
    declared schema + corrupt-record column, and reports the quality
    split — the counts the oracle derives from the clean table.  At
    100 TB the same scan quarantines bad lines to a reject sink instead
    of killing a multi-hour load.
    """
    path = scratch_dir(sf_dir, "scan_csv_permissive")
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("<unparseable>")).otherwise(
                F.col("n_chars").cast("string")
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("n_chars"))).alias("good_chars"),
    )


@op(
    "scan_parquet_schema_evolution",
    oracle="""
    SELECT c_custkey,
           c_acctbal,
           CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def scan_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet snapshots written months
    apart — the newer one grew a column — unioned by one scan with
    ``mergeSchema``; rows from the old snapshot surface NULL for the
    added column.  This is the append-only warehouse reality at 100 TB
    (log formats gain fields; you never rewrite history), and the
    merged-footer read is Spark's idiom for it.  mergeSchema costs a
    footer read per file at planning — on a large lake, pin the merged
    schema in a table catalog instead and leave the option off.
    """
    c = load_table(spark, sf_dir, "customer")
    path_old = scratch_dir(sf_dir, "scan_evolution_v1")
    path_new = scratch_dir(sf_dir, "scan_evolution_v2")
    c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_acctbal").write.mode(
        "overwrite"
    ).parquet(path_old)
    c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    ).write.mode("overwrite").parquet(path_new)
    return (
        spark.read.option("mergeSchema", True)
        .parquet(path_old, path_new)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )


@op(
    "sink_json",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_finished
    FROM orders GROUP BY o_orderpriority
    """,
)
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON export + read-back — the interchange sink for downstream
    consumers that want line-delimited JSON (labeling queues, web
    services) rather than parquet.  Explicit schema on the read-back
    (inferSchema is banned in engine paths, module docstring); small
    report coalesces to one file, a 100 TB export keeps natural
    partitioning exactly like sink_csv.
    """
    path = scratch_dir(sf_dir, "sink_json")
    report = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("n_finished"),
        )
    )
    report.coalesce(1).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("n_finished", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@op(
    "scan_partition_pruned_dynamic",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS yr
        FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST(ship_year AS INTEGER) AS ship_year,
           count(*) AS n_rows,
           {sql_dsum('l_extendedprice')}
               AS revenue
    FROM (SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
                 l_extendedprice
          FROM lineitem) f
    JOIN dim ON f.ship_year = dim.yr
    GROUP BY 1
    """,
)
def scan_partition_pruned_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning (DPP) — the optimizer feature static
    pruning can't replace: the years to scan are known only after
    filtering the dimension at RUNTIME (finished-status orders), so
    Catalyst injects a `dynamicpruning` subquery into the fact scan's
    PartitionFilters, reusing the dim's broadcast to skip whole
    partition directories before I/O (tests/test_plans.py pins the
    plan node).  This is THE mechanism that makes star-schema queries
    over a 100 TB date-partitioned fact read only the dimension-
    selected slice; without it the scan reads every year and throws
    rows away post-join.  Layout materializes once per (sf, op) under
    scratch, same discipline as the static twin."""
    path = scratch_dir(sf_dir, "scan_partition_pruned_dynamic")
    li = load_table(spark, sf_dir, "lineitem")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li.withColumn("ship_year", F.year("l_shipdate")).write.partitionBy(
            "ship_year"
        ).mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.year("o_orderdate").alias("yr"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.ship_year == dim.yr)
        .groupBy(F.col("ship_year").cast("int").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


@op(
    "scan_json_permissive",
    oracle="""
    SELECT count(CASE WHEN doc_id % 11 <> 0 THEN 1 END) AS n_good,
           count(CASE WHEN doc_id % 11 = 0 THEN 1 END) AS n_corrupt,
           CAST(sum(CASE WHEN doc_id % 11 <> 0 THEN doc_id END) AS BIGINT)
               AS good_id_sum
    FROM documents
    """,
)
def scan_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSON tolerance — the JSON twin of scan_csv_permissive:
    every 11th record is truncated mid-object; PERMISSIVE mode lands
    it in `_corrupt_record` instead of failing the job (the 100 TB
    web-scrape reality: a crawler's NDJSON always has broken lines,
    and FAILFAST on line 3 billion is an outage, not a data-quality
    policy).  The op reports good/corrupt splits and a checksum over
    the surviving rows; the oracle reconstructs the split logically."""
    path = scratch_dir(sf_dir, "scan_json_permissive")
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(', "n_ch')),
        )
        .otherwise(
            F.concat(
                F.lit('{"doc_id": '),
                F.col("doc_id"),
                F.lit(', "n_chars": '),
                F.col("n_chars"),
                F.lit("}"),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("doc_id"))).alias("good_id_sum"),
    )


@op(
    "scan_text",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS line_chars
    FROM documents
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (`spark.read.text`) — the rawest
    ingest surface: one row per line, one `value` column, no parsing
    opinion (the entry point for log files and unstructured corpora
    before any schema exists).  Round-trip: documents export as
    `doc_id|text` lines, read back as raw lines, split on the first
    pipe — recovering (doc_id, payload length) pins both the writer
    and the reader byte-exactly (texts are single-line by fixture
    construction, FIXTURES.md).  At 100 TB `text` scans parallelize
    by line-splittable blocks exactly like CSV."""
    path = scratch_dir(sf_dir, "scan_text")
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        F.concat_ws("|", F.col("doc_id"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.select(
        F.split("value", r"\|", 2).getItem(0).cast("bigint").alias("doc_id"),
        F.length(F.split("value", r"\|", 2).getItem(1))
        .cast("bigint")
        .alias("line_chars"),
    )


@op(
    "scan_csv_gzip",
    oracle="""
    SELECT CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           count(*) AS n_rows
    FROM documents
    """,
)
def scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text ingest: write gzip CSV, read it back through the
    codec, checksum the content.  The operational point this op
    documents: gzip is NOT splittable — one gzip file = one task no
    matter its size, so a 100 TB drop of .csv.gz files parallelizes
    only across files (size them ~100-500 MB upstream), and the first
    job should transcode to zstd parquet (splittable, columnar,
    ~3-5x smaller) rather than re-reading gzip per query.  The codec
    itself is exercised for real: the written files are .csv.gz and
    the read-back schema is declared, not inferred."""
    path = scratch_dir(sf_dir, "scan_csv_gzip")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "n_chars").write.mode("overwrite").option(
        "compression", "gzip"
    ).option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.agg(
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@op(
    "scan_xml",
    oracle="""
    SELECT CAST(i AS BIGINT) AS reading_id,
           concat('site_', i % 7) AS site,
           CAST(i * 37 % 5000 AS BIGINT) AS wh,
           CAST(CASE WHEN i % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS flagged
    FROM (SELECT unnest(generate_series(0, 49)) AS i)
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML ingest (Spark 4's built-in ``xml`` source — no
    external package): gateway telemetry exports and vendor feeds
    still arrive as XML, and the rowTag reader turns each element
    into a row with schema inference.  The fixture file is written
    deterministically (fields are integer formulas of the row index),
    so the oracle RECONSTRUCTS the expected relation from
    generate_series and the hash compare verifies the parse
    bit-for-bit — same pattern as mm_binary_file.

    Scale: XML is splittable by rowTag scan in Spark's reader;
    schema should be DECLARED (as here) not inferred at 100 TB —
    inference is a second full read."""
    path = scratch_dir(sf_dir, "scan_xml")
    rows = "".join(
        f"<reading><reading_id>{i}</reading_id>"
        f"<site>site_{i % 7}</site><wh>{i * 37 % 5000}</wh>"
        f"<flagged>{1 if i % 11 == 0 else 0}</flagged></reading>"
        for i in range(50)
    )
    with open(os.path.join(path, "readings.xml"), "w") as fh:
        fh.write(f"<readings>{rows}</readings>")
    return (
        spark.read.format("xml")
        .option("rowTag", "reading")
        .schema("reading_id long, site string, wh long, flagged long")
        .load(os.path.join(path, "readings.xml"))
        .select("reading_id", "site", "wh", "flagged")
    )


@op(
    "source_calendar_spine",
    oracle="""
    SELECT CAST(d AS DATE) AS cal_date,
           CAST(year(d) AS BIGINT) AS yr,
           CAST(quarter(d) AS BIGINT) AS qtr,
           CAST(month(d) AS BIGINT) AS mo,
           CAST(weekofyear(d) AS BIGINT) AS iso_week,
           CAST(isodow(d) AS BIGINT) AS iso_dow,
           CASE WHEN isodow(d) IN (6, 7) THEN 1 ELSE 0 END AS is_weekend,
           CASE WHEN CAST(d AS DATE) = last_day(CAST(d AS DATE))
                THEN 1 ELSE 0 END AS is_month_end
    FROM generate_series(DATE '2024-01-01', DATE '2024-12-31',
                         INTERVAL 1 DAY) AS t(d)
    """,
)
def source_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar date dimension — the spine every warehouse
    joins facts onto (gap-free even where facts are absent: the
    companion to ts_gap_fill's densify).  One year of days from a
    distributed ``range`` (no input I/O), with the standard conformed
    attributes: year/quarter/month, ISO week and ISO day-of-week
    (Spark's ``weekday()+1`` == DuckDB's ``isodow`` — Monday=1; the
    engines' default ``dayofweek`` anchors differ so it is never
    used), weekend and month-end flags.  At 100 TB the spine is still
    365×years rows — it broadcasts; generation beats maintaining a
    physical date table nobody remembers to extend."""
    days = spark.range(0, 366).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
            "cal_date"
        )
    )
    d = F.col("cal_date")
    return days.select(
        "cal_date",
        F.year(d).cast("bigint").alias("yr"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.month(d).cast("bigint").alias("mo"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        (F.weekday(d) + 1).cast("bigint").alias("iso_dow"),
        F.when(F.weekday(d) >= 5, F.lit(1)).otherwise(F.lit(0)).alias("is_weekend"),
        F.when(d == F.last_day(d), F.lit(1)).otherwise(F.lit(0)).alias("is_month_end"),
    )


@op(
    "sink_parquet_partitioned",
    oracle="""
    SELECT CAST(ts AS DATE) AS d,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM events
    WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-15' AND value <= 50.0)
    GROUP BY 1
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the daily-batch idiom: land the
    day-partitioned fact once, then re-land ONLY 2024-01-15 (filtered
    to value > 50 so the replacement is observable) with the per-write
    option ``partitionOverwriteMode=dynamic`` (the session conf is left
    alone), which rewrites exactly the partitions present in the
    incoming batch and leaves every other day's files untouched (static
    mode would have truncated the whole table first).  The read-back census proves the merge: all
    other days intact, the re-landed day replaced.  This is the
    incremental-backfill primitive for any partitioned lake table
    when the format is plain parquet (Delta/Iceberg MERGE supersedes
    it, same plan shape).  Scratch state is rebuilt each run — both
    writes + the census are one events scan each.  The landed rows
    carry only what the census reads back (value + the partition dir;
    r11 s3, the etl_file_manifest precedent — A/B 1.57 -> 1.26 s)."""
    path = scratch_dir(sf_dir, "sink_parquet_partitioned")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "value", F.to_date("ts").alias("d")
    )
    ev.write.partitionBy("d").mode("overwrite").parquet(path)
    ev.filter(
        (F.col("d") == F.lit("2024-01-15").cast("date"))
        & (F.col("value") > 50.0)
    ).write.partitionBy("d").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
    )
