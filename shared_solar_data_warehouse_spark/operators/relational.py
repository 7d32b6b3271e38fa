"""Relational core: projection/filter (§2.2), joins (§2.3), sorts /
limits / set ops (§2.6), and the flagship query (§7.1).

The flagship — revenue by nation over a shipdate range — is the
TPC-H-flavored analog of the reference's "energy by site for a period"
report (SURVEY.md §7.1; reference reconstruction §0.1): a star join of
the big fact through mid dims to tiny dims, time-filtered, grouped,
summed.  The plan Catalyst should (and does — tests/test_plans.py)
produce at any scale: pushed shipdate filter at the Parquet scan,
broadcast hash joins for nation/region, shuffle joins on the fact keys
only, partial aggregation before the final shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_solar_data_warehouse_spark.parity import davg, dsum, sql_davg, sql_dsum
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table


# ---------------------------------------------------------------------------
# Flagship (§7.1) — also what entry() runs
# ---------------------------------------------------------------------------


@op(
    "flagship_revenue_by_nation",
    oracle=f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation for a one-year shipdate window (star join)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum((F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# §2.2 projection / filter / row ops
# ---------------------------------------------------------------------------


@op(
    "project_select",
    oracle="""
    SELECT l_orderkey AS order_key,
           l_linenumber AS line_no,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    """,
)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column subset + rename + computed column (pure row-local math:
    the double product is IEEE-identical on both engines)."""
    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
    )


@op(
    "project_cast",
    oracle="""
    SELECT CAST(o_orderkey AS INTEGER) AS key_int,
           CAST(o_orderkey AS DOUBLE) AS key_dbl,
           CAST(o_custkey AS VARCHAR) AS cust_str,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    """,
)
def project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit width/type casts.  Deliberately excludes double->int
    (Spark truncates, DuckDB rounds — SURVEY.md §5.4) and
    double->string (formatting differs)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("int").alias("key_int"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_custkey").cast("string").alias("cust_str"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


@op(
    "filter_pred",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      AND p_type LIKE '%ECONOMY%'
      AND NOT (p_retailprice > 1800.0)
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate: comparison + AND/NOT + BETWEEN + IN + LIKE."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_type").like("%ECONOMY%")
        & ~(F.col("p_retailprice") > 1800.0)
    ).select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")


@op(
    "filter_null",
    oracle="""
    SELECT l_orderkey, l_linenumber, flag_or_null,
           (flag_or_null IS NOT DISTINCT FROM 'R') AS is_returned
    FROM (
        SELECT l_orderkey, l_linenumber,
               nullif(l_returnflag, 'N') AS flag_or_null
        FROM lineitem
    )
    WHERE flag_or_null IS NOT NULL OR l_linenumber = 1
    """,
)
def filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics: nullif-manufactured nulls (fixtures are null-free),
    isNull/isNotNull, and null-safe equality (<=>)."""
    li = load_table(spark, sf_dir, "lineitem")
    with_null = li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"),
    )
    return with_null.filter(
        F.col("flag_or_null").isNotNull() | (F.col("l_linenumber") == 1)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "flag_or_null",
        F.col("flag_or_null").eqNullSafe(F.lit("R")).alias("is_returned"),
    )


@op(
    "project_case",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 150000 THEN 'mid'
                ELSE 'low' END AS price_band,
           CASE o_orderstatus WHEN 'O' THEN 'open'
                              WHEN 'F' THEN 'filled'
                              ELSE 'partial' END AS status_name
    FROM orders
    """,
)
def project_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searched CASE and simple CASE conditional projection."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 150000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "filled")
        .otherwise("partial")
        .alias("status_name"),
    )


@op(
    "distinct_rows",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row distinct (hash aggregate with no measures)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    ).distinct()


@op(
    "dedup_by_key",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-key dedup with a DETERMINISTIC keeper (latest order,
    key-tiebroken) — the hash-matchable replacement for Spark's
    arbitrary-row ``dropDuplicates(subset)`` (SURVEY.md §2.2 note)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@op("row_sample")
def row_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample — rows-only (sampler RNG is engine-specific)."""
    return load_table(spark, sf_dir, "orders").sample(0.1, seed=42)


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@op(
    "join_inner_eq",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name, p_brand,
           round(l_extendedprice - p_retailprice, 4) AS price_delta
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def join_inner_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join fact⋈dim on int64 keys (sort-merge or shuffled
    hash under AQE; the point is correctness of the default path)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_name",
        "p_brand",
        F.round(F.col("l_extendedprice") - F.col("p_retailprice"), 4).alias(
            "price_delta"
        ),
    )


@op(
    "join_broadcast",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join of tiny dims — zero shuffle of the
    probe side; the mandatory plan for dim joins at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@op(
    "join_shuffle_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hint-forced shuffled-hash join (avoids the sort of sort-merge
    when one side builds a compact hash table per partition)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").hint("shuffle_hash")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@op(
    "join_multikey",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, g.n_lines
    FROM lineitem l
    JOIN (
        SELECT l_partkey, l_suppkey, count(*) AS n_lines
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ) g ON l.l_partkey = g.l_partkey AND l.l_suppkey = g.l_suppkey
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi join (both keys participate in the shuffle
    partitioning, so co-location is on the pair)."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_partkey", "l_suppkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return li.join(g, on=["l_partkey", "l_suppkey"]).select(
        "l_orderkey", "l_linenumber", "l_partkey", "n_lines"
    )


_BIG_LINE = "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem WHERE l_quantity >= 49"


@op(
    "join_left_outer",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus, big.l_quantity, big.l_extendedprice
    FROM orders LEFT JOIN ({_BIG_LINE}) big ON o_orderkey = big.l_orderkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with real null extension (most orders have no
    qty>=49 lineitem)."""
    o = load_table(spark, sf_dir, "orders")
    big = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )
    return o.join(big, o.o_orderkey == big.l_orderkey, "left").select(
        "o_orderkey", "o_orderstatus", "l_quantity", "l_extendedprice"
    )


@op(
    "join_right_outer",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus, big.l_quantity, big.l_extendedprice
    FROM ({_BIG_LINE}) big RIGHT JOIN orders ON big.l_orderkey = o_orderkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of left; planner normalizes sides)."""
    o = load_table(spark, sf_dir, "orders")
    big = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )
    return big.join(o, big.l_orderkey == o.o_orderkey, "right").select(
        "o_orderkey", "o_orderstatus", "l_quantity", "l_extendedprice"
    )


@op(
    "join_full_outer",
    oracle="""
    SELECT cn.nationkey AS c_nation, cn.n_cust, sn.nationkey AS s_nation, sn.n_supp
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
          FROM customer WHERE c_acctbal > 9000 GROUP BY 1) cn
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, count(*) AS n_supp
          FROM supplier GROUP BY 1) sn
    ON cn.nationkey = sn.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two partially-overlapping keyed aggregates."""
    cn = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, cn.nationkey == sn.nationkey, "full").select(
        cn.nationkey.alias("c_nation"),
        "n_cust",
        sn.nationkey.alias("s_nation"),
        "n_supp",
    )


@op(
    "join_left_semi",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style semi join: emit left rows with >=1 match, no dup blowup."""
    o = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return o.join(big, o.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@op(
    "join_left_anti",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti join."""
    o = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return o.join(big, o.o_orderkey == big.l_orderkey, "left_anti").select(
        "o_orderkey", "o_totalprice"
    )


@op(
    "join_cross",
    oracle="""
    SELECT r_name, seg.c_mktsegment
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (tiny×tiny only — a guarded op by design)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    seg = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return r.crossJoin(seg)


@op(
    "join_theta",
    oracle="""
    SELECT a.n_nationkey AS nation_a, b.n_nationkey AS nation_b
    FROM nation a JOIN nation b
      ON a.n_nationkey < b.n_nationkey AND a.n_regionkey = b.n_regionkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) condition alongside an equi key: Catalyst keys
    the shuffle on the equi part and applies < as a post-filter, so
    this stays a hash join, not a nested-loop blowup."""
    a = load_table(spark, sf_dir, "nation").alias("a")
    b = load_table(spark, sf_dir, "nation").alias("b")
    return a.join(
        b,
        (F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        & (F.col("a.n_regionkey") == F.col("b.n_regionkey")),
    ).select(
        F.col("a.n_nationkey").alias("nation_a"),
        F.col("b.n_nationkey").alias("nation_b"),
    )


@op(
    "join_range",
    oracle="""
    SELECT e.event_id, b.bucket_id
    FROM events e
    JOIN (SELECT range AS bucket_id,
                 range * 40.0 AS lo,
                 range * 40.0 + 40.0 AS hi
          FROM range(0, 10)) b
      ON e.value >= b.lo AND e.value < b.hi
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/band join: each reading lands in its value bucket.
    The bucket side is tiny -> broadcast nested loop, which is the
    right plan; for big-big range joins the 100 TB recipe is bucketing
    both sides by coarse bins first (see operators/timeseries.py)."""
    e = load_table(spark, sf_dir, "events")
    buckets = spark.range(0, 10).select(
        F.col("id").alias("bucket_id"),
        (F.col("id") * 40.0).alias("lo"),
        (F.col("id") * 40.0 + 40.0).alias("hi"),
    )
    return e.join(
        F.broadcast(buckets),
        (e.value >= buckets.lo) & (e.value < buckets.hi),
    ).select("event_id", "bucket_id")


@op(
    "join_asof",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS prior_click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: for each purchase, the most recent click of
    the same user at-or-before its timestamp.

    Spark SQL has no native batch as-of join (pandas-on-Spark's
    ``merge_asof`` exists but leaves the optimized path), so this uses
    the union-tag construction (SURVEY.md §2.3): tag both sides, union,
    and take ``last(click_id, ignorenulls)`` over a per-user window
    ordered by (ts, side) — one shuffle on user_id, no range explosion,
    scales linearly in events per user.  DuckDB's native ASOF JOIN is
    the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(0).alias("side"),  # clicks sort first at equal ts (>= is inclusive)
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("prior_click_id", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("purchase_id").isNotNull())
        .select("user_id", "purchase_id", "prior_click_id")
    )


@op(
    "join_asof_tolerance",
    oracle="""
    SELECT user_id, purchase_id,
           CASE WHEN staleness_s <= 3600 THEN prior_click_id END
               AS prior_click_id_within,
           CASE WHEN staleness_s <= 3600 THEN staleness_s END AS staleness_s
    FROM (
        SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS prior_click_id,
               CAST(epoch(date_trunc('second', p.ts)) AS BIGINT)
               - CAST(epoch(date_trunc('second', c.ts)) AS BIGINT) AS staleness_s
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join with a staleness TOLERANCE (pandas
    ``merge_asof(tolerance=...)`` / kdb ``wj`` semantics): the most
    recent click at-or-before each purchase counts only if it is at
    most 1 hour old; older matches become NULL, and the match's age in
    floor-seconds is reported alongside.

    Same union-tag + ``last(ignorenulls)`` construction as `join_asof`
    (one shuffle on user_id, no range explosion) carrying the matched
    click's timestamp as a second ignore-nulls window column; the
    tolerance is a plain post-filter on the integer staleness, which is
    exactly the semantics — if the MOST RECENT prior click is already
    too old, every other click is older still, so no eligible match
    exists.  The oracle runs DuckDB's native ASOF JOIN and applies the
    identical CASE; staleness compares floor-second epochs on both
    engines (the ns->s truncation-chain rule, SURVEY.md §5.4).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(0).alias("side"),  # clicks sort first at equal ts (>= inclusive)
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        clicks.unionByName(purchases)
        .withColumn("prior_click_id", F.last("click_id", ignorenulls=True).over(w))
        .withColumn("prior_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("purchase_id").isNotNull())
    )
    stale = F.unix_timestamp("ts") - F.unix_timestamp("prior_click_ts")
    within = stale <= 3600
    return matched.select(
        "user_id",
        "purchase_id",
        F.when(within, F.col("prior_click_id")).alias("prior_click_id_within"),
        F.when(within, stale).alias("staleness_s"),
    )


@op(
    "join_self",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber AS line_a, b.l_linenumber AS line_b,
           round(b.l_extendedprice - a.l_extendedprice, 4) AS price_step
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join pairing consecutive line numbers within an order."""
    a = load_table(spark, sf_dir, "lineitem").alias("a")
    b = load_table(spark, sf_dir, "lineitem").alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") + 1 == F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("line_a"),
        F.col("b.l_linenumber").alias("line_b"),
        F.round(F.col("b.l_extendedprice") - F.col("a.l_extendedprice"), 4).alias(
            "price_step"
        ),
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits / set ops
# ---------------------------------------------------------------------------


@op(
    "sort_multi",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer
    ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort, mixed direction (range-partitioned global sort)."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .orderBy(
            F.col("c_mktsegment").asc(),
            F.col("c_acctbal").desc_nulls_last(),
            F.col("c_custkey").asc(),
        )
    )


@op(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with unique tie-break key (physical plan is
    TakeOrderedAndProject: per-partition heaps, no full sort)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


@op(
    "limit_n",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)
def limit_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT over a unique total order (SURVEY.md §2.6 `limit_n`) —
    kept separate from `topk_global` so the inventory row's first ID
    resolves directly; the physical plan is the same
    TakeOrderedAndProject per-partition-heap shape."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", F.round("c_acctbal", 4).alias("acctbal"))
        .orderBy("c_custkey")
        .limit(100)
    )


@op(
    "offset_n",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 10
    """,
)
def offset_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pagination (unique total order, then offset+limit)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(10)
        .limit(20)
    )


@op(
    "set_union_all",
    oracle="""
    SELECT o_orderkey, o_orderpriority AS priority FROM orders
    WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderpriority AS priority FROM orders
    WHERE o_orderpriority = '2-HIGH'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union via unionByName (no dedup shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority")
    )
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority")
    )
    return urgent.unionByName(high)


@op(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9990
    UNION
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (union all + distinct)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9990)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.unionByName(s).distinct()


@op(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (dedups both sides)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@op(
    "set_intersect_all",
    oracle="""
    SELECT o_orderpriority AS priority FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_orderpriority AS priority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection (multiplicity = min of the two sides)."""
    o = load_table(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("priority")
    )
    right = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("priority")
    )
    return left.intersectAll(right)


@op(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)


@op(
    "set_except_all",
    oracle="""
    SELECT o_orderpriority AS priority FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_orderpriority AS priority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (multiplicity = left minus right, floored at 0)."""
    o = load_table(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("priority")
    )
    right = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("priority")
    )
    return left.exceptAll(right)


#: Salt fan-out for the skew-join recipe (SURVEY.md §7.4).
SKEW_SALT_N = 8


@op(
    "join_skew_salted",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum('l_extendedprice')}
               AS total_price,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manual salting recipe for skew-heavy shuffle joins,
    provably identical to the plain join (that's the oracle).

    Mechanics: the probe side gets a deterministic salt in [0, N);
    the build side is replicated N ways with an exploded salt column;
    the join key becomes (key, salt), splitting any hot key's rows
    across N reducers.  AQE's skew-join split handles this
    automatically for sort-merge joins — the manual recipe remains
    necessary for stateful stream-stream joins and aggregations where
    AQE can't re-plan.  Cost: build side shuffles N copies — use only
    on keys measured skewed.
    """
    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SKEW_SALT_N)).alias(
            "salt"
        ),
    )
    dim = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(SKEW_SALT_N - 1)))
        )
        .withColumn("salt", F.col("salt").cast("long"))
    )
    # MERGE hint: at fixture scale the x8 build side still fits the
    # broadcast threshold, which would skip the shuffle the recipe
    # exists to split; salting is only meaningful on the sort-merge
    # path (a broadcastable side never skews a shuffle).
    joined = fact.join(
        dim.hint("merge"),
        (fact.l_orderkey == dim.o_orderkey) & (fact.salt == dim.salt),
        "inner",
    )
    return joined.groupBy("o_orderpriority").agg(
        dsum("l_extendedprice").alias("total_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


@op(
    "project_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS val
    FROM part
    """,
)
def project_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt): each part row emits one (metric,
    value) row per measure column — `DataFrame.unpivot`, the inverse of
    agg_pivot.  Value columns are cast to a common double type (unpivot
    requires it).  Narrow op: no shuffle, output rows = rows × measures;
    the oracle is the equivalent UNION ALL formulation."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double"),
        F.col("p_retailprice").cast("double"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@op(
    "project_posexplode",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER)
               AS pos
    FROM documents
    """,
)
def project_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode: one row per array element WITH its 1-based
    ordinal — the UDTF-shaped lateral view every tokenizer/posting-list
    builder needs (posexplode is 0-based; +1 aligns with DuckDB's
    generate_subscripts ordinality).  Row-local fan-out: no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", "tok", (F.col("pos0") + 1).cast("int").alias("pos"))


@op(
    "join_asof_forward",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS next_purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each click, the EARLIEST purchase of the
    same user at-or-after its timestamp (time-to-conversion primitive —
    the mirror of `join_asof`'s backward direction).

    Same union-tag construction, scanned in REVERSE: order the merged
    stream by ts DESC with purchases sorting first at equal ts (<= is
    inclusive) and purchase_id DESC so the smallest qualifying id wins,
    then ``last(purchase_id, ignorenulls)`` over the growing frame is
    the next purchase.  One shuffle on user_id, O(n) per partition —
    no [currentRow, unboundedFollowing] frame (that variant re-scans
    per row, O(n^2); see ts_interp_linear).
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(0).alias("side"),  # purchases sort first at equal ts (<= inclusive)
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("click_id"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), "side", F.col("purchase_id").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        purchases.unionByName(clicks)
        .withColumn(
            "next_purchase_id", F.last("purchase_id", ignorenulls=True).over(w)
        )
        .filter(F.col("click_id").isNotNull())
        .select("user_id", "click_id", "next_purchase_id")
    )


@op(
    "sample_split_train_test",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS bucket,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sample_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content-free
    key hash — the reproducible-split primitive every training pipeline
    needs: membership depends only on doc_id, so re-runs, backfills,
    and cross-engine replays agree row-for-row (unlike
    ``df.sample()``/``randomSplit``, which are seed- and
    partitioning-dependent).  The 60-bit hash is the md5 prefix —
    portable integer arithmetic on both engines (verified bit-equal) —
    and the op is a pure narrow projection: no shuffle, scales
    embarrassingly.  At 100 TB you'd persist the split column or
    partition the corpus by it so downstream epochs prune at the scan."""
    d = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    return d.select(
        "doc_id",
        h.alias("bucket"),
        F.when(h < 80, F.lit("train"))
        .when(h < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@op(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    b AS (
        SELECT p.event_id AS purchase_id, p.user_id,
               CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS pes,
               c.event_id AS bid,
               CAST(epoch(date_trunc('second', c.ts)) AS BIGINT) AS bes
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    ),
    f AS (
        SELECT p.event_id AS purchase_id,
               c.event_id AS fid,
               CAST(epoch(date_trunc('second', c.ts)) AS BIGINT) AS fes
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts <= c.ts
    )
    SELECT b.user_id, b.purchase_id,
           CASE WHEN bid IS NULL AND fid IS NULL THEN NULL
                WHEN fid IS NULL THEN bid
                WHEN bid IS NULL THEN fid
                WHEN pes - bes <= fes - pes THEN bid ELSE fid END
               AS nearest_click_id,
           CASE WHEN bid IS NULL AND fid IS NULL THEN NULL
                WHEN fid IS NULL THEN 'backward'
                WHEN bid IS NULL THEN 'forward'
                WHEN pes - bes <= fes - pes THEN 'backward' ELSE 'forward' END
               AS direction
    FROM b JOIN f ON b.purchase_id = f.purchase_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join, the third mode beside backward
    (`join_asof`) and forward (`join_asof_forward`): each purchase pairs
    with its temporally closest click in EITHER direction, preferring
    the backward candidate on exact second-distance ties (determinism,
    SURVEY.md §5.4).  Same union-tag construction — both directional
    candidates come from two window passes over ONE user_id partition
    exchange (backward: running last click at-or-before; forward:
    first click at-or-after over the mirrored frame) — then a plain
    projection picks the winner; no range join, no candidate blowup,
    linear in events per user.  The oracle runs DuckDB's native ASOF
    twice and re-derives the same tie rule."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(0).alias("side_b"),  # clicks first at equal ts: >= inclusive
        F.lit(1).alias("side_f"),  # clicks after at equal ts: <= inclusive
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("side_b"),
        F.lit(0).alias("side_f"),
    )
    both = clicks.unionByName(purchases).withColumn(
        "es", F.unix_timestamp("ts")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side_b", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side_f", "purchase_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    cand = (
        both.withColumn("bid", F.last("click_id", ignorenulls=True).over(wb))
        .withColumn(
            "bes",
            F.last(
                F.when(F.col("click_id").isNotNull(), F.col("es")),
                ignorenulls=True,
            ).over(wb),
        )
        .withColumn("fid", F.first("click_id", ignorenulls=True).over(wf))
        .withColumn(
            "fes",
            F.first(
                F.when(F.col("click_id").isNotNull(), F.col("es")),
                ignorenulls=True,
            ).over(wf),
        )
        .filter(F.col("purchase_id").isNotNull())
    )
    backward_wins = (F.col("es") - F.col("bes")) <= (F.col("fes") - F.col("es"))
    return cand.select(
        "user_id",
        "purchase_id",
        F.when(F.col("bid").isNull() & F.col("fid").isNull(), F.lit(None))
        .when(F.col("fid").isNull(), F.col("bid"))
        .when(F.col("bid").isNull(), F.col("fid"))
        .when(backward_wins, F.col("bid"))
        .otherwise(F.col("fid"))
        .alias("nearest_click_id"),
        F.when(F.col("bid").isNull() & F.col("fid").isNull(), F.lit(None))
        .when(F.col("fid").isNull(), F.lit("backward"))
        .when(F.col("bid").isNull(), F.lit("forward"))
        .when(backward_wins, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


@op(
    "sample_stratified",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
                AS BIGINT) % 100 AS bucket
    FROM customer
    WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
               AS BIGINT) % 100
          < CASE c_mktsegment WHEN 'BUILDING' THEN 20
                              WHEN 'AUTOMOBILE' THEN 10
                              ELSE 5 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates (20% of
    BUILDING, 10% of AUTOMOBILE, 5% elsewhere) via the same portable
    md5-prefix key hash as ``sample_split_train_test`` — membership is
    a pure function of the key, so backfills and cross-engine replays
    agree row-for-row, unlike ``df.sampleBy`` (seed+partitioning
    dependent).  Narrow projection+filter, zero shuffles; at 100 TB the
    predicate pushes to the scan and the op is embarrassingly parallel.
    Oversampling rare strata this way is the standard class-rebalance
    move in training-data pipelines.
    """
    c = load_table(spark, sf_dir, "customer")
    h = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = (
        F.when(F.col("c_mktsegment") == "BUILDING", 20)
        .when(F.col("c_mktsegment") == "AUTOMOBILE", 10)
        .otherwise(5)
    )
    return c.select("c_custkey", "c_mktsegment", h.alias("bucket")).filter(
        F.col("bucket") < rate
    )


@op(
    "join_null_safe",
    oracle="""
    WITH k AS (
        SELECT n_nationkey, n_name,
               CASE WHEN n_regionkey = 2 THEN NULL ELSE n_regionkey END AS rk
        FROM nation
    )
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           coalesce(a.rk, -1) AS joined_region
    FROM k a JOIN k b
      ON a.rk IS NOT DISTINCT FROM b.rk
     AND a.n_nationkey < b.n_nationkey
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: Spark's ``<=>`` (NULL matches NULL,
    one hash bucket) == DuckDB's IS NOT DISTINCT FROM.  The nullable
    key is derived (one region masked to NULL) so the NULL-group
    cross-match is actually exercised, with a key inequality bounding
    the pair blowup.  At scale the NULL bucket is the classic skew key:
    ``<=>`` keeps it joinable where a plain ``=`` would silently drop
    those rows — the data-engineering failure mode this op documents;
    a giant NULL population would instead want join_skew_salted's
    fan-out treatment.
    """
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.when(F.col("n_regionkey") == 2, F.lit(None).cast("int"))
        .otherwise(F.col("n_regionkey"))
        .alias("rk"),
    )
    a = n.select(
        F.col("n_nationkey").alias("key_a"),
        F.col("n_name").alias("name_a"),
        F.col("rk").alias("rk_a"),
    )
    b = n.select(
        F.col("n_nationkey").alias("key_b"),
        F.col("n_name").alias("name_b"),
        F.col("rk").alias("rk_b"),
    )
    return (
        a.join(
            b,
            F.col("rk_a").eqNullSafe(F.col("rk_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .select(
            "name_a",
            "name_b",
            F.coalesce(F.col("rk_a"), F.lit(-1)).alias("joined_region"),
        )
    )


@op(
    "join_range_bucketed",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               min(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS lo,
               max(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS hi
        FROM events WHERE event_type = 'click'
        GROUP BY 1, 2
    )
    SELECT p.user_id, p.event_id AS purchase_id, iv.day,
           iv.hi - iv.lo AS interval_span_s
    FROM (SELECT user_id, event_id, ts,
                 CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
          FROM events WHERE event_type = 'purchase') p
    JOIN iv ON p.user_id = iv.user_id AND p.day = iv.day
           AND p.es BETWEEN iv.lo AND iv.hi
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join done the scalable way: bucket the range
    key (calendar day) into an EQUI-join key, hash-join on (user_id,
    day), then refine with the residual range predicate — the standard
    rewrite that turns an O(n·m) interval join (BroadcastNestedLoop,
    cf. join_range) into a shuffle hash join whose per-bucket work is
    tiny.  Intervals here are each circuit's daily click span;
    purchases landing inside the span join to it.  At 100 TB this is
    THE pattern for time-interval joins: both sides partition by
    (entity, day), so the join never leaves the bucket — intervals
    crossing midnight would be exploded into one row per touched day
    first (same join, duplicated build rows).  All epoch arithmetic is
    BIGINT floor-seconds (§5.4) — hash-exact.
    """
    e = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    day = F.to_date(F.date_trunc("day", "ts"))
    iv = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", day.alias("day"), es.alias("es"))
        .groupBy("user_id", "day")
        .agg(F.min("es").alias("lo"), F.max("es").alias("hi"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        day.alias("day"), es.alias("es"),
    )
    return (
        p.join(iv, ["user_id", "day"])
        .filter(F.col("es").between(F.col("lo"), F.col("hi")))
        .select(
            "user_id",
            "purchase_id",
            "day",
            (F.col("hi") - F.col("lo")).alias("interval_span_s"),
        )
    )


#: Bloom geometry for join_bloom_prefilter: m = 2^13 bits packed into
#: 128 int64 words, k = 3 portable md5-prefix hashes.
_BLOOM_M = 8192
_BLOOM_K = 3


@op(
    "join_bloom_prefilter",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 450000
    )
    GROUP BY l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join accelerated by a hand-built broadcast Bloom filter —
    the runtime-filter pattern made explicit (Spark's own
    InjectRuntimeFilter does this transparently; building it as
    DataFrame algebra makes the mechanics visible and portable).

    Build side (orders with totalprice > 450k, ~10%): each key sets
    k=3 bit positions via Kirsch–Mitzenmacher double hashing —
    ``(h1 + i*h2) % m`` with h1/h2 cut from disjoint slices of ONE
    md5 per key (the naive k independent hashes cost k·(DIV+MOD) = 6
    md5 evaluations per PROBE row once projection collapse inlines
    them — the r4 expensive-expression census caught 9 md5 nodes in
    this plan).  Positions bit-pack into 128 int64 words via
    ``bit_or(shiftleft(1, pos % 64))`` grouped by word index, then
    fold into ONE map<word, bits> row that broadcasts to every probe
    task.  Probe side (lineitem) evaluates membership map-side — one
    md5, three AND-mask lookups inside a ``forall`` over the
    lambda-bound position array, no shuffle, no fan-out — and only
    surviving candidates (true matches + Bloom false positives) enter
    the exact semi join that removes the false positives.  Result is
    therefore EXACTLY the plain semi join, which is what the oracle
    checks.

    100 TB story: the filter is O(m) bytes regardless of build
    cardinality (vs broadcasting the key set itself), the probe prunes
    before the shuffle so the semi join moves ~selectivity x |probe|
    rows, and the same packed-words artifact is reusable across
    queries of the same build predicate.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = orders.filter(F.col("o_totalprice") > 450000).select("o_orderkey")

    def positions_of(col) -> F.Column:
        # Kirsch–Mitzenmacher over TWO xxhash64 calls: pos_i =
        # (h1 + i*h2) % m.  The Bloom hash needs no cross-engine
        # portability — the exact semi join below erases false
        # positives, so the result is identical for ANY filter
        # contents — which frees the probe's hot path to use the
        # JVM-native hash instead of md5 (the r4 scale smoke showed
        # the md5 probe at 30 s/60M rows; xxhash64 is ~10x cheaper
        # per row).  The (h1, h2) struct binds once as a lambda
        # variable so projection collapse cannot replicate the hash
        # calls into the k position terms.
        m = F.lit(_BLOOM_M)
        pair = F.struct(
            F.pmod(F.xxhash64(col), m).alias("h1"),
            F.pmod(F.xxhash64(col, F.lit(1)), m).alias("h2"),
        )
        return F.element_at(
            F.transform(
                F.array(pair),
                lambda s: F.transform(
                    F.sequence(F.lit(0), F.lit(_BLOOM_K - 1)),
                    lambda i: (s["h1"] + i * s["h2"]) % m,
                ),
            ),
            1,
        )

    positions = build.select(
        F.explode(positions_of(F.col("o_orderkey"))).alias("p")
    )
    words = (
        positions.groupBy(F.expr("p DIV 64").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").alias("bits"))
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias("bloom")
        )
    )
    probe = li.select("l_orderkey", "l_returnflag", "l_quantity").join(
        F.broadcast(words)
    )
    hit = F.forall(
        positions_of(F.col("l_orderkey")),
        lambda p: F.getbit(
            F.coalesce(
                F.element_at(F.col("bloom"), F.floor(p / 64).cast("bigint")),
                F.lit(0).cast("bigint"),
            ),
            (p % 64).cast("int"),
        )
        == 1,
    )
    candidates = probe.filter(hit).drop("bloom")
    exact = candidates.join(
        F.broadcast(build),
        candidates.l_orderkey == build.o_orderkey,
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
        .alias("sum_qty"),
    )


@op(
    "sample_reservoir",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           md5(concat('rsv:', CAST(o_orderkey AS VARCHAR))) AS rkey
    FROM orders
    ORDER BY rkey
    LIMIT 100
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample (k=100) via order statistics on a
    portable hash — the distributed equivalent of reservoir sampling:
    'keep the k smallest of n i.i.d. uniform keys' draws exactly the
    same distribution as the classic single-pass reservoir, but is
    embarrassingly parallel and reproducible (the key is
    md5('rsv:' || orderkey), so the sample is stable across runs,
    engines, and partitionings — unlike df.sample, whose RNG is
    partition-dependent; cf. row_sample, rows-only for that reason).

    Plan: orderBy(hash).limit(k) compiles to TakeOrderedAndProject —
    each partition keeps its local top-k heap and only k-row heaps
    merge, no global sort materializes.  At 100 TB this ships
    O(partitions x k) rows, the optimal comm bound for exact global
    top-k."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.md5(F.concat(F.lit("rsv:"), F.col("o_orderkey").cast("string")))
            .alias("rkey"),
        )
        .orderBy("rkey")
        .limit(100)
    )


@op(
    "sample_weighted",
    oracle="""
    SELECT o_orderkey, o_totalprice, w_cents, priority
    FROM (
        SELECT o_orderkey, o_totalprice,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS w_cents,
               CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DOUBLE)
                   * 1152921504606846976.0
                   / CAST(CAST(('0x' || substr(md5(concat('wrs:',
                         CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT)
                         + 1 AS DOUBLE) AS priority
        FROM orders
    )
    ORDER BY priority DESC, o_orderkey
    LIMIT 50
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (k=50, weight = order value)
    via **priority sampling** (Duffield–Lund–Thorup): each row gets
    priority q = w / u with u uniform in (0,1], and the k largest
    priorities win — high-value orders are proportionally more likely
    to be kept, the estimator-friendly weighted twin of
    `sample_reservoir`.

    Portability is the design point: u derives from the md5-prefix
    hash (u = (h+1)/2^60, the stateless portable-RNG move every
    sampling op here uses), and the priority is computed ONLY with
    correctly-rounded IEEE ops (one multiply, one divide — bit-equal
    on any IEEE-754 engine), never a transcendental: the
    Efraimidis–Spirakis formulation needs -ln(u)/w whose libm last-ulp
    is engine-specific, while priority sampling is algebraically
    equivalent in power and hash-stable.  Weights quantize to integer
    cents first.

    Plan: orderBy(priority).limit(k) -> TakeOrderedAndProject —
    per-partition k-heaps, O(partitions × k) merge, no global sort;
    identical comm bound to sample_reservoir at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    w_cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wrs:"), F.col("o_orderkey").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    priority = (
        w_cents.cast("double")
        * F.lit(1152921504606846976.0)
        / (h + F.lit(1)).cast("double")
    )
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            w_cents.alias("w_cents"),
            priority.alias("priority"),
        )
        .orderBy(F.col("priority").desc(), "o_orderkey")
        .limit(50)
    )


@op(
    "join_mark_exists",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           c_custkey IN (SELECT o_custkey FROM orders
                         WHERE o_totalprice > 400000) AS has_big_order
    FROM customer
    """,
)
def join_mark_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-mark join: keep EVERY left row and add a boolean
    'matching right row exists' column — the IN/EXISTS-as-projection
    shape (Catalyst's ExistenceJoin when EXISTS sits inside a
    disjunction).  Expressed as left join against the distinct'd key
    set + IS NOT NULL flag: unlike a semi join it preserves
    non-matching rows, unlike an inner join it never duplicates (the
    distinct guarantees ≤1 match).  At 100 TB the distinct'd key set
    is usually tiny relative to the probe → broadcast, making the mark
    a map-side annotation; here the filtered orders keys broadcast
    under AQE's threshold automatically."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    keys = (
        o.filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
        .distinct()
    )
    return c.join(keys, c.c_custkey == keys.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.col("o_custkey").isNotNull().alias("has_big_order"),
    )


@op(
    "sort_within_partitions",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
)
def sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local sort (`sortWithinPartitions`) — the write-side
    clustering primitive: rows are hash-distributed on o_custkey,
    then sorted inside each partition WITHOUT a global range
    exchange.  This is how a 100 TB table is laid out for min/max
    pruning + run-length encoding per file (every writer task emits
    a locally-sorted file; a global Sort would add a rangepartition
    shuffle for ordering nobody reads).  Output content is the
    orders projection itself — the layout, not the values, is the
    point; `tests/test_plans.py` pins the plan to Sort[global=false]
    with exactly one hash exchange."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(F.col("o_custkey"))
        .sortWithinPartitions("o_custkey", "o_orderkey")
    )


@op(
    "join_interval_overlap",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               min(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS s0,
               max(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) + 1 AS s1
        FROM events GROUP BY 1, 2
    )
    SELECT a.day,
           count(*) AS n_overlap_pairs,
           CAST(sum(least(a.s1, b.s1) - greatest(a.s0, b.s0)) AS BIGINT)
               AS total_overlap_s
    FROM s a JOIN s b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s0 < b.s1 AND b.s0 < a.s1
    GROUP BY a.day
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — the general two-sided cousin of the
    point-in-interval `join_range_bucketed`: which circuit activity
    spans overlap, per day, with total overlapping seconds.  The
    equi-key (day) carries the join; the interval-intersection
    predicate (a.s0 < b.s1 AND b.s0 < a.s1, half-open) is the
    residual filter, so the plan is a hash/sort-merge join on day —
    never a nested loop over the cross product.  At 100 TB the day
    bucket is the standard interval-join decomposition (split long
    intervals across bucket boundaries, dedup on output); sessions
    here are bounded within a day by construction so no splitting is
    needed, and per-day skew is AQE-split.  All arithmetic is
    integer epoch seconds."""
    e = load_table(spark, sf_dir, "events")
    epoch_s = F.unix_timestamp(F.date_trunc("second", "ts"))
    s = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.min(epoch_s).alias("s0"),
        (F.max(epoch_s) + 1).alias("s1"),
    )
    # The self-join consumes `s` twice.  r11 added a lazy
    # localCheckpoint barrier here (plan-justified: the aggregate
    # subtree is duplicated under both join inputs and ReusedExchange
    # does NOT fire — the a/b alias expression ids differ), but the
    # r11 driver window measured the barrier 17% SLOWER (1.79→2.08 s)
    # and the r12 interleaved 32-core re-A/B agreed: barrier min
    # 1.886 s vs no-barrier 1.756/1.838 s across two sessions.  The
    # duplicated sides run CONCURRENTLY and the scan+partial-agg
    # pipeline overlaps, while the barrier serializes the whole op on
    # one materialization — reverted on the evidence (VERDICT r11
    # item 4; guide §1.1 empirical loop beats plan aesthetics).
    a = s.alias("a")
    b = s.alias("b")
    pairs = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s0") < F.col("b.s1"))
        & (F.col("b.s0") < F.col("a.s1")),
    )
    return pairs.groupBy(F.col("a.day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_overlap_pairs"),
        F.sum(
            F.least(F.col("a.s1"), F.col("b.s1"))
            - F.greatest(F.col("a.s0"), F.col("b.s0"))
        ).alias("total_overlap_s"),
    )


@op(
    "join_role_playing_dim",
    oracle="""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def join_role_playing_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing dimension: the SAME physical dim (nation) joined
    twice under two roles — buyer's nation and seller's nation —
    producing the trade matrix.  The warehouse pattern every date/
    geography dim lives by (order-date vs ship-date being the
    canonical case).  Plan property worth pinning: Spark broadcasts
    nation ONCE and the second join consumes a ReusedExchange — the
    optimizer recognizes the identical broadcast subtree, so a dim
    used in N roles costs one build, which is exactly why role-playing
    beats materializing N dim copies at 100 TB.  (r11: io.spread on the
    probe measured +51% — the pipelined scan→5-broadcast-probe chain is
    cheaper single-wide than paying an extra 600k-row exchange; left
    alone.)"""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # Both roles broadcast the IDENTICAL subtree (same projection, renames
    # happen only above the join) so physical planning canonicalizes the
    # two BroadcastExchanges equal and the second becomes a ReusedExchange.
    cn = n.alias("cn")
    sn = n.alias("sn")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
    )
    return j.groupBy(
        F.col("cn.n_name").alias("cust_nation"),
        F.col("sn.n_name").alias("supp_nation"),
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
        ).alias("rev_cents"),
    )


@op(
    "set_union_by_name",
    oracle="""
    SELECT c_custkey AS entity_key, c_acctbal AS balance,
           c_mktsegment AS segment, NULL AS s_kind
    FROM customer
    UNION ALL BY NAME
    SELECT s_suppkey AS entity_key, s_acctbal AS balance,
           NULL AS segment, 'supplier' AS s_kind
    FROM supplier
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union by COLUMN NAME with missing-column tolerance
    (`unionByName(allowMissingColumns=True)`) — the schema-evolution
    union: position-based UNION silently mismatches columns the
    moment one branch adds a field, which is exactly what happens
    when a 100 TB table's writers upgrade mid-stream.  Customers and
    suppliers merge into one entity ledger; each side's missing
    column nulls in.  DuckDB spells the same semantic UNION ALL BY
    NAME — hash-pinned equal.  Plan: pure Union node, no exchange."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_acctbal").alias("balance"),
        F.lit("supplier").alias("s_kind"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@op(
    "join_pit_features",
    oracle="""
    SELECT event_id, user_id, ts,
           last_purchase_value, n_prior_views, n_prior_errors
    FROM (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'purchase'
                               THEN value END IGNORE NULLS)
                   OVER w AS last_purchase_value,
               CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
                    OVER w AS BIGINT) AS n_prior_views,
               CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                    OVER w AS BIGINT) AS n_prior_errors
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    WHERE event_type = 'click'
    """,
)
def join_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time multi-feature enrichment — the feature-store
    pattern: annotate every observation row ('click') with several
    features computed STRICTLY from that user's earlier events (most
    recent purchase value, running view and error counts), with no
    future leakage (the frame ends at 1 PRECEDING, so a same-instant
    purchase never leaks into its own click; event_id breaks ts ties
    deterministically).

    Where `join_asof` carries ONE stream forward, this op shows the
    n-feature generalization at the same cost: because all feature
    streams live in the event log, every feature is a conditional
    aggregate over a SHARED window — one exchange on user_id, one
    sort, one Window operator evaluating all three frames, zero
    joins.  A separate as-of join per feature table would pay n
    shuffles; the union-tag rewrite (join_asof's trick) collapses any
    external feature tables into this exact plan.  At 100 TB the only
    cost driver is the single (user_id) shuffle of the event log."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return (
        e.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.last(purchase_val, ignorenulls=True).over(w).alias(
                "last_purchase_value"
            ),
            F.count(F.when(F.col("event_type") == "view", 1)).over(w).alias(
                "n_prior_views"
            ),
            F.count(F.when(F.col("event_type") == "error", 1)).over(w).alias(
                "n_prior_errors"
            ),
        )
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )


@op(
    "join_band",
    oracle="""
    WITH a AS (
        SELECT user_id, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
        FROM events WHERE event_type = 'error'
    ), b AS (
        SELECT user_id, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
        FROM events WHERE event_type = 'view'
    )
    SELECT a.user_id,
           count(*) AS n_pairs,
           CAST(sum(abs(a.vq - b.vq)) AS BIGINT) AS sum_abs_diff_micro,
           CAST(min(abs(a.vq - b.vq)) AS BIGINT) AS min_abs_diff_micro
    FROM a JOIN b
      ON a.user_id = b.user_id
     AND abs(a.vq - b.vq) <= 5000000
    GROUP BY a.user_id
    """,
)
def join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join — |a.value − b.value| ≤ δ between two event streams
    of the same circuit (error readings vs view readings within 5
    units): the numeric cousin of the temporal tolerance join, and
    the shape naive SQL writes as an inequality-only join (a scan of
    the cross product).  The Spark plan is the BUCKETED band-join
    decomposition: quantize to integer micro-units, bucket by δ
    (bucket = vq DIV δ), explode the probe side into its three
    candidate buckets {b−1, b, b+1} — any in-band partner must land
    there — and run a plain EQUI-join on (user_id, bucket) with the
    exact band predicate as residual filter.  3× probe fan-out buys
    a hash join instead of an O(n·m) per-key nested loop; the oracle
    spells the declarative inequality join and the hash compare
    proves the decomposition exact (half-open overlaps de-duplicated
    by joining each candidate bucket exactly once).

    At 100 TB: δ-bucketing composes with the user_id key exactly like
    the day-bucket interval join — one shuffle each side, AQE splits
    skewed buckets; fan-out stays a constant 3."""
    e = load_table(spark, sf_dir, "events")
    vq = F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)")
    delta = 5_000_000
    a = e.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", vq.alias("vq_a")
    )
    b = e.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", vq.alias("vq_b")
    )
    probes = a.select(
        "user_id",
        "vq_a",
        F.explode(
            F.expr(
                f"array(vq_a DIV {delta} - 1, vq_a DIV {delta},"
                f" vq_a DIV {delta} + 1)"
            )
        ).alias("bucket"),
    )
    build = b.select(
        "user_id", "vq_b", F.expr(f"vq_b DIV {delta}").alias("bucket")
    )
    pairs = probes.join(build, ["user_id", "bucket"]).filter(
        F.expr(f"abs(vq_a - vq_b) <= {delta}")
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.expr("abs(vq_a - vq_b)")).cast("bigint").alias(
            "sum_abs_diff_micro"
        ),
        F.min(F.expr("abs(vq_a - vq_b)")).cast("bigint").alias(
            "min_abs_diff_micro"
        ),
    )
