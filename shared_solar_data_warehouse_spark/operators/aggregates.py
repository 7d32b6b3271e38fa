"""Aggregations (SURVEY.md §2.4) — the reference's flagship computation
family (time-bucketed energy sums, §0.1 reconstruction) in its general
relational form.

Spark's hash aggregate is automatically two-phase (partial map-side
combine, then final after the key shuffle), so every op here ships only
pre-aggregated partial states across the wire — the property that makes
groupBy viable at 100 TB.  All double sums/means go through the exact
decimal accumulation in ``parity`` (order-independent, hash-stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_solar_data_warehouse_spark.parity import (
    LN_ELN2,
    LN_P2,
    LN_S,
    LN_X,
    davg,
    dsum,
    sql_davg,
    sql_dsum,
    sql_ln_final,
    sql_ln_ladders,
    sql_ln_s,
    sql_log2_from_ln,
)

#: Probability-domain deterministic-ln ladder (count ratios k/n in
#: (0, 1]) + its log2 — the r7 libm retirement of the entropy family
#: (same fragments text.py stages; see parity.sql_ln_ladders).
_P_P2, _P_ELN2 = sql_ln_ladders(lo_e=-62, hi_e=0)
_P_LOG2 = sql_log2_from_ln(sql_ln_final())
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import (
    load_table,
    register_views,
    spread,
)


@op(
    "agg_global",
    oracle=f"""
    SELECT count(*) AS n_rows,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped count/sum/avg/min/max (single-row global aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@op(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure hash aggregate (TPC-H Q1 shape — the pricing
    summary report analog of a per-record-type usage rollup).

    Spread after the scan (io.spread, r11): the fixture is one parquet
    row group, so the partial decimal aggregation otherwise runs a
    single core wide; the filter still pushes below the exchange
    (PushedFilters unchanged), and at real scale spread is a no-op."""
    li = spread(
        spark,
        load_table(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= "1998-09-02"
        ),
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@op(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (expand + two-phase dedup under the hood)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@op(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_custs,
           TRUE AS approx_within_5pct
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct, graded as a bounded check: the hash
    compares the exact count plus the claim |approx-exact|/exact <= 5%
    (the oracle asserts literal TRUE).  At 100 TB the approx path is
    the default — fixed-size sketch vs a full distinct shuffle.

    The two counts run as SEPARATE aggregates joined broadcast on the
    5-row priority domain (r11, guide §2.3): mixed
    distinct+approx in one agg makes Spark pre-group by (priority,
    custkey) and drag a ~408-word partial HLL sketch buffer PER
    CUSTKEY ROW through the exchange (~240 MB of sketch columns at
    sf0.1 in the before-plan) — split, the exact pass shuffles bare
    keys and the approx pass one sketch per priority (1.89→0.69 s)."""
    o = load_table(spark, sf_dir, "orders")
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custs")
    )
    approx = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx")
    )
    return exact.join(F.broadcast(approx), "o_orderpriority").select(
        "o_orderpriority",
        "exact_custs",
        (
            F.abs(F.col("approx") - F.col("exact_custs"))
            / F.col("exact_custs").cast("double")
            <= 0.05
        ).alias("approx_within_5pct"),
    )


@op(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(stddev_pop(l_discount), 4) AS sdp_disc,
           round(var_pop(l_discount), 4) AS varp_disc,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0
               AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (Welford-style mergeable states both engines).
    skewness/kurtosis are deliberately excluded: Spark uses population
    formulas, DuckDB sample-corrected — not hash-matchable.  The
    signed columns (corr, covar) add ``+ 0.0`` after rounding to
    squash IEEE negative zero (r5 bit-exact-mirror discipline — a
    near-zero correlation must not hash-split on the sign of zero)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.stddev_pop("l_discount"), 4).alias("sdp_disc"),
        F.round(F.var_pop("l_discount"), 4).alias("varp_disc"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias(
            "corr_qty_price"
        ),
        (
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4)
            + F.lit(0.0)
        ).alias("covar_qty_price"),
    )


@op(
    "agg_percentile",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
           round(quantile_cont(c_acctbal, 0.50), 4) AS p50,
           round(quantile_cont(c_acctbal, 0.75), 4) AS p75,
           round(median(c_acctbal), 4) AS med,
           TRUE AS approx_within_10pct
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation quantiles (hash-matched) plus the
    approx sketch graded as a bounded claim vs exact p50."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(c_acctbal, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(c_acctbal, 0.75)"), 4).alias("p75"),
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("med"),
            F.expr("approx_percentile(c_acctbal, 0.5, 1000)").alias("approx_p50"),
        )
        .select(
            "c_mktsegment",
            "p25",
            "p50",
            "p75",
            "med",
            (F.abs(F.col("approx_p50") - F.col("p50")) <= 0.10 * F.abs(F.col("p50"))).alias(
                "approx_within_10pct"
            ),
        )
    )


@op(
    "agg_collect",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderpriority)), ',') AS priorities,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses
    FROM orders GROUP BY o_custkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/set aggregation — always array_sort'ed: collect order is
    nondeterministic under shuffle (SURVEY.md §5.4).  Output is
    array_join'ed to a CSV string: the driver canonicalizer
    pandas-sorts raw cells and crashes on ndarray (unhashable), so no
    registry op may emit array/map/struct columns (VERDICT r02 §wrong
    class 2; mirror.run_op rejects them as COMPLEX_OUTPUT and
    tests/test_oracle_types.py bans them oracle-side)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_list("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
    )


@op(
    "agg_first_last",
    oracle="""
    SELECT o_custkey,
           arg_min(o_totalprice, o_orderkey) AS first_order_price,
           arg_max(o_totalprice, o_orderkey) AS last_order_price,
           arg_max(o_orderkey, o_totalprice) AS biggest_order_key
    FROM orders GROUP BY o_custkey
    """,
)
def agg_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-safe first/last via min_by/max_by on a UNIQUE ordering key
    (never first()/last() in aggs — shuffle-order-dependent).
    biggest_order_key is safe despite double ordering: ties in
    o_totalprice would be nondeterministic, but orderkey ties broken by
    the unique key columns used in the other two."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min_by("o_totalprice", "o_orderkey").alias("first_order_price"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order_key"),
    )


@op(
    "agg_filtered",
    oracle=f"""
    SELECT c_nationkey,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS filled_total,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: sum(when(...)) ≡ FILTER (WHERE ...)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            dsum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))).alias(
                "filled_total"
            ),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias(
                "n_urgent"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@op(
    "agg_having",
    oracle=f"""
    SELECT l_partkey, count(*) AS n_lines, {sql_dsum('l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(*) >= 40
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — a filter above the agg node,
    NOT pushable below it; Catalyst keeps it where it belongs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity").alias("total_qty"),
        )
        .filter(F.col("n_lines") >= 40)
    )


@op(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
           {sql_dsum('l_quantity')} AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal hierarchy: (flag,status) -> (flag) -> grand total, with
    grouping() markers disambiguating rolled-up NULL keys.  Spread after
    the one-row-group fixture scan (io.spread, r11) so the Expand ×3 +
    partial aggregate run core-count wide; no-op at real scale."""
    li = spread(spark, load_table(spark, sf_dir, "lineitem"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n_rows"
    )


@op(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
           {sql_dsum('o_totalprice')} AS total,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations (2^k sets expanded before the agg)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        dsum("o_totalprice").alias("total"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_prio", "total", "n_orders"
    )


@op(
    "agg_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           {sql_dsum('c_acctbal')} AS total_bal,
           count(*) AS n_cust
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL entry point (§3.3) — fixture
    tables are registered as temp views, same Catalyst plan as the
    DataFrame API."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(
        f"""
        SELECT c_mktsegment, c_nationkey,
               {sql_dsum('c_acctbal')} AS total_bal,
               count(*) AS n_cust
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@op(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide table by category — explicit pivot value list (no extra
    distinct pass, deterministic column set; SURVEY.md §2.4)."""
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "signup", "purchase", "error"]
    wide = e.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds],
    )


@op(
    "agg_sketch_mergeable",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(DISTINCT user_id) AS exact_daily
        FROM events GROUP BY 1
    ), total AS (
        SELECT count(DISTINCT user_id) AS exact_total FROM events
    )
    SELECT d.day, d.exact_daily, t.exact_total, TRUE AS merged_within_5pct
    FROM daily d CROSS JOIN total t
    """,
)
def agg_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch aggregation — the 100 TB distinct-count
    pattern: build one HLL sketch per day partition (partial,
    map-side), then UNION the day sketches into the period estimate
    instead of re-scanning raw data.  Output carries the exact counts
    (oracle-checkable) plus a deterministic bound flag asserting the
    merged estimate landed within 5% of exact — the flag, not the
    estimate, is hash-compared, so the op is fully graded while the
    sketch math stays Spark-side (DuckDB has no compatible HLL).
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sketch"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    merged = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("merged_est")
    )
    exact_total = e.agg(
        F.countDistinct("user_id").alias("exact_total")
    )
    return (
        daily.select("day", "exact_daily")
        .crossJoin(F.broadcast(exact_total))
        .crossJoin(F.broadcast(merged))
        .select(
            "day",
            "exact_daily",
            "exact_total",
            (
                F.abs(F.col("merged_est") - F.col("exact_total"))
                <= 0.05 * F.col("exact_total")
            ).alias("merged_within_5pct"),
        )
    )


@op(
    "agg_arg_extrema",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderpriority, o_orderkey) AS latest_priority,
           arg_min(o_totalprice, o_orderkey) AS first_price,
           bool_and(o_totalprice > 1000.0) AS all_over_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_arg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extrema + boolean aggregates: max_by/min_by (Spark) ≡
    arg_max/arg_min (DuckDB) and bool_and/bool_or.  The ordering key is
    o_orderkey — UNIQUE per group, so the arg extrema are deterministic
    (ties on a non-unique key are engine-defined and would not hash-
    match, SURVEY.md §5.4).  One hash aggregate, partial+final around a
    single exchange like any multi-measure groupBy."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderpriority", "o_orderkey").alias("latest_priority"),
        F.min_by("o_totalprice", "o_orderkey").alias("first_price"),
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@op(
    "agg_linreg",
    oracle="""
    SELECT l_returnflag, n,
           floor(slope_raw * 10000.0 + 0.5) / 10000.0 AS slope,
           floor((sy - slope_raw * sx) / CAST(n AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS intercept
    FROM (
        SELECT *,
               (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope_raw
        FROM (
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(l_quantity * l_quantity AS BIGINT)) AS DOUBLE) AS sxx
            FROM lineitem GROUP BY l_returnflag
        ) sums
    ) fitted
    """,
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of extendedprice on quantity per return flag —
    the hash-MATCHABLE regression (``agg_stats``'s corr/covar are
    documented as rows-only because the builtin kernels accumulate
    floats in engine-specific order).  Here each moment (n, Sx, Sy,
    Sxy, Sxx) is an exact decimal sum, so slope and intercept reduce to
    ONE shared double expression over identical inputs on both engines
    — bit-stable, then floor-rounded.  Distributed cost: a single
    two-phase hash aggregate (5 partial moments per group); the fit
    arithmetic is per-group scalar work.  This is how you regress at
    100 TB: ship sufficient statistics, never rows.  Spread after the
    one-row-group fixture scan (io.spread, r11) so the moment partials
    run core-count wide; no-op at real scale.
    """
    from shared_solar_data_warehouse_spark.parity import DEC

    li = spread(spark, load_table(spark, sf_dir, "lineitem"))
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # Whole-number moments (quantity is integral, SURVEY.md §1) sum
        # as BIGINT — exact like the decimal path but without per-row
        # Decimal allocation; the money-valued moments keep DECIMAL.
        F.sum(F.col("l_quantity").cast("bigint")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_extendedprice")).cast(DEC))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("bigint"))
        .cast("double")
        .alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    slope_raw = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "l_returnflag",
        "n",
        (F.floor(slope_raw * 10000.0 + 0.5) / 10000.0).alias("slope"),
        (
            F.floor(
                (F.col("sy") - slope_raw * F.col("sx")) / n_d * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("intercept"),
    )


@op(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
           CAST(CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS DOUBLE) AS bin_lo,
           count(*) AS n_readings,
           {sql_dsum('value')} AS bin_value_sum
    FROM events GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram of the readings (25-unit bins) —
    the distribution plot behind load-profile QA.  Binning is a pure
    floor-of-division (identical doubles both engines, no boundary
    ambiguity), so unlike width_bucket builtins it hash-matches; one
    two-phase aggregate, bins are the group keys (bounded cardinality
    regardless of row count — the 100 TB histogram pattern)."""
    e = load_table(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / 25.0).cast("bigint")
    return e.groupBy(
        bin_col.alias("bin"), (bin_col * 25.0).alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_readings"),
        dsum("value").alias("bin_value_sum"),
    )


@op(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           floor(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(25,8))) AS DOUBLE)
                 / CAST(sum(CAST(l_quantity AS DECIMAL(25,8))) AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS wavg_price,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per return flag (the tariff shape:
    energy-weighted rates).  Spark has no weighted-avg builtin, so it's
    the two-sufficient-statistics construction — both sums exact
    decimal (order-independent partials), one double division under the
    §5.4 floor-rounding.  Still a single two-phase hash aggregate.
    (r11: io.spread measured +15% here — two decimal moments are too
    little map-side work to pay for the extra exchange; left alone.)"""
    from shared_solar_data_warehouse_spark.parity import DEC

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (
            F.floor(
                F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC))
                .cast("double")
                / F.sum(F.col("l_quantity").cast(DEC)).cast("double")
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("wavg_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@op(
    "agg_mode",
    oracle="""
    SELECT c_mktsegment, o_orderpriority AS modal_priority, cnt AS n_orders
    FROM (
        SELECT c_mktsegment, o_orderpriority, count(*) AS cnt,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY count(*) DESC, o_orderpriority) AS rn
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment, o_orderpriority
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value, smallest-value
    tiebreak) — per market segment, the modal order priority.  Spark's
    builtin ``mode()`` is tie-nondeterministic, so the engine uses the
    canonical count + row_number construction: one two-phase hash
    aggregate on (segment, priority) — tiny output cardinality — then
    a window over those few rows.  At 100 TB the aggregate output is
    |segments|x|priorities| rows regardless of input size, so the
    window never sees big data."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("cnt").alias("n_orders"),
        )
    )


@op(
    "agg_corr_exact",
    oracle="""
    SELECT l_returnflag,
           floor(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt(
                   (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 AS corr_qty_price,
           n AS n_rows
    FROM (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sx,
               CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sy,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sxy,
               sum(CAST(l_quantity * l_quantity AS BIGINT)) AS sxx,
               sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(25,8))) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation with hash-stable parity.  Spark's builtin
    ``corr()`` accumulates doubles in partition order — the result
    drifts run-to-run and engine-to-engine — so the engine computes the
    six sufficient statistics as EXACT sums (BIGINT for whole-number
    quantity and integer-CENT money, DECIMAL only where squared cents
    would overflow) in one two-phase hash aggregate, then evaluates the
    closed form once per group in double: identical exact inputs ->
    identical IEEE ops -> identical bits on both engines (SURVEY.md
    §5.4).  Range envelope: the largest integer moment (quantity x
    cents, <= 5e8/row) stays exact to ~1.8e10 rows per group — the
    same order as the DECIMAL(25,8) it replaced (17 integral digits);
    past that, widen the unit or shard the group, and note Spark 4
    runs ANSI mode so an overflow raises rather than wrapping.  The
    statistics pattern is also the 100 TB shape: six partial sums
    merge associatively; nothing re-scans.  (r11: io.spread measured
    +17% here — mostly-BIGINT moments are too little map-side work to
    pay for the extra exchange; left alone.)"""
    from shared_solar_data_warehouse_spark.parity import DEC

    li = load_table(spark, sf_dir, "lineitem")
    # Money moments accumulate as integer CENTS (prices are exact
    # 2-decimal fixed-point, FIXTURES.md; floor(p*100+0.5) recovers the
    # integer on both engines from the same double) — BIGINT sums are
    # exact like the DECIMAL path but skip per-row Decimal allocation.
    # syy alone stays DECIMAL: squared cents overflow BIGINT range.
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sx"),
        (F.sum(cents).cast("double") / 100.0).alias("sy"),
        (
            F.sum(F.col("l_quantity").cast("bigint") * cents).cast("double")
            / 100.0
        ).alias("sxy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("bigint")).alias("sxx"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(DEC)
        ).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    return stats.select(
        "l_returnflag",
        (F.floor(cov / F.sqrt(vx * vy) * 10000.0 + 0.5) / 10000.0).alias(
            "corr_qty_price"
        ),
        F.col("n").alias("n_rows"),
    )


@op(
    "agg_bool",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000.0) AS all_over_1k,
           bool_or(o_totalprice > 400000.0) AS any_over_400k,
           CAST(count_if(o_totalprice > 200000.0) AS BIGINT) AS n_over_200k,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family (ALL / ANY / conditional count) — the
    data-quality assertion shape ("every order priced", "any outlier
    present").  bool_and/bool_or/count_if all have exact map-side
    partial states (AND/OR/sum are associative+commutative), so the
    shuffle carries one boolean or one long per group regardless of
    input size — the cheapest aggregate family there is at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000.0).alias("any_over_400k"),
        F.count_if(F.col("o_totalprice") > 200000.0).alias("n_over_200k"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@op(
    "agg_string_agg",
    oracle="""
    SELECT s_nationkey,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           count(*) AS n_suppliers
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string concatenation per group (LISTAGG / string_agg).
    Spark's collect_list order is shuffle-dependent, so determinism
    comes from array_sort before the join — same contract as DuckDB's
    ORDER BY inside string_agg.  Safe here because group fan-in is
    bounded (suppliers per nation); at 100 TB an unbounded LISTAGG is
    an anti-pattern — cap with slice() or switch to top-k semantics."""
    s = load_table(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("suppliers"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )


@op(
    "agg_skew_kurt",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS s1,
               CAST(sum(l_quantity * l_quantity) AS BIGINT) AS s2,
               CAST(sum(l_quantity * l_quantity * l_quantity) AS BIGINT) AS s3,
               CAST(sum(l_quantity * l_quantity * l_quantity * l_quantity)
                    AS BIGINT) AS s4
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(
             (CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n))
             / sqrt(
                 (CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
               * (CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
               * (CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))),
             4) + 0.0 AS qty_skewness,
           round(
             (CAST(s4 AS DOUBLE) / n
              - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
              + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) / n)
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / ((CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
              * (CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             - 3.0,
             4) + 0.0 AS qty_excess_kurtosis
    FROM m
    """,
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness / excess kurtosis via exact raw moments.
    Spark's skewness()/kurtosis() and DuckDB's use different streaming
    update formulas (and DuckDB bias-corrects), so cross-engine parity
    comes from computing s1..s4 as EXACT integer sums (l_quantity is a
    whole 1..50, so s4 stays far under 2^53) and then evaluating the
    identical central-moment expression in double on both sides — same
    operands, same operation order, sqrt/divide are correctly-rounded
    IEEE, hence bit-equal.  One two-phase hash aggregate; the moment
    trick is also the right 100 TB shape (one pass, mergeable state).
    Outputs add ``+ 0.0`` to normalize negative zero (r5 mirror catch:
    see inline note)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2r = F.col("s2").cast("double") / n
    m3r = F.col("s3").cast("double") / n
    m4r = F.col("s4").cast("double") / n
    var = m2r - m1 * m1
    m3c = m3r - F.lit(3.0) * m1 * m2r + F.lit(2.0) * m1 * m1 * m1
    m4c = (
        m4r
        - F.lit(4.0) * m1 * m3r
        + F.lit(6.0) * m1 * m1 * m2r
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    # `+ 0.0` squashes IEEE negative zero: a skewness that rounds to
    # zero came out -0.0 in DuckDB but +0.0 in Spark (caught by the r5
    # bit-exact mirror at sf0.001) — equal under ==, split by any
    # formatting value-hash since str(-0.0) == "-0.0".
    return m.select(
        "l_returnflag",
        "n",
        (F.round(m3c / F.sqrt(var * var * var), 4) + F.lit(0.0)).alias(
            "qty_skewness"
        ),
        (F.round(m4c / (var * var) - F.lit(3.0), 4) + F.lit(0.0)).alias(
            "qty_excess_kurtosis"
        ),
    )


@op(
    "agg_geomean_log",
    oracle="""
    SELECT l_returnflag,
           CASE WHEN sum(CAST(floor(ln(l_quantity) * 1e12 + 0.5) AS BIGINT)) >= 0
                THEN CAST(sum(CAST(floor(ln(l_quantity) * 1e12 + 0.5) AS BIGINT))
                     AS BIGINT) // count(*)
                ELSE -(CAST(-sum(CAST(floor(ln(l_quantity) * 1e12 + 0.5)
                        AS BIGINT)) AS BIGINT) // count(*))
                END AS mean_ln_q12,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_quantity > 0
    GROUP BY l_returnflag
    """,
)
def agg_geomean_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean in log space — the right average for multiplicative
    quantities (growth rates, per-token perplexities).  geomean =
    exp(mean_ln_q12 / 1e12); the op emits the log-space mean as an
    integer in 1e-12 units so NO float crosses the engine boundary:
    each ln() term is quantized pre-sum (libm-ulp-proof, same pattern
    as text_char_entropy) and the mean is truncated integer division
    (the oracle's sign-split spelling is the identity under
    truncation — round-4 measurement showed DuckDB's integer //
    truncates exactly like Spark DIV, see parity.py — kept as
    belt-and-suspenders).
    One map-side-combinable groupBy; at 100 TB this is as cheap as
    sum/count."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "CAST(sum(CAST(floor(ln(l_quantity) * 1e12 + 0.5) AS BIGINT))"
            " DIV count(*) AS BIGINT)"
        ).alias("mean_ln_q12"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@op(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
               AS n_distinct_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's bitmap functions — the
    mergeable alternative to count(distinct) for dense integer keys.

    Shape: key -> (bucket, bit) via bitmap_bucket_number /
    bitmap_bit_position; one partial-aggregable groupBy builds a
    32KB-max bitmap per (group, bucket); a second sums per-bucket
    popcounts.  Unlike count(distinct) — whose exact form needs an
    expensive Expand/repartition of the raw keys — the bitmap partials
    combine map-side and shuffle O(groups x buckets) fixed-width blobs
    regardless of row count.  At 100 TB this is the incrementally-
    maintainable exact-distinct: per-partition/day bitmaps persist as
    an artifact and OR-merge (bitmap_or_agg) across any rollup —
    same merge algebra as agg_sketch_mergeable's HLL row, but exact.
    The oracle pins the result against DuckDB's count(DISTINCT)."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("bigint")
            .alias("n_distinct_users")
        )
    )


@op(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE)
               AS sum_price_exact,
           CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE)
               AS sum_qty_exact,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-exact aggregation through the DECIMAL path: inputs cast to
    DECIMAL(18,2) BEFORE summing, so the accumulation is exact integer
    arithmetic in both engines (Spark widens the sum to DECIMAL(28,2),
    DuckDB to a scaled HUGEINT) and the result is order-independent —
    the warehouse answer to float-sum drift for currency columns,
    complementary to parity.dsum's quantize-then-BIGINT trick.  The
    final value is cast to DOUBLE only for transport: the exact sums
    fit in well under 2^53, so the cast is lossless and bit-identical.
    At 100 TB decimal aggregation costs ~2x a double sum but stays
    map-side combinable — same plan shape as any sum.  (r11: io.spread
    measured +36% here — two decimal(18,2) sums are long-backed fast
    path, too cheap to pay for the extra exchange; left alone.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price_exact"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty_exact"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@op(
    "agg_heavy_hitters",
    oracle="""
    WITH tot AS (SELECT count(*) AS n FROM lineitem)
    SELECT l_partkey,
           count(*) AS n_hits,
           CAST((count(*) * 1000000) // max(tot.n) AS BIGINT) AS share_ppm
    FROM lineitem CROSS JOIN tot
    GROUP BY l_partkey
    HAVING count(*) * 2000 > max(tot.n)
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: keys holding > 1/2000 of all rows (the
    skew-detection primitive — these are precisely the keys a salted
    join or AQE skew split must handle).  One partial-agg groupBy +
    a broadcast scalar total; the HAVING is integer cross-multiplied
    (count*2000 > N) so no division is involved in the predicate.
    At 100 TB exact-per-key counting is affordable only because
    map-side combine collapses each partition to its distinct keys;
    when the key domain itself explodes, a Misra-Gries/CMS sketch
    prefilters candidates and THIS op re-checks exactly — the
    two-pass pattern this entry documents."""
    li = load_table(spark, sf_dir, "lineitem")
    tot = li.agg(F.count(F.lit(1)).alias("n"))
    g = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        g.crossJoin(F.broadcast(tot))
        .filter(F.expr("n_hits * 2000 > n"))
        .select(
            "l_partkey",
            "n_hits",
            F.expr("CAST((n_hits * 1000000) DIV n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


@op(
    "agg_grouping_id",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT)
               AS grouping_level,
           count(*) AS n_cust,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM customer
    GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with the grouping_id() disambiguator — the bitmask that
    tells subtotal rows apart from genuine NULL group keys (0 = both
    keys grouped, 1 = nationkey rolled up, 2 = segment rolled up,
    3 = grand total).  Spark's grouping_id() and DuckDB/standard
    GROUPING(a, b) use the same bit order (first listed key =
    highest bit), pinned here cross-engine.  Balances aggregate as
    integer cents.  Plan: one Expand (4 grouping sets) + one
    partial-agg exchange — the Expand fan-out is the documented cost
    of cube at scale (4× the input rows pre-combine), which is why a
    100 TB cube enumerates only the grouping sets it actually
    needs."""
    c = load_table(spark, sf_dir, "customer")
    return c.cube("c_mktsegment", "c_nationkey").agg(
        F.grouping_id().cast("bigint").alias("grouping_level"),
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")).alias(
            "bal_cents"
        ),
    ).select(
        "c_mktsegment", "c_nationkey", "grouping_level", "n_cust", "bal_cents"
    )


@op(
    "agg_quantile_sketch",
    oracle="""
    WITH b AS (
        SELECT event_type,
               least(CAST(floor(value / 8.0) AS BIGINT), 63) AS bucket,
               count(*) AS k
        FROM events GROUP BY 1, 2
    ), c AS (
        SELECT event_type, bucket, k,
               CAST(sum(k) OVER (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(sum(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM b
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(min(CASE WHEN cum * 2 >= n THEN bucket END) AS BIGINT)
               AS p50_bucket,
           CAST(min(CASE WHEN cum * 100 >= n * 95 THEN bucket END) AS BIGINT)
               AS p95_bucket
    FROM c GROUP BY event_type
    """,
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles — the mergeable approximate-quantile
    pattern (t-digest/KLL's fixed-grid cousin): per group, counts in
    64 equi-width value buckets form the ENTIRE state; p50/p95 are
    the first buckets whose cumulative count crosses the rank
    (integer cross-multiplied).  Error is bounded by one bucket width
    by construction, and the state merges associatively at any
    fan-in/re-partitioning — what exact rank selection
    (ts_load_duration) cannot do without a global sort.  That
    trade — bounded-error, fixed-size, mergeable vs exact,
    sort-requiring — is THE quantile decision at 100 TB.  Plan: one
    partial-agg groupBy to the (group, bucket) table (≤ 64 rows per
    group), then windows over that tiny table."""
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type",
        F.expr("least(CAST(floor(value / 8.0) AS BIGINT), 63)").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("k"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    c = b.select(
        "event_type",
        "bucket",
        F.sum("k").over(wcum).alias("cum"),
        F.sum("k").over(wall).alias("n"),
    )
    return c.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        F.min(F.when(F.expr("cum * 2 >= n"), F.col("bucket"))).alias(
            "p50_bucket"
        ),
        F.min(F.when(F.expr("cum * 100 >= n * 95"), F.col("bucket"))).alias(
            "p95_bucket"
        ),
    )


@op(
    "agg_cat_entropy",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS k
        FROM events GROUP BY user_id, event_type
    ), n AS (
        SELECT user_id, CAST(sum(k) AS BIGINT) AS n FROM c GROUP BY user_id
    ), s0 AS (
        SELECT c.user_id, c.k, n.n, c.k / n.n AS {LN_X}
        FROM c JOIN n USING (user_id)
    ), s1 AS (
        SELECT *, {_P_P2} AS {LN_P2}, {_P_ELN2} AS {LN_ELN2} FROM s0
    ), s2 AS (
        SELECT user_id, k, n, {LN_ELN2}, {sql_ln_s()} AS {LN_S} FROM s1
    ), terms AS (
        SELECT user_id, n,
               CAST(floor((k / n) * {_P_LOG2} * 1.0e12 + 5.0e-1) AS BIGINT)
                   AS q
        FROM s2
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           count(*) AS n_types,
           floor(CAST(-CAST(sum(q) AS BIGINT) AS DOUBLE) / 1.0e6 + 5.0e-1)
               / 1.0e6 AS type_entropy_bits
    FROM terms GROUP BY user_id
    """,
)
def agg_cat_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each circuit's record-type mix — the
    behavioral-diversity measure (a circuit emitting only `error`
    rows scores 0; a uniform mix scores log2(5)).  The same
    label-distribution entropy grades class balance in training-data
    audits.  Exactness (r7 libm retirement): log2 is the staged
    deterministic ln ladder / ln2 (parity.sql_ln_*, bit-equal across
    engines), so each p·log2 p term is identical bits on both sides
    before it quantizes to integer 1e-12 units; the per-group sum is
    exact BIGINT math and the display value one floor-based 1e-6
    snap.  Plan: two stacked aggs on the user_id prefix + a
    broadcast join of the tiny per-user totals — one real exchange
    of event rows; the CASE ladder runs on the (user, type) census,
    never per event."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("k"))
    n = c.groupBy("user_id").agg(F.sum("k").alias("n"))
    staged = (
        c.join(F.broadcast(n), "user_id")
        .withColumn(LN_X, F.expr("k / n"))
        .withColumn(LN_P2, F.expr(_P_P2))
        .withColumn(LN_ELN2, F.expr(_P_ELN2))
        .withColumn(LN_S, F.expr(sql_ln_s()))
    )
    q = F.expr(
        f"CAST(floor((k / n) * {_P_LOG2} * 1.0e12 + 5.0e-1) AS BIGINT)"
    )
    return staged.select("user_id", "n", q.alias("q")).groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.expr(
            "floor(CAST(-CAST(sum(q) AS BIGINT) AS DOUBLE) / 1.0e6"
            " + 5.0e-1) / 1.0e6"
        ).alias("type_entropy_bits"),
    )


@op(
    "agg_gini",
    oracle="""
    WITH totals AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   // 10000 AS x
        FROM events GROUP BY user_id
    ), ranked AS (
        SELECT x,
               CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM totals
    )
    SELECT CAST(max(n) AS BIGINT) AS n_circuits,
           CAST(sum(x) AS BIGINT) AS total_micro,
           CAST((2 * CAST(sum(i * x) AS BIGINT) * 1000000)
                // (max(n) * CAST(sum(x) AS BIGINT))
                - ((max(n) + 1) * 1000000) // max(n) AS BIGINT)
               AS gini_ppm
    FROM ranked
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of consumption inequality across circuits —
    the energy-access metric behind "is the grid serving everyone or
    three big loads?" (and, pointed at token counts, the
    data-distribution balance of a corpus).  Exact rank formula
    G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending totals, computed
    entirely in BIGINT with ppm integer division (both terms
    truncate identically — each is independently // 'd, so no signed
    division arises); per-circuit totals first downscale to 1e-2
    units so the 2·Σi·x·1e6 moment stays inside int64 (Gini is
    scale-invariant, and at larger circuit counts the downscale
    exponent is the knob).  Plan: per-circuit totals (one exchange), then
    an unpartitioned rank window over the CIRCUIT dimension — small
    by definition (same justification as the Pareto op); the i·x
    moment partial-aggregates map-side."""
    e = load_table(spark, sf_dir, "events")
    totals = e.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) DIV 10000"
            " AS BIGINT)"
        ).alias("x")
    )
    wo = Window.orderBy("x", "user_id")
    wall = Window.partitionBy()
    ranked = totals.select(
        "x",
        F.row_number().over(wo).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return ranked.agg(
        F.max("n").alias("n_circuits"),
        F.sum("x").alias("total_micro"),
        F.expr(
            "CAST((2 * sum(i * x) * 1000000) DIV (max(n) * sum(x))"
            " - ((max(n) + 1) * 1000000) DIV max(n) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@op(
    "agg_benford",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
    SELECT digit,
           count(*) AS n_values,
           CAST((count(*) * 1000000) // max(tot.n) AS BIGINT) AS observed_ppm,
           CAST(floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) AS BIGINT)
               AS benford_ppm,
           CAST((count(*) * 1000000) // max(tot.n)
                - CAST(floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5)
                       AS BIGINT) AS BIGINT) AS deviation_ppm
    FROM d CROSS JOIN tot
    GROUP BY digit
    """,
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data detector (organic multiplicative quantities put
    ~30.1% of leading digits at 1; uniform-random fakes put ~11.1%):
    observed leading-digit shares vs the log10(1+1/d) expectation,
    both in integer ppm, with the signed deviation per digit.  The
    fixture's uniform-ish synthetic prices will FAIL Benford loudly —
    which is the point: this op is the auditor that tells synthetic
    from organic.  Leading digit extracted through an exact integer
    rendering (floor to BIGINT, then first char — no scientific
    notation risk); expectation quantized identically in both
    engines.  Plan: one partial-agg groupBy over 9 digit groups +
    a broadcast scalar total."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    g = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_values"))
    bppm = "CAST(floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) AS BIGINT)"
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_values",
            F.expr("CAST((n_values * 1000000) DIV n AS BIGINT)").alias(
                "observed_ppm"
            ),
            F.expr(bppm).alias("benford_ppm"),
            F.expr(
                f"CAST((n_values * 1000000) DIV n - {bppm} AS BIGINT)"
            ).alias("deviation_ppm"),
        )
    )


@op(
    "agg_chi_square",
    oracle=f"""
    WITH obs AS (
        SELECT event_type,
               CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), margins AS (
        SELECT event_type, dow, o,
               CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
               CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS col_n,
               CAST(sum(o) OVER () AS BIGINT) AS n
        FROM obs
    ), cells AS (
        SELECT CAST(floor(
                   (CAST(o AS DOUBLE)
                    - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   * (CAST(o AS DOUBLE)
                      - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT) AS cell_q6,
               n
        FROM margins
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS n_rows,
           {sql_dsum('cell_q6 / 1e6')} AS chi_square_q4
    FROM cells
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (record type × day-of-week):
    is usage behavior uniform across the week, or do event types
    cluster on days?  The hypothesis-testing entry of the statistics
    family: observed contingency counts, margin-product expectations,
    X² = Σ (o−e)²/e.  Each cell's contribution is one shared double
    expression over identical integers, quantized to 1e-6 units
    BEFORE the sum (order-independent, the standard trick), and the
    statistic is their exact decimal sum, rounded once (``dsum``).
    Plan: the contingency table is tiny (5 types × 7 days); margins come from
    windows over those 35 rows — the event scan's partial-agg
    groupBy is the only real work at any scale."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wall = Window.partitionBy()
    margins = obs.select(
        "o",
        F.sum("o").over(wr).alias("row_n"),
        F.sum("o").over(wc).alias("col_n"),
        F.sum("o").over(wall).alias("n"),
    )
    exp = (
        "CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    cells = margins.select(
        F.expr(
            f"CAST(floor((CAST(o AS DOUBLE) - {exp})"
            f" * (CAST(o AS DOUBLE) - {exp}) / ({exp}) * 1e6 + 0.5)"
            f" AS BIGINT)"
        ).alias("cell_q6"),
        "n",
    )
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n").alias("n_rows"),
        dsum(F.col("cell_q6") / F.lit(1e6)).alias("chi_square_q4"),
    )


@op(
    "agg_cramers_v",
    oracle="""
    WITH obs AS (
        SELECT event_type,
               CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), margins AS (
        SELECT event_type, dow, o,
               CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
               CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS col_n,
               CAST(sum(o) OVER () AS BIGINT) AS n,
               CAST(count(DISTINCT event_type) OVER () AS BIGINT) AS r_levels,
               CAST(count(DISTINCT dow) OVER () AS BIGINT) AS c_levels
        FROM obs
    ), cells AS (
        SELECT CAST(floor(
                   (CAST(o AS DOUBLE)
                    - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   * (CAST(o AS DOUBLE)
                      - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                        / CAST(n AS DOUBLE))
                   / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   * 1e6 + 0.5) AS BIGINT) AS cell_q6,
               n, r_levels, c_levels
        FROM margins
    ), tot AS (
        SELECT CAST(sum(cell_q6) AS BIGINT) AS chi2_q6,
               CAST(max(n) AS BIGINT) AS n_rows,
               CAST(max(r_levels) AS BIGINT) AS r_levels,
               CAST(max(c_levels) AS BIGINT) AS c_levels
        FROM cells
    )
    SELECT n_rows, r_levels, c_levels, chi2_q6,
           CAST(floor(sqrt(
               CAST(chi2_q6 AS DOUBLE) / 1e6
               / (CAST(n_rows AS DOUBLE)
                  * CAST(CASE WHEN r_levels < c_levels THEN r_levels
                              ELSE c_levels END - 1 AS DOUBLE)))
               * 1e6 + 0.5) AS BIGINT) AS cramers_v_ppm
    FROM tot
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the type × day-of-week association —
    the STRENGTH companion to agg_chi_square's significance (a huge n
    makes any χ² "significant"; V = sqrt(χ²/(n·min(r−1,c−1))) stays in
    [0,1] and answers "does it matter").  Reuses the chi-square cell
    discipline exactly: per-cell (o−e)²/e quantized to 1e-6 units
    BEFORE the integer sum (order-independent), then ONE sqrt — IEEE
    correctly-rounded, engine-identical, ieee_ok-exempt because the
    graded output is the floor-quantized ppm BIGINT, never a raw
    double.  Plan: identical to agg_chi_square — the event scan's
    partial-agg groupBy into a 5×7 contingency table is the only
    scale-bearing work; margins, levels, and V live on ≤35 rows."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    wall = Window.partitionBy()
    margins = obs.select(
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_n"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col_n"),
        F.sum("o").over(wall).alias("n"),
        F.size(F.collect_set("event_type").over(wall))
        .cast("bigint")
        .alias("r_levels"),
        F.size(F.collect_set("dow").over(wall)).cast("bigint").alias("c_levels"),
    )
    exp = (
        "CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    cells = margins.select(
        F.expr(
            f"CAST(floor((CAST(o AS DOUBLE) - {exp})"
            f" * (CAST(o AS DOUBLE) - {exp}) / ({exp}) * 1e6 + 0.5)"
            f" AS BIGINT)"
        ).alias("cell_q6"),
        "n",
        "r_levels",
        "c_levels",
    )
    tot = cells.agg(
        F.sum("cell_q6").cast("bigint").alias("chi2_q6"),
        F.max("n").alias("n_rows"),
        F.max("r_levels").alias("r_levels"),
        F.max("c_levels").alias("c_levels"),
    )
    return tot.select(
        "n_rows",
        "r_levels",
        "c_levels",
        "chi2_q6",
        F.expr(
            "CAST(floor(sqrt(CAST(chi2_q6 AS DOUBLE) / 1e6"
            " / (CAST(n_rows AS DOUBLE)"
            "    * CAST(least(r_levels, c_levels) - 1 AS DOUBLE)))"
            " * 1e6 + 0.5) AS BIGINT)"
        ).alias("cramers_v_ppm"),
    )


@op(
    "agg_ks_test",
    oracle="""
    WITH s AS (
        SELECT CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wknd
        FROM events
    ), g AS (
        SELECT vq,
               CAST(sum(wknd) AS BIGINT) AS d2,
               CAST(sum(1 - wknd) AS BIGINT) AS d1
        FROM s GROUP BY vq
    ), counts AS (
        SELECT CAST(sum(d2) AS BIGINT) AS n2,
               CAST(sum(d1) AS BIGINT) AS n1
        FROM g
    ), run AS (
        SELECT CAST(sum(d1) OVER w AS BIGINT) AS c1,
               CAST(sum(d2) OVER w AS BIGINT) AS c2
        FROM g
        WINDOW w AS (ORDER BY vq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT max(counts.n1) AS n_weekday,
           max(counts.n2) AS n_weekend,
           CAST(max(abs(run.c1 * counts.n2 - run.c2 * counts.n1) * 1000000
                    // (counts.n1 * counts.n2)) AS BIGINT) AS ks_d_ppm
    FROM run CROSS JOIN counts
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, EXACT: does weekend
    usage follow a different distribution than weekday usage?
    D = max |F₁(x) − F₂(x)| over the merged sample.  Both empirical
    CDFs are step functions that jump ONLY at distinct data values,
    so the rows are first reduced to per-distinct-value weekday /
    weekend counts (d₁, d₂) with a distributed groupBy — the global
    running-count window then scans the bounded distinct-value
    domain (≤ ~10⁶ quantized values regardless of row count), never
    the raw events (VERDICT r03: the raw-row version moved the whole
    table through one window task).  Computed as integer rationals:
    running counts c₁, c₂ give |c₁·n₂ − c₂·n₁| / (n₁·n₂) at every
    step, and the max is taken BEFORE any division loses exactness
    (one ppm DIV at the very end, inside max since the denominator
    is constant).  Evaluating at group boundaries (all ties of a
    value included) is also the statistically-correct reading of
    sup|F₁−F₂| — the prior row-at-a-time running max could peak
    mid-tie-group, an artifact of event_id tie-break order.  DuckDB
    dayofweek is 0=Sunday vs Spark 1=Sunday — the weekend set is
    written per-engine ((0,6) vs (1,7)) to mean the same days.
    Plan: one shuffle for the groupBy, one single-task window over
    the compact value domain; weekday/weekend totals broadcast."""
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        F.expr("CAST(floor(value * 1e4 + 0.5) AS BIGINT)").alias("vq"),
        F.expr(
            "CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END"
        ).alias("wknd"),
    )
    g = s.groupBy("vq").agg(
        F.sum("wknd").alias("d2"), F.sum(F.expr("1 - wknd")).alias("d1")
    )
    counts = g.agg(F.sum("d2").alias("n2"), F.sum("d1").alias("n1"))
    w = Window.orderBy("vq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = g.select(
        F.sum("d1").over(w).alias("c1"),
        F.sum("d2").over(w).alias("c2"),
    )
    return run.crossJoin(F.broadcast(counts)).agg(
        F.max("n1").alias("n_weekday"),
        F.max("n2").alias("n_weekend"),
        F.expr(
            "CAST(max(abs(c1 * n2 - c2 * n1) * 1000000 DIV (n1 * n2))"
            " AS BIGINT)"
        ).alias("ks_d_ppm"),
    )


@op(
    "agg_hhi",
    oracle="""
    WITH m AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   // 10000 AS xc
        FROM events GROUP BY user_id
    ), tot AS (SELECT CAST(sum(xc) AS BIGINT) AS n FROM m),
    shares AS (
        SELECT CAST((xc * 1000000) // tot.n AS BIGINT) AS share_ppm,
               row_number() OVER (ORDER BY xc DESC, user_id) AS rnk
        FROM m CROSS JOIN tot
    )
    SELECT count(*) AS n_entities,
           CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
           CAST(sum(CASE WHEN rnk <= 4 THEN share_ppm ELSE 0 END) AS BIGINT)
               AS cr4_ppm
    FROM shares
    """,
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration indexes over circuit consumption: Herfindahl-
    Hirschman (Σ shareᵢ², the antitrust metric — 10,000 ppm-of-ppm =
    monopoly) and CR4 (top-4 combined share) — "is the grid's load,
    or a corpus's source mix, dominated by a few?"  Completes the
    inequality toolkit next to Gini (Gini measures the whole curve's
    skew; HHI punishes top-end dominance quadratically).  Shares
    compute in integer ppm from centi-downscaled totals; HHI sums
    ppm² then rescales by 1e6 — max Σ is 1e12, exact in BIGINT at
    any entity count.  Plan: per-entity totals, broadcast scalar
    total, one tiny rank window over the entity dimension."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) DIV 10000"
            " AS BIGINT)"
        ).alias("xc")
    )
    tot = m.agg(F.sum("xc").alias("n"))
    wo = Window.orderBy(F.col("xc").desc(), "user_id")
    shares = m.crossJoin(F.broadcast(tot)).select(
        F.expr("CAST((xc * 1000000) DIV n AS BIGINT)").alias("share_ppm"),
        F.row_number().over(wo).alias("rnk"),
    )
    return shares.agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.expr(
            "CAST(sum(share_ppm * share_ppm) DIV 1000000 AS BIGINT)"
        ).alias("hhi_ppm"),
        F.sum(
            F.when(F.col("rnk") <= 4, F.col("share_ppm")).otherwise(0)
        )
        .cast("bigint")
        .alias("cr4_ppm"),
    )


@op(
    "agg_lorenz_points",
    oracle="""
    WITH m AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   // 10000 AS xc
        FROM events GROUP BY user_id
    ), r AS (
        SELECT xc,
               CAST(row_number() OVER (ORDER BY xc, user_id) AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(xc) OVER (ORDER BY xc, user_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(sum(xc) OVER () AS BIGINT) AS tot
        FROM m
    )
    SELECT CAST((i * 10) // n AS BIGINT) AS decile,
           CAST(max((i * 1000000) // n) AS BIGINT) AS pop_share_ppm,
           CAST(max((cum * 1000000) // tot) AS BIGINT) AS value_share_ppm
    FROM r
    WHERE (i * 10) // n >= 1
    GROUP BY 1
    """,
)
def agg_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve decile points — the PLOT behind the Gini number:
    at each population decile (circuits ascending by consumption),
    the cumulative share of total consumption ("the bottom 50% of
    circuits draw X% of the energy").  Per decile the MAX of both
    running shares is the decile's right-edge curve point; all
    arithmetic is the integer-ppm running-share machinery shared
    with win_cumulative_share, grouped to 10 rows.  Plan: entity
    totals (one exchange), one small rank window over the entity
    dimension, then a 10-group aggregate."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.expr(
            "CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) DIV 10000"
            " AS BIGINT)"
        ).alias("xc")
    )
    wo = Window.orderBy("xc", "user_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    r = m.select(
        "xc",
        F.row_number().over(wo).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("xc").over(wrun).alias("cum"),
        F.sum("xc").over(wall).alias("tot"),
    )
    return (
        r.filter(F.expr("(i * 10) DIV n >= 1"))
        .groupBy(F.expr("CAST((i * 10) DIV n AS BIGINT)").alias("decile"))
        .agg(
            F.expr("CAST(max((i * 1000000) DIV n) AS BIGINT)").alias(
                "pop_share_ppm"
            ),
            F.expr("CAST(max((cum * 1000000) DIV tot) AS BIGINT)").alias(
                "value_share_ppm"
            ),
        )
    )


@op(
    "agg_mann_whitney",
    oracle="""
    WITH q AS (
        SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), g AS (
        SELECT vq,
               CAST(sum(is_a) AS BIGINT) AS ca,
               CAST(sum(1 - is_a) AS BIGINT) AS cb
        FROM q GROUP BY vq
    ), r AS (
        SELECT ca, cb,
               CAST(coalesce(sum(ca + cb) OVER (
                   ORDER BY vq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS lt
        FROM g
    ), s AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b,
               CAST(sum(ca * (2 * lt + ca + cb + 1)) AS BIGINT) AS rank2_a
        FROM r
    )
    SELECT n_a, n_b, rank2_a,
           CAST(rank2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           CAST(2 * n_a * n_b - (rank2_a - n_a * (n_a + 1)) AS BIGINT) AS u2_b
    FROM s
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Mann-Whitney U (Wilcoxon rank-sum) comparing
    the `value` distribution of click vs purchase events — the
    nonparametric A/B answer to "did the distribution shift?" that,
    unlike the KS statistic, weights the whole distribution rather
    than the single worst CDF gap.  Tie handling is the textbook
    midrank, kept EXACT in integers by carrying 2x the rank sum
    (every midrank over a tie group of size ct starting after lt
    smaller items is (2*lt + ct + 1) / 2, so doubling clears the
    half).  U2_a + U2_b == 2 * n_a * n_b is the built-in self-check.

    Scale shape (the agg_ks_test pattern): values are quantized to
    integer micro-units and COUNTED per distinct value first, so the
    one unpartitioned running window ranks the bounded distinct-value
    domain (<= ~3e8 for bounded sensor ranges), never raw rows; at
    100 TB the pre-aggregate is the only full-width shuffle."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    q = e.select(
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("vq"),
        F.when(F.col("event_type") == "click", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_a"),
    )
    g = q.groupBy("vq").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).cast("bigint").alias("cb"),
    )
    w = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "ca",
        "cb",
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0))
        .cast("bigint")
        .alias("lt"),
    )
    s = r.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum(
            F.col("ca")
            * (F.lit(2) * F.col("lt") + F.col("ca") + F.col("cb") + F.lit(1))
        )
        .cast("bigint")
        .alias("rank2_a"),
    )
    return s.select(
        "n_a",
        "n_b",
        "rank2_a",
        F.expr("CAST(rank2_a - n_a * (n_a + 1) AS BIGINT)").alias("u2_a"),
        F.expr(
            "CAST(2 * n_a * n_b - (rank2_a - n_a * (n_a + 1)) AS BIGINT)"
        ).alias("u2_b"),
    )


@op(
    "agg_trimmed_mean",
    oracle="""
    WITH q AS (
        SELECT event_type, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, vq,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY vq, event_id
               ) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(sum(vq) OVER (PARTITION BY event_type) AS BIGINT)
                   AS sum_all
        FROM q
    )
    SELECT event_type,
           max(n) AS n_rows,
           CAST(max(n) // 10 AS BIGINT) AS k_trimmed,
           count(*) AS n_kept,
           CAST(CAST(sum(vq) AS BIGINT) // count(*) AS BIGINT)
               AS trimmed_mean_micro,
           CAST(max(sum_all) // max(n) AS BIGINT) AS raw_mean_micro
    FROM r
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY event_type
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% rank-trimmed mean of event value per event type — the
    robust-center estimate that survives the fat tails and sentinel
    garbage (-999, 1e9) that poison a raw mean in field telemetry.
    The trim is by EXACT rank (drop the bottom and top n DIV 10 rows
    under a (value, event_id) total order), not by percentile
    thresholds, so both engines cut at the identical row and the
    result is fully hash-stable: values are quantized to micro-units
    BEFORE ranking and the kept-row mean is an integer DIV — no float
    accumulation anywhere.  raw_mean_micro rides along from a window
    total so the trim's effect is visible without a second scan.

    Scale: the rank window partitions by event_type — fine while the
    type dimension is the partition bound; for a hot single type the
    documented two-pass variant range-partitions on vq and computes
    per-range offsets from a count-by-range broadcast (the gated
    win_cumulative_share pattern)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = e.select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("vq"),
    )
    wp = Window.partitionBy("event_type")
    wr = wp.orderBy("vq", "event_id")
    r = q.select(
        "event_type",
        "vq",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        F.sum("vq").over(wp).cast("bigint").alias("sum_all"),
    )
    kept = r.filter(F.expr("rn > n DIV 10 AND rn <= n - n DIV 10"))
    return kept.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        F.expr("CAST(max(n) DIV 10 AS BIGINT)").alias("k_trimmed"),
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("CAST(sum(vq) DIV count(1) AS BIGINT)").alias(
            "trimmed_mean_micro"
        ),
        F.expr("CAST(max(sum_all) DIV max(n) AS BIGINT)").alias(
            "raw_mean_micro"
        ),
    )


@op(
    "agg_binomial_ci",
    oracle="""
    WITH c AS (
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type IN ('click', 'purchase')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_total
        FROM events GROUP BY 1
    ), p AS (
        SELECT dow, n_purchase, n_total,
               CAST(n_purchase * 1000000 // n_total AS BIGINT) AS p_ppm
        FROM c WHERE n_total > 0
    )
    SELECT dow, n_purchase, n_total, p_ppm,
           CAST(floor(1.96 * sqrt(
               CAST(p_ppm AS DOUBLE) * CAST(1000000 - p_ppm AS DOUBLE)
               / (1000000.0 * 1000000.0 * CAST(n_total AS DOUBLE))
           ) * 1000000.0) AS BIGINT) AS half_width_ppm,
           greatest(p_ppm - CAST(floor(1.96 * sqrt(
               CAST(p_ppm AS DOUBLE) * CAST(1000000 - p_ppm AS DOUBLE)
               / (1000000.0 * 1000000.0 * CAST(n_total AS DOUBLE))
           ) * 1000000.0) AS BIGINT), 0) AS lo_ppm,
           least(p_ppm + CAST(floor(1.96 * sqrt(
               CAST(p_ppm AS DOUBLE) * CAST(1000000 - p_ppm AS DOUBLE)
               / (1000000.0 * 1000000.0 * CAST(n_total AS DOUBLE))
           ) * 1000000.0) AS BIGINT), 1000000) AS hi_ppm
    FROM p
    """,
)
def agg_binomial_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wald confidence interval on the purchase share among
    click/purchase events per day-of-week — the "is Tuesday really
    better?" interval an experimenter needs before reading a
    conversion table.  Parity design: the point estimate is integer
    ppm (counts only), and the half-width is ONE textually identical
    IEEE expression on exact integer inputs — casts of BIGINT are
    exact, and /, *, sqrt are all correctly rounded, so both engines
    walk the same float path bit-for-bit before the final floor; no
    engine-library rounding (no round(), no pow()) is involved.
    Bounds clamp to [0, 1e6] ppm.

    Scale: one partial-agg groupBy over 7 dow groups — nothing else."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(F.expr("CAST(dayofweek(ts) AS BIGINT)").alias("dow")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchase"),
        F.sum(
            F.when(F.col("event_type").isin("click", "purchase"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_total"),
    )
    p = c.filter(F.col("n_total") > 0).withColumn(
        "p_ppm", F.expr("CAST(n_purchase * 1000000 DIV n_total AS BIGINT)")
    )
    half = (
        "CAST(floor(1.96 * sqrt("
        "CAST(p_ppm AS DOUBLE) * CAST(1000000 - p_ppm AS DOUBLE)"
        " / (1000000.0 * 1000000.0 * CAST(n_total AS DOUBLE))"
        ") * 1000000.0) AS BIGINT)"
    )
    return p.select(
        "dow",
        "n_purchase",
        "n_total",
        "p_ppm",
        F.expr(half).alias("half_width_ppm"),
        F.expr(f"greatest(p_ppm - {half}, CAST(0 AS BIGINT))").alias("lo_ppm"),
        F.expr(f"least(p_ppm + {half}, CAST(1000000 AS BIGINT))").alias(
            "hi_ppm"
        ),
    )


#: agg_mutual_info stages TWO deterministic-ln chains on the tiny
#: (type × dow) census — distinct column names so both ladders can
#: live in one projection (the shared LN_* names would collide).
_MI_X, _MI_P2C, _MI_EL, _MI_S = "__mi_x", "__mi_p2", "__mi_eln2", "__mi_s"
_HT_X, _HT_P2C, _HT_EL, _HT_S = "__ht_x", "__ht_p2", "__ht_eln2", "__ht_s"
_MI_P2, _MI_ELN2 = sql_ln_ladders(x=_MI_X)  # ratio spans both sides of 1
_HT_P2, _HT_ELN2 = sql_ln_ladders(x=_HT_X, lo_e=-62, hi_e=0)  # p <= 1
_MI_LOG2 = sql_log2_from_ln(sql_ln_final(s=_MI_S, eln2=_MI_EL))
_HT_LOG2 = sql_log2_from_ln(sql_ln_final(s=_HT_S, eln2=_HT_EL))
_MI_TERM = (
    f"CAST(floor((CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))"
    f" * {_MI_LOG2} * 1.0e12 + 5.0e-1) AS BIGINT)"
)
_HT_TERM = (
    f"CASE WHEN nij = ni THEN"
    f" CAST(floor((CAST(ni AS DOUBLE) / CAST(n AS DOUBLE))"
    f" * {_HT_LOG2} * 1.0e12 + 5.0e-1) AS BIGINT)"
    f" ELSE CAST(0 AS BIGINT) END"
)


@op(
    "agg_mutual_info",
    oracle=f"""
    WITH obs AS (
        SELECT event_type,
               CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS nij
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, dow, nij,
               CAST(sum(nij) OVER (PARTITION BY event_type) AS BIGINT) AS ni,
               CAST(sum(nij) OVER (PARTITION BY dow) AS BIGINT) AS nj,
               CAST(sum(nij) OVER () AS BIGINT) AS n
        FROM obs
    ), s0 AS (
        SELECT nij, ni, nj, n,
               CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)
                   / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)) AS {_MI_X},
               CAST(ni AS DOUBLE) / CAST(n AS DOUBLE) AS {_HT_X}
        FROM m
    ), s1 AS (
        SELECT *, {_MI_P2} AS {_MI_P2C}, {_MI_ELN2} AS {_MI_EL},
               {_HT_P2} AS {_HT_P2C}, {_HT_ELN2} AS {_HT_EL}
        FROM s0
    ), s2 AS (
        SELECT nij, ni, n, {_MI_EL}, {_HT_EL},
               {sql_ln_s(x=_MI_X, p2=_MI_P2C)} AS {_MI_S},
               {sql_ln_s(x=_HT_X, p2=_HT_P2C)} AS {_HT_S}
        FROM s1
    ), terms AS (
        SELECT n, {_MI_TERM} AS mi_q, {_HT_TERM} AS ht_q FROM s2
    )
    SELECT CAST(max(n) AS BIGINT) AS n_events,
           count(*) AS n_cells,
           floor(CAST(CAST(sum(mi_q) AS BIGINT) AS DOUBLE) / 1.0e6 + 5.0e-1)
               / 1.0e6 AS mi_bits,
           floor(CAST(-CAST(sum(ht_q) AS BIGINT) AS DOUBLE) / 1.0e6 + 5.0e-1)
               / 1.0e6 AS h_type_partial_bits
    FROM terms
    """,
)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week, in bits
    — the strength-of-dependence companion to agg_chi_square's
    significance test (chi-square says "dependent", MI says "by how
    many bits").  The agg_cat_entropy parity pattern, r7 libm-free:
    both log2 terms ride the staged deterministic ln ladders
    (parity.sql_ln_*; two chains with distinct stage names, one per
    ratio domain), so every per-cell term is identical bits on both
    engines before it quantizes to 1e-12 integer units; the
    accumulation is exact BIGINT math and the display values are
    floor-based 1e-6 snaps.  The h_type_partial_bits rider (entropy
    terms where a type concentrates on one dow cell, i.e. nij == ni)
    is a degenerate-distribution canary: it is 0 unless some type is
    perfectly predicted by dow — the case MI must then equal that
    type's entropy contribution.

    Scale: the (type, dow) census is the only fact-width aggregate;
    margins ride windows over the 35-cell matrix (the ladders run on
    those 35 rows, never per event).  Note the dow bucket itself
    never crosses engines (both sides derive margins from their own
    bucketing; the cell/margin COUNTS are engine-local and identical
    because the underlying instants are)."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.expr("CAST(dayofweek(ts) AS BIGINT)").alias("dow")
    ).agg(F.count(F.lit(1)).alias("nij"))
    wi = Window.partitionBy("event_type")
    wj = Window.partitionBy("dow")
    wall = Window.partitionBy()
    m = obs.select(
        "nij",
        F.sum("nij").over(wi).cast("bigint").alias("ni"),
        F.sum("nij").over(wj).cast("bigint").alias("nj"),
        F.sum("nij").over(wall).cast("bigint").alias("n"),
    )
    staged = (
        m.withColumn(
            _MI_X,
            F.expr(
                "CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)"
                " / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))"
            ),
        )
        .withColumn(_HT_X, F.expr("CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn(_MI_P2C, F.expr(_MI_P2))
        .withColumn(_MI_EL, F.expr(_MI_ELN2))
        .withColumn(_HT_P2C, F.expr(_HT_P2))
        .withColumn(_HT_EL, F.expr(_HT_ELN2))
        .withColumn(_MI_S, F.expr(sql_ln_s(x=_MI_X, p2=_MI_P2C)))
        .withColumn(_HT_S, F.expr(sql_ln_s(x=_HT_X, p2=_HT_P2C)))
        .select(
            "n",
            F.expr(_MI_TERM).alias("mi_q"),
            F.expr(_HT_TERM).alias("ht_q"),
        )
    )
    return staged.agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        F.expr(
            "floor(CAST(CAST(sum(mi_q) AS BIGINT) AS DOUBLE) / 1.0e6"
            " + 5.0e-1) / 1.0e6"
        ).alias("mi_bits"),
        F.expr(
            "floor(CAST(-CAST(sum(ht_q) AS BIGINT) AS DOUBLE) / 1.0e6"
            " + 5.0e-1) / 1.0e6"
        ).alias("h_type_partial_bits"),
    )


@op(
    "agg_tukey_outliers",
    oracle="""
    WITH q AS (
        SELECT event_type, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, vq,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY vq, event_id
               ) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM q
    ), f AS (
        SELECT event_type, vq, n,
               CAST(max(CASE WHEN rn = (n + 3) // 4 THEN vq END)
                    OVER (PARTITION BY event_type) AS BIGINT) AS q1,
               CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN vq END)
                    OVER (PARTITION BY event_type) AS BIGINT) AS q3
        FROM r
    )
    SELECT event_type,
           max(n) AS n_rows,
           max(q1) AS q1_micro,
           max(q3) AS q3_micro,
           CAST(max(q3) - max(q1) AS BIGINT) AS iqr_micro,
           CAST(sum(CASE WHEN vq < q1 - (3 * (q3 - q1)) // 2
                          OR vq > q3 + (3 * (q3 - q1)) // 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM f GROUP BY event_type
    """,
)
def agg_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per event type: exact type-1
    (rank-selected) quartiles, the 1.5×IQR fences, and the count of
    points beyond them — the boxplot's outlier rule as a single
    engine pass, and the robust alternative to z-score screens whose
    mean/σ the outliers themselves poison.  Quartiles are the values
    at ranks ceil(n/4) / ceil(3n/4) under the (value, event_id)
    total order — no interpolation semantic to reconcile across
    engines, all arithmetic in integer micro-units (fence halves use
    (3·IQR) DIV 2, truncating identically on both sides).

    Plan: rank + two quartile-pick windows + the outlier test all
    partition by event_type and collapse into one aggregate — ONE
    exchange total (the trimmed-mean shape, and the same documented
    two-pass range-partitioned variant for a hot single type)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = e.select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("vq"),
    )
    wp = Window.partitionBy("event_type")
    wr = wp.orderBy("vq", "event_id")
    r = q.select(
        "event_type",
        "vq",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    f = r.select(
        "event_type",
        "vq",
        "n",
        F.max(F.expr("CASE WHEN rn = (n + 3) DIV 4 THEN vq END"))
        .over(wp)
        .cast("bigint")
        .alias("q1"),
        F.max(F.expr("CASE WHEN rn = (3 * n + 3) DIV 4 THEN vq END"))
        .over(wp)
        .cast("bigint")
        .alias("q3"),
    )
    return f.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        F.max("q1").alias("q1_micro"),
        F.max("q3").alias("q3_micro"),
        F.expr("CAST(max(q3) - max(q1) AS BIGINT)").alias("iqr_micro"),
        F.expr(
            "CAST(sum(CASE WHEN vq < q1 - (3 * (q3 - q1)) DIV 2"
            " OR vq > q3 + (3 * (q3 - q1)) DIV 2 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_outliers"),
    )


@op(
    "report_experiment_health",
    oracle="""
    WITH armed AS (
        SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
               event_type, value
        FROM events
    ), users AS (
        SELECT CAST(count(DISTINCT CASE WHEN arm = 0 THEN user_id END)
                    AS BIGINT) AS n_users_a,
               CAST(count(DISTINCT CASE WHEN arm = 1 THEN user_id END)
                    AS BIGINT) AS n_users_b
        FROM armed
    ), conv AS (
        SELECT arm,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type IN ('click', 'purchase')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_total
        FROM armed GROUP BY arm
    ), cvr AS (
        SELECT CAST(max(CASE WHEN arm = 0
                             THEN n_purchase * 1000000 // n_total END)
                    AS BIGINT) AS cvr_a_ppm,
               CAST(max(CASE WHEN arm = 1
                             THEN n_purchase * 1000000 // n_total END)
                    AS BIGINT) AS cvr_b_ppm
        FROM conv
    ), g AS (
        SELECT CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
        FROM armed
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ), rr AS (
        SELECT ca, cb,
               CAST(coalesce(sum(ca + cb) OVER (
                   ORDER BY vq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS lt
        FROM g
    ), mw AS (
        SELECT CAST(sum(ca) AS BIGINT) AS mw_n_a,
               CAST(sum(cb) AS BIGINT) AS mw_n_b,
               CAST(sum(ca * (2 * lt + ca + cb + 1))
                    - sum(ca) * (sum(ca) + 1) AS BIGINT) AS mw_u2_a
        FROM rr
    )
    SELECT users.n_users_a, users.n_users_b,
           CAST((users.n_users_a - users.n_users_b)
                * (users.n_users_a - users.n_users_b) * 1000000
                // (users.n_users_a + users.n_users_b) AS BIGINT)
               AS srm_chi2_q6,
           cvr.cvr_a_ppm, cvr.cvr_b_ppm,
           CAST(cvr.cvr_a_ppm - cvr.cvr_b_ppm AS BIGINT) AS delta_cvr_ppm,
           mw.mw_n_a, mw.mw_n_b, mw.mw_u2_a
    FROM users CROSS JOIN cvr CROSS JOIN mw
    """,
)
def report_experiment_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B experiment-health readout an analyst wants as ONE row
    before trusting any lift number — composing this round's
    statistics ladder: (1) sample-ratio-mismatch χ² on the USER
    assignment split (the silent killer of experiment validity —
    traffic imbalance means broken bucketing, not treatment effect);
    (2) conversion per arm and the raw delta in ppm; (3) the exact
    Mann-Whitney 2U between arm purchase-value distributions (did
    the spend DISTRIBUTION shift, not just the mean).  Arms are the
    deterministic user_id parity split.  Every column is integer
    (counts, ppm DIVs, doubled midranks) — fully hash-stable.

    Plan: three independent single-row aggregates (distinct-user
    census, conversion counts, the pre-aggregated quantized value
    domain for ranks) broadcast-crossed into the report row — the
    fact is scanned once per statistic family, never joined
    row-wise."""
    e = load_table(spark, sf_dir, "events")
    armed = e.select(
        "user_id",
        F.expr("CAST(user_id % 2 AS BIGINT)").alias("arm"),
        "event_type",
        "value",
    )
    users = armed.agg(
        F.countDistinct(
            F.when(F.col("arm") == 0, F.col("user_id"))
        ).cast("bigint").alias("n_users_a"),
        F.countDistinct(
            F.when(F.col("arm") == 1, F.col("user_id"))
        ).cast("bigint").alias("n_users_b"),
    )
    conv = armed.groupBy("arm").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchase"),
        F.sum(
            F.when(
                F.col("event_type").isin("click", "purchase"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_total"),
    )
    cvr = conv.agg(
        F.max(
            F.expr(
                "CASE WHEN arm = 0 THEN n_purchase * 1000000 DIV n_total END"
            )
        )
        .cast("bigint")
        .alias("cvr_a_ppm"),
        F.max(
            F.expr(
                "CASE WHEN arm = 1 THEN n_purchase * 1000000 DIV n_total END"
            )
        )
        .cast("bigint")
        .alias("cvr_b_ppm"),
    )
    g = (
        armed.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy(
            F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("vq")
        )
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    w = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, -1)
    rr = g.select(
        "ca",
        "cb",
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0))
        .cast("bigint")
        .alias("lt"),
    )
    mw = rr.agg(
        F.sum("ca").cast("bigint").alias("mw_n_a"),
        F.sum("cb").cast("bigint").alias("mw_n_b"),
        F.expr(
            "CAST(sum(ca * (2 * lt + ca + cb + 1))"
            " - sum(ca) * (sum(ca) + 1) AS BIGINT)"
        ).alias("mw_u2_a"),
    )
    return (
        users.crossJoin(F.broadcast(cvr))
        .crossJoin(F.broadcast(mw))
        .select(
            "n_users_a",
            "n_users_b",
            F.expr(
                "CAST((n_users_a - n_users_b) * (n_users_a - n_users_b)"
                " * 1000000 DIV (n_users_a + n_users_b) AS BIGINT)"
            ).alias("srm_chi2_q6"),
            "cvr_a_ppm",
            "cvr_b_ppm",
            F.expr("CAST(cvr_a_ppm - cvr_b_ppm AS BIGINT)").alias(
                "delta_cvr_ppm"
            ),
            "mw_n_a",
            "mw_n_b",
            "mw_u2_a",
        )
    )


@op(
    "agg_welch_ttest",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wknd
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(sum(1 - wknd) AS BIGINT) AS n1,
               CAST(sum(wknd) AS BIGINT) AS n2,
               CAST(sum(vq * (1 - wknd)) AS BIGINT) AS s1,
               CAST(sum(vq * wknd) AS BIGINT) AS s2,
               sum(CAST(vq * vq * (1 - wknd) AS DECIMAL(25,8))) AS q1,
               sum(CAST(vq * vq * wknd AS DECIMAL(25,8))) AS q2
        FROM s GROUP BY event_type
    ),
    v AS (
        SELECT event_type, n1, n2,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS md,
               ((CAST(q1 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE))
                   / CAST(n1 AS DOUBLE) AS v1n,
               ((CAST(q2 AS DOUBLE)
                 - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                   / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE))
                   / CAST(n2 AS DOUBLE) AS v2n
        FROM g
    )
    SELECT event_type,
           n1 AS n_weekday, n2 AS n_weekend,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND v1n + v2n > 0
                THEN CAST(floor(md / sqrt(v1n + v2n) * 1.0e6 + 5.0e-1)
                          AS BIGINT)
                ELSE NULL END AS t_welch_q6,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND v1n + v2n > 0
                THEN CAST(floor((v1n + v2n) * (v1n + v2n)
                           / (v1n * v1n / CAST(n1 - 1 AS DOUBLE)
                              + v2n * v2n / CAST(n2 - 1 AS DOUBLE))
                           * 1.0e4 + 5.0e-1) AS BIGINT)
                ELSE NULL END AS df_welch_q4
    FROM v
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t per event_type: does the
    value distribution differ between weekend and weekday traffic?  The
    sufficient statistics (counts, sums, sums-of-squares on the
    1e-4-quantized integer value) accumulate EXACTLY — BIGINT for the
    linear terms, DECIMAL for the squares that would overflow — in one
    map-side-combined hash aggregate; t and the Welch–Satterthwaite df
    are then each ONE shared IEEE expression over those exact inputs —
    squares spelled x*x (exact IEEE multiply), NOT pow(x, 2.0) whose
    libm may differ by 1 ulp across engines (retired from the
    libm-quantized class, r6) — and the graded outputs are exact
    BIGINT quanta (t in 1e-6 units, df in 1e-4 units).  Same scheme as
    the Pearson op: identical exact inputs → identical IEEE ops →
    identical bits → identical integers.  Weekend membership is
    written per-engine (Spark dayofweek Sun=1, DuckDB Sun=0) to denote
    the same calendar days.  At 100 TB this is a 5-group aggregate:
    partials merge associatively, nothing re-scans, no window, no
    second pass."""
    from shared_solar_data_warehouse_spark.parity import DEC

    e = load_table(spark, sf_dir, "events")
    s = e.select(
        "event_type",
        F.expr("CAST(floor(value * 1e4 + 0.5) AS BIGINT)").alias("vq"),
        F.expr("CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END").alias("wknd"),
    )
    g = s.groupBy("event_type").agg(
        F.sum(F.expr("1 - wknd")).cast("long").alias("n1"),
        F.sum("wknd").cast("long").alias("n2"),
        F.sum(F.expr("vq * (1 - wknd)")).cast("long").alias("s1"),
        F.sum(F.expr("vq * wknd")).cast("long").alias("s2"),
        F.sum(F.expr("vq * vq * (1 - wknd)").cast(DEC)).alias("q1"),
        F.sum(F.expr("vq * vq * wknd").cast(DEC)).alias("q2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    q1 = F.col("q1").cast("double")
    q2 = F.col("q2").cast("double")
    v1n = ((q1 - s1 * s1 / n1) / (F.col("n1") - 1).cast("double")) / n1
    v2n = ((q2 - s2 * s2 / n2) / (F.col("n2") - 1).cast("double")) / n2
    vv = v1n + v2n
    t = (s1 / n1 - s2 / n2) / F.sqrt(vv)
    df = (vv * vv) / (
        v1n * v1n / (F.col("n1") - 1).cast("double")
        + v2n * v2n / (F.col("n2") - 1).cast("double")
    )
    # Degenerate-group guard (r6): a type with <2 rows on either side
    # or zero pooled variance yields NaN/Inf, which the two engines'
    # double->BIGINT casts handle DIFFERENTLY (DuckDB errors on Inf,
    # Spark saturates) — emit NULL instead, identically on both sides.
    ok = (F.col("n1") >= 2) & (F.col("n2") >= 2) & (vv > 0)
    return g.select(
        "event_type",
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        F.when(ok, F.floor(t * F.lit(1.0e6) + F.lit(0.5)).cast("bigint"))
        .alias("t_welch_q6"),
        F.when(ok, F.floor(df * F.lit(1.0e4) + F.lit(0.5)).cast("bigint"))
        .alias("df_welch_q4"),
    )


@op(
    "agg_winsorized_mean",
    oracle="""
    WITH q AS (
        SELECT event_type, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type, vq,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY vq, event_id
               ) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM q
    ), f AS (
        SELECT event_type, vq, n,
               CAST(max(CASE WHEN rn = (n + 19) // 20 THEN vq END)
                    OVER (PARTITION BY event_type) AS BIGINT) AS p5,
               CAST(max(CASE WHEN rn = (19 * n + 19) // 20 THEN vq END)
                    OVER (PARTITION BY event_type) AS BIGINT) AS p95
        FROM r
    )
    SELECT event_type,
           max(n) AS n_rows,
           max(p5) AS p5_micro,
           max(p95) AS p95_micro,
           floor(CAST(sum(least(greatest(vq, p5), p95)) AS DOUBLE)
                 / CAST(max(n) AS DOUBLE) / 100.0 + 0.5) / 10000.0
               AS winsor_mean,
           CAST(sum(CASE WHEN vq < p5 OR vq > p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped
    FROM f GROUP BY event_type
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95 winsorized mean per event type: the robust-center
    companion to the 10% trimmed mean — instead of DISCARDING the
    tails it CLAMPS them to the exact rank-selected P5/P95 values, so
    n stays intact and the estimator stays unbiased under symmetric
    contamination.  Thresholds are the values at ranks ceil(n/20) /
    ceil(19n/20) under the (value, event_id) total order (no
    interpolation semantic to reconcile); the clamped sum accumulates
    as exact BIGINT micro-units and the final mean is one shared IEEE
    division, floor-rounded to 1e-4 of the original unit.  Same
    ONE-exchange plan as the Tukey census: rank + threshold-pick
    windows and the clamp-aggregate all partition by event_type."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = e.select(
        "event_type",
        "event_id",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("vq"),
    )
    wp = Window.partitionBy("event_type")
    wr = wp.orderBy("vq", "event_id")
    r = q.select(
        "event_type",
        "vq",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    f = r.select(
        "event_type",
        "vq",
        "n",
        F.max(F.expr("CASE WHEN rn = (n + 19) DIV 20 THEN vq END"))
        .over(wp)
        .cast("bigint")
        .alias("p5"),
        F.max(F.expr("CASE WHEN rn = (19 * n + 19) DIV 20 THEN vq END"))
        .over(wp)
        .cast("bigint")
        .alias("p95"),
    )
    return f.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        F.max("p5").alias("p5_micro"),
        F.max("p95").alias("p95_micro"),
        (
            F.floor(
                F.sum(F.expr("least(greatest(vq, p5), p95)")).cast("double")
                / F.max("n").cast("double")
                / 100.0
                + 0.5
            )
            / 10000.0
        ).alias("winsor_mean"),
        F.sum(F.expr("CASE WHEN vq < p5 OR vq > p95 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_clamped"),
    )


def _rfm_score_map_sql(metric_cte: str, col: str) -> str:
    """DuckDB value→quintile map over one RFM metric's bounded domain."""
    return f"""
        SELECT {col} AS v,
               1 + CAST((cum_prev * 5) // n_cust AS BIGINT) AS bucket
        FROM (
            SELECT {col},
                   CAST(coalesce(sum(cnt) OVER (ORDER BY {col}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS cum_prev,
                   CAST(sum(cnt) OVER () AS BIGINT) AS n_cust
            FROM (SELECT {col}, count(*) AS cnt FROM {metric_cte}
                  GROUP BY {col}) d
        ) c
    """


@op(
    "agg_rfm_segmentation",
    oracle=f"""
    WITH ref AS (SELECT max(o_orderdate) AS ref_ts FROM orders),
    cust AS (
        SELECT o.o_custkey AS custkey,
               CAST(date_diff('day', CAST(max(o.o_orderdate) AS DATE),
                              CAST(max(r.ref_ts) AS DATE)) AS BIGINT)
                   AS r_days,
               CAST(count(*) AS BIGINT) AS f_orders,
               CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) // 100 AS m_dollars
        FROM orders o CROSS JOIN ref r
        GROUP BY o.o_custkey
    ),
    rmap AS ({_rfm_score_map_sql("cust", "r_days")}),
    fmap AS ({_rfm_score_map_sql("cust", "f_orders")}),
    mmap AS ({_rfm_score_map_sql("cust", "m_dollars")}),
    scored AS (
        SELECT c.custkey,
               6 - rm.bucket AS r_score,
               fm.bucket AS f_score,
               mm.bucket AS m_score,
               c.m_dollars
        FROM cust c
        JOIN rmap rm ON c.r_days = rm.v
        JOIN fmap fm ON c.f_orders = fm.v
        JOIN mmap mm ON c.m_dollars = mm.v
    )
    SELECT r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                    THEN 'champion'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN m_score >= 4 THEN 'big_spender'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(m_dollars) AS BIGINT) AS total_m_dollars
    FROM scored GROUP BY 1, 2, 3, 4
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation census: recency (days since last
    order, vs the dataset's reference date), frequency (order count)
    and monetary (exact whole-dollar lifetime spend) each mapped to a
    1-5 quintile score, then bucketed into the classic named segments
    (champion / loyal / big_spender / at_risk / hibernating).

    The quintiles are assigned on each metric's QUANTIZED VALUE DOMAIN
    (bounded: days, small counts, whole dollars) via a running-count
    prefix window — the KS-test scale shape — so equal metric values
    always share a score (value-deterministic and engine-portable,
    where row-split ntile() would cut ties arbitrarily) and no window
    ever runs over customer cardinality.  Score maps broadcast back
    onto customers; output is the ≤125-cell score census.  At 100 TB:
    one customer-keyed aggregate, three bounded-domain windows, three
    broadcast joins, one small census aggregate."""
    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_ts"))
    cust = (
        o.crossJoin(F.broadcast(ref))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.to_date(F.max("ref_ts")), F.to_date(F.max("o_orderdate")))
            .cast("bigint")
            .alias("r_days"),
            F.count(F.lit(1)).cast("bigint").alias("f_orders"),
            F.expr(
                "CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))"
                " AS BIGINT) DIV 100"
            ).alias("m_dollars"),
        )
    )

    def score_map(col: str) -> DataFrame:
        d = cust.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w_prev = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        w_all = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        c = d.select(
            F.col(col),
            F.coalesce(F.sum("cnt").over(w_prev), F.lit(0))
            .cast("bigint")
            .alias("cum_prev"),
            F.sum("cnt").over(w_all).cast("bigint").alias("n_cust"),
        )
        return c.select(
            F.col(col).alias("v"),
            (F.lit(1) + F.expr("(cum_prev * 5) DIV n_cust")).alias("bucket"),
        )

    rmap = score_map("r_days").select(
        F.col("v").alias("r_days"), (F.lit(6) - F.col("bucket")).alias("r_score")
    )
    fmap = score_map("f_orders").select(
        F.col("v").alias("f_orders"), F.col("bucket").alias("f_score")
    )
    mmap = score_map("m_dollars").select(
        F.col("v").alias("m_dollars"), F.col("bucket").alias("m_score")
    )
    scored = (
        cust.join(F.broadcast(rmap), "r_days")
        .join(F.broadcast(fmap), "f_orders")
        .join(F.broadcast(mmap), "m_dollars")
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("m_dollars").cast("bigint").alias("total_m_dollars"),
    ).select(
        "r_score",
        "f_score",
        "m_score",
        F.expr(
            "CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4"
            " THEN 'champion'"
            " WHEN f_score >= 4 THEN 'loyal'"
            " WHEN m_score >= 4 THEN 'big_spender'"
            " WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'"
            " WHEN r_score <= 2 THEN 'hibernating'"
            " ELSE 'regular' END"
        ).alias("segment"),
        "n_customers",
        "total_m_dollars",
    )


@op(
    "agg_log2_histogram",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL
    ),
    b AS (
        SELECT event_type,
               CASE WHEN vq <= 0 THEN -1
                    ELSE CAST(length(bin(vq)) AS BIGINT) - 1 END AS bucket_log2
        FROM q
    )
    SELECT event_type, bucket_log2,
           CAST(count(*) AS BIGINT) AS n_rows,
           CASE WHEN bucket_log2 < 0 THEN CAST(0 AS BIGINT)
                ELSE (CAST(1 AS BIGINT) << bucket_log2) END
               AS bucket_lo_x10000
    FROM b GROUP BY event_type, bucket_log2
    """,
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (HdrHistogram-style) bucketed histogram per event
    type — the latency-distribution shape: exponentially wider buckets
    give constant relative error where a linear histogram wastes its
    cells on the mode.  The bucket index is the EXACT integer
    floor(log2 v) computed as length-of-binary-representation minus
    one (both engines' ``bin()`` of the same BIGINT yields the same
    digits — no IEEE log whose .9999 could straddle a power), with
    nonpositive values collapsed to a single underflow bucket.  The
    reported bucket floor is the exact integer 2^k in the quantized
    x10000 unit via a BIGINT bit shift — no ``power()`` double
    round-trip whose formatting can diverge between engines (VERDICT r4
    item 2: the old divided-double bucket_lo column was the round-4
    driver hash failure).  At 100 TB this is one hash aggregate over
    (type × ~40 buckets) — partials merge associatively, the sketch
    every metrics pipeline ships."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = e.select(
        "event_type",
        F.expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").alias("vq"),
    )
    b = q.select(
        "event_type",
        F.expr(
            "CASE WHEN vq <= 0 THEN -1"
            " ELSE CAST(length(bin(vq)) AS BIGINT) - 1 END"
        ).alias("bucket_log2"),
    )
    return b.groupBy("event_type", "bucket_log2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    ).withColumn(
        "bucket_lo_x10000",
        F.expr(
            "CASE WHEN bucket_log2 < 0 THEN CAST(0 AS BIGINT)"
            " ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket_log2 AS INT)) END"
        ),
    )


@op(
    "agg_association_rules",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM baskets),
    item AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_item
        FROM baskets GROUP BY event_type
    ),
    pair AS (
        SELECT a.event_type AS antecedent, b.event_type AS consequent,
               CAST(count(*) AS BIGINT) AS n_both
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           CAST(p.n_both * 1000000 // n.n_users AS BIGINT) AS support_ppm,
           CAST(p.n_both * 1000000 // ia.n_item AS BIGINT) AS confidence_ppm,
           CAST((p.n_both * 1000000 // ia.n_item) * n.n_users
                // ic.n_item AS BIGINT) AS lift_ppm
    FROM pair p
    JOIN item ia ON p.antecedent = ia.event_type
    JOIN item ic ON p.consequent = ic.event_type
    CROSS JOIN n
    """,
)
def agg_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type
    baskets: for every ordered item pair a→b, support (P(a,b)),
    confidence (P(b|a)) and lift (P(a,b)/P(a)P(b), evaluated as
    confidence×n_users/n_consequent so no intermediate ever exceeds
    1e6·n_users — overflow-safe to ~1e12 baskets) — the co-purchase
    analysis next to text's PMI (same co-occurrence core, but with
    the directed confidence that PMI's symmetric log drops, and in
    exact integer ppm: numerators never leave BIGINT, every ratio is
    truncating integer division).  Pair generation self-joins the
    DISTINCT (user, item) basket table on user — pair volume is
    baskets × per-user item count², output is item² rules.  At 100 TB
    the distinct is the only corpus-sized shuffle; the item dimension
    broadcasts onto the rules."""
    e = load_table(spark, sf_dir, "events")
    baskets = e.select("user_id", "event_type").distinct()
    n = baskets.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    item = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    a = baskets.select("user_id", F.col("event_type").alias("antecedent"))
    b = baskets.select("user_id", F.col("event_type").alias("consequent"))
    pair = (
        a.join(b, "user_id")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        pair.join(
            F.broadcast(
                item.select(
                    F.col("event_type").alias("antecedent"),
                    F.col("n_item").alias("n_ante"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item.select(
                    F.col("event_type").alias("consequent"),
                    F.col("n_item").alias("n_cons"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.expr("CAST(n_both * 1000000 DIV n_users AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST(n_both * 1000000 DIV n_ante AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST((n_both * 1000000 DIV n_ante) * n_users DIV n_cons"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


#: NDCG@10 position-discount weights, quantized to 1e-9 units:
#: D(k) = round(1e9 / log2(k+1)) for rank k in 1..10.  Computed ONCE at
#: module import by CPython's libm and inlined as IDENTICAL integer
#: literals into BOTH engines' expressions (ADVICE r5: the previous
#: formulation called each engine's own log2 at runtime — a 1-ulp
#: divergence at a floor-rounding boundary could flip a BIGINT term and
#: split the driver hash; this makes the op genuinely libm-free at
#: query time).
#:
#: Domain bound (ADVICE r6): agg_ndcg_eval multiplies rel * D(k) in
#: BIGINT with D(1) = 1e9, so a per-(dow,user) relevance count above
#: ~9.2e9 (int64_max / 1e9) would overflow — silently and identically
#: on both engines.  rel here is a purchase count per (user, weekday):
#: reaching 9.2e9 would need ~1e10 events for ONE user on one weekday
#: (more than the entire 100 TB fixture's event count).  If the op is
#: ever repointed at an unbounded relevance column, clamp rel (e.g.
#: least(rel, 4e9)) or drop the weights to 1e-6 units first.
def _ndcg_discounts_q9() -> dict[int, int]:
    import math

    return {k: round(1e9 / math.log2(k + 1)) for k in range(1, 11)}


def _ndcg_disc_case(col: str) -> str:
    """Shared SQL text (valid in both Spark SQL and DuckDB) mapping a
    rank column to its 1e-9-unit discount weight."""
    whens = " ".join(
        f"WHEN {k} THEN CAST({w} AS BIGINT)"
        for k, w in _ndcg_discounts_q9().items()
    )
    return f"CASE {col} {whens} END"


@op(
    "agg_ndcg_eval",
    oracle=f"""
    WITH clicks AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS dow, user_id,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), purch AS (
        SELECT CAST(isodow(ts) AS BIGINT) AS dow, user_id,
               CAST(count(*) AS BIGINT) AS rel
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), ranked AS (
        SELECT c.dow, c.user_id,
               COALESCE(p.rel, 0) AS rel,
               CAST(row_number() OVER (
                   PARTITION BY c.dow
                   ORDER BY c.cents DESC, c.user_id) AS BIGINT) AS k
        FROM clicks c LEFT JOIN purch p
          ON p.dow = c.dow AND p.user_id = c.user_id
    ), topk AS (
        SELECT dow, user_id, rel, k,
               CAST(row_number() OVER (
                   PARTITION BY dow
                   ORDER BY rel DESC, user_id) AS BIGINT) AS ideal_k
        FROM ranked WHERE k <= 10
    ), terms AS (
        SELECT dow,
               CAST(rel * {_ndcg_disc_case('k')} AS BIGINT) AS dcg_term_q9,
               CAST(rel * {_ndcg_disc_case('ideal_k')}
                    AS BIGINT) AS idcg_term_q9
        FROM topk
    )
    SELECT dow,
           CAST(count(*) AS BIGINT) AS n_ranked,
           CAST(sum(dcg_term_q9) AS BIGINT) AS dcg_q9,
           CAST(sum(idcg_term_q9) AS BIGINT) AS idcg_q9,
           CASE WHEN sum(idcg_term_q9) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((sum(dcg_term_q9) * 1000000)
                          // sum(idcg_term_q9) AS BIGINT) END AS ndcg_ppm
    FROM terms GROUP BY dow
    """,
)
def agg_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking-quality evaluation — the metric every retrieval
    / recommender / reranker training loop reports, as a pure
    aggregate: per day-of-week, the "predicted" ranking is the top-10
    users by click spend (cents DESC, user_id tie-break) and graded
    relevance is each user's purchase count that day-of-week; NDCG is
    DCG/IDCG with the standard 1/log2(k+1) position discount, IDCG
    taken over the same top-10 set re-sorted by relevance (the
    within-candidate-set normalization, documented — not global-ideal).

    Float discipline: the ten position discounts 1/log2(k+1), k=1..10,
    are PRE-QUANTIZED to 1e-9-unit integer literals at module import
    (_ndcg_disc_case — identical CASE text in both engines), so each
    term is the exact integer rel * D(k), no runtime libm call on
    either engine, and NDCG is an exact integer ppm division — all
    graded columns BIGINT.  Scale shape: two partial-agg groupBys on
    (dow, user), a dow-partitioned top-10 window (per-partition heaps
    under TakeOrdered semantics), then per-position arithmetic on ≤70
    rows.  The event scans dominate at any scale; nothing downstream
    grows with the corpus."""
    e = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy(
            (F.weekday("ts") + 1).cast("bigint").alias("dow"), "user_id"
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.weekday("ts") + 1).cast("bigint").alias("dow"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("rel"))
    )
    ranked = (
        clicks.join(purch, ["dow", "user_id"], "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
        .withColumn(
            "k",
            F.row_number()
            .over(
                Window.partitionBy("dow").orderBy(
                    F.col("cents").desc(), F.col("user_id")
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("k") <= 10)
    )
    topk = ranked.withColumn(
        "ideal_k",
        F.row_number()
        .over(
            Window.partitionBy("dow").orderBy(
                F.col("rel").desc(), F.col("user_id")
            )
        )
        .cast("bigint"),
    )
    terms = topk.select(
        "dow",
        F.expr(f"CAST(rel * {_ndcg_disc_case('k')} AS BIGINT)").alias(
            "dcg_term_q9"
        ),
        F.expr(f"CAST(rel * {_ndcg_disc_case('ideal_k')} AS BIGINT)").alias(
            "idcg_term_q9"
        ),
    )
    return terms.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranked"),
        F.sum("dcg_term_q9").cast("bigint").alias("dcg_q9"),
        F.sum("idcg_term_q9").cast("bigint").alias("idcg_q9"),
        F.expr(
            "CASE WHEN sum(idcg_term_q9) = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((sum(dcg_term_q9) * 1000000) DIV sum(idcg_term_q9)"
            " AS BIGINT) END"
        ).alias("ndcg_ppm"),
    )


@op(
    "agg_calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1000000 AS pred_ppm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), binned AS (
        SELECT pred_ppm // 100000 AS bin, pred_ppm, y FROM scored
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pred_ppm) // count(*) AS BIGINT) AS mean_pred_ppm,
           CAST((sum(y) * 1000000) // count(*) AS BIGINT)
               AS observed_ppm,
           CAST(sum(pred_ppm) // count(*)
                - (sum(y) * 1000000) // count(*) AS BIGINT) AS gap_ppm
    FROM binned GROUP BY bin
    """,
)
def agg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration reliability bins — the eval every probability-
    emitting classifier ships next to its AUC: bucket predictions into
    10 equal-width score bins and compare the bin's mean predicted
    probability against the observed positive rate (here the
    "model score" is the repo's portable md5-prefix hash of event_id
    in ppm — deterministic on both engines, uniform by construction,
    so the observed gap IS the base-rate miscalibration a constant
    model has; the op's value is the exact binning/gap machinery).
    All-integer: ppm scores, truncated-DIV bin means and rates, signed
    gap.  Scale shape: a per-row hash + one 10-cell hash aggregate —
    partials merge associatively, nothing downstream of the scan grows
    with the corpus.  Pairs with agg_ndcg_eval on the model-eval
    shelf: ranking quality there, probability quality here."""
    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("bigint")
            % 1_000_000
        ).alias("pred_ppm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.expr("pred_ppm DIV 100000").alias("bin"), "pred_ppm", "y"
    )
    return binned.groupBy(F.col("bin").cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(sum(pred_ppm) DIV count(*) AS BIGINT)").alias(
            "mean_pred_ppm"
        ),
        F.expr("CAST((sum(y) * 1000000) DIV count(*) AS BIGINT)").alias(
            "observed_ppm"
        ),
        F.expr(
            "CAST(sum(pred_ppm) DIV count(*)"
            " - (sum(y) * 1000000) DIV count(*) AS BIGINT)"
        ).alias("gap_ppm"),
    )
