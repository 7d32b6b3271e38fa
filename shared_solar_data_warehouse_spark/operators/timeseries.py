"""Time-series domain operators (SURVEY.md §2.8) — the reference's own
analytics surface, reconstructed from the SharedSolar domain (§0.1):
per-circuit energy rollups, diurnal load profiles, peak demand, outage
(gap) detection, grid densification with forward-fill, sessionization,
credit running balances, anomaly flags.  ``events`` is the usage-log
analog (user_id ≅ circuit, value ≅ reading, purchase ≅ credit top-up).

Timestamp discipline (SURVEY.md §5.4): ``events.ts`` is ns in parquet,
µs in Spark — no operator outputs raw ts; everything goes out as a
date, an hour bucket, or floor-seconds epoch (truncation chains agree:
ns→µs→s floor == ns→s floor for positive epochs).

Scale notes: every op shuffles once on (user_id[, bucket]) and carries
partial aggregates; at 100 TB the events table is date-partitioned so
the bucket aggs prune at scan, and user_id skew (heavy circuits) is
AQE-split (§7.4).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_solar_data_warehouse_spark.materialize import memo_checkpoint
from shared_solar_data_warehouse_spark.parity import (
    DEC,
    DUCK_EPOCH_S,
    EXP_K,
    EXP_KLN2,
    EXP_P2K,
    EXP_R,
    EXP_Y,
    LN_ELN2,
    LN_P2,
    LN_S,
    LN_X,
    davg,
    dsum,
    sql_davg,
    sql_dsum,
    sql_exp_final,
    sql_exp_k,
    sql_exp_ladders,
    sql_exp_r,
    sql_ln_final,
    sql_ln_ladders,
    sql_ln_s,
    sql_powi,
)

#: Daily discount base for ts_npv_cashflows: 10% annual, compounded
#: daily.  A Python double — the exact value both engines' sql_powi
#: factor literals derive from.
_NPV_DAILY_BASE = 1.0 / (1.0 + 0.10 / 365.0)
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table


def _hourly_dsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, h, hour_value): the per-circuit hourly energy rollup —
    the first ETL artifact of any meter pipeline.  Memoized per snapshot
    because both densify operators (`ts_gap_fill`,
    `ts_interp_linear`) start from this identical table; at 100 TB it
    is a written hourly table every downstream job reads, not a
    recompute per query (same pattern as the shared shingle/pair/TF
    artifacts)."""

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "events")
        return e.groupBy(
            "user_id", F.date_trunc("hour", "ts").alias("h")
        ).agg(dsum("value").alias("hour_value"))

    return memo_checkpoint(spark, sf_dir, "hourly_dsum", build)


@op(
    "ts_bucket_agg",
    oracle=f"""
    SELECT user_id,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           {sql_dsum('value')} AS total_value,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def ts_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily energy per circuit — THE reference rollup (hourly/daily
    kWh per household)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        dsum("value").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@op(
    "ts_load_profile",
    oracle=f"""
    SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
           event_type,
           {sql_davg('value')} AS avg_value,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def ts_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal load curve: average reading by hour-of-day × record type
    (the site load-profile plot behind SharedSolar's published
    analyses)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.hour("ts").alias("hour_of_day"), "event_type"
    ).agg(
        davg("value").alias("avg_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@op(
    "ts_peak",
    oracle="""
    SELECT user_id, day, value AS peak_value, event_id AS peak_event_id
    FROM (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               value, event_id,
               row_number() OVER (
                   PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
                   ORDER BY value DESC, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def ts_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak demand: the maximum reading (and which record it was) per
    circuit per day, tie-broken on event_id for determinism."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.date_trunc("day", "ts"))
    )
    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "day",
            F.col("value").alias("peak_value"),
            F.col("event_id").alias("peak_event_id"),
        )
    )


@op(
    "ts_delta",
    oracle=f"""
    SELECT user_id, event_id,
           {DUCK_EPOCH_S} - lag({DUCK_EPOCH_S}) OVER w AS gap_seconds,
           round(value - lag(value) OVER w, 4) AS value_delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def ts_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-circuit time-gap and value-delta between consecutive readings
    (the cumulative-energy counter-delta primitive)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_s = F.unix_timestamp("ts")
    return e.select(
        "user_id",
        "event_id",
        (epoch_s - F.lag(epoch_s).over(w)).alias("gap_seconds"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
    )


@op(
    "ts_gap_detect",
    oracle=f"""
    SELECT user_id, event_id, gap_seconds
    FROM (
        SELECT user_id, event_id,
               {DUCK_EPOCH_S} - lag({DUCK_EPOCH_S}) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_seconds
        FROM events
    ) WHERE gap_seconds > 7200
    """,
)
def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage detection: flag inter-reading gaps > 2 h (gateway/GSM
    dropouts in the reference's world)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_s = F.unix_timestamp("ts")
    return (
        e.select(
            "user_id",
            "event_id",
            (epoch_s - F.lag(epoch_s).over(w)).alias("gap_seconds"),
        )
        .filter(F.col("gap_seconds") > 7200)
    )


@op(
    "ts_gap_fill",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
               {sql_dsum('value')} AS hour_value
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT user_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        FROM hourly GROUP BY user_id
    )
    SELECT g.user_id, g.h AS hour,
           coalesce(hv.hour_value, 0.0) AS hour_value,
           hv.hour_value IS NULL AS was_gap,
           last_value(hv.hour_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
    FROM grid g LEFT JOIN hourly hv ON g.user_id = hv.user_id AND g.h = hv.h
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each circuit's readings onto a regular hourly grid and
    forward-fill the last observation across gaps (SURVEY.md §2.8's
    custom core #1).

    Construction: ``lead(h)`` hands each real hourly row its successor,
    then ``sequence(h, next_h - 1 hour)`` + ``explode`` emits the row
    itself plus one row per missing hour after it, each carrying the
    source row's value — forward fill falls out of the generation, so
    there is NO grid/left-join and no second pass over the hourly
    aggregate (the oracle keeps the textbook grid-join formulation;
    results are row-identical, verified at sf0.1, and ~35% cheaper:
    one agg shuffle + one window vs agg + groupBy + join + window).
    Grid generation is O(span) per user and stays on the executors —
    at 100 TB this is the standard regularization step before ML
    feature extraction.
    """
    hourly = _hourly_dsum(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("h")
    exploded = hourly.withColumn("next_h", F.lead("h").over(w)).select(
        "user_id",
        "h",
        "hour_value",
        F.explode(
            F.sequence(
                F.col("h"),
                F.coalesce(
                    F.col("next_h") - F.expr("INTERVAL 1 HOUR"), F.col("h")
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    return exploded.select(
        "user_id",
        "hour",
        F.when(F.col("hour") == F.col("h"), F.col("hour_value"))
        .otherwise(F.lit(0.0))
        .alias("hour_value"),
        (F.col("hour") != F.col("h")).alias("was_gap"),
        F.col("hour_value").alias("carried_value"),
    )


@op(
    "ts_resample",
    oracle="""
    SELECT user_id,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           arg_min(value, ts) AS open_value,
           max(value) AS high_value,
           min(value) AS low_value,
           arg_max(value, ts) AS close_value,
           count(*) AS n_readings
    FROM events GROUP BY 1, 2
    """,
)
def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample to daily OHLC-style buckets (open/high/low/close of
    the reading stream) — interpolation-free resampling."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.min_by("value", "ts").alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max_by("value", "ts").alias("close_value"),
        F.count(F.lit(1)).alias("n_readings"),
    )


@op(
    "ts_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, value,
               {DUCK_EPOCH_S} AS es,
               CASE WHEN {DUCK_EPOCH_S} - lag({DUCK_EPOCH_S}) OVER w > 1800
                    OR lag({DUCK_EPOCH_S}) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, event_id, value, es,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY es, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(es) AS session_start_s,
           max(es) AS session_end_s,
           max(es) - min(es) AS duration_s,
           {sql_dsum('value')} AS session_value
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, 30-min inactivity gap (custom core #2):
    lag -> new-session flag -> running sum numbers the sessions, then
    aggregate per session.  Identical construction in the oracle; the
    streaming twin (session_window) is parity-checked against this in
    streaming/streams.py."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_s = F.unix_timestamp("ts")
    flagged = e.select(
        "user_id",
        "event_id",
        "value",
        epoch_s.alias("es"),
        F.when(
            (epoch_s - F.lag(epoch_s).over(w) > 1800)
            | F.lag(epoch_s).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = flagged.withColumn(
        "session_seq", F.sum("is_new").over(w2).cast("long")
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("es").alias("session_start_s"),
        F.max("es").alias("session_end_s"),
        (F.max("es") - F.min("es")).alias("duration_s"),
        dsum("value").alias("session_value"),
    )


@op(
    "ts_funnel",
    oracle=f"""
    WITH s AS (
        SELECT user_id, min({DUCK_EPOCH_S}) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min({DUCK_EPOCH_S}) AS t_click
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND {DUCK_EPOCH_S} >= s.t_signup
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min({DUCK_EPOCH_S}) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND {DUCK_EPOCH_S} >= c.t_click
        GROUP BY e.user_id
    )
    SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase,
           c.user_id IS NOT NULL AS reached_click,
           p.user_id IS NOT NULL AS reached_purchase
    FROM s LEFT JOIN c ON s.user_id = c.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup→click→purchase per user: each stage's
    earliest qualifying time must be at-or-after the previous stage's.
    Three stage aggregates + left joins — no window over the full
    event stream, so each stage shuffles only its own event subset."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "es", F.unix_timestamp("ts")
    )
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("es").alias("t_signup"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("es") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("es") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t_purchase"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_signup",
            "t_click",
            "t_purchase",
            F.col("t_click").isNotNull().alias("reached_click"),
            F.col("t_purchase").isNotNull().alias("reached_purchase"),
        )
    )


@op(
    "ts_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INTEGER)
               AS week_offset,
           count(DISTINCT a.user_id) AS n_active_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-activity
    week, counted in each subsequent active week."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("active_week")
    )
    firsts = e.groupBy("user_id").agg(F.min("active_week").alias("cohort_week"))
    activity = e.distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@op(
    "ts_running_balance",
    oracle="""
    SELECT user_id, event_id,
           CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value
                              ELSE -0.1 * value END AS DECIMAL(25,8))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS balance
    FROM events
    """,
)
def ts_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running credit balance per circuit: purchases top up, every other
    record draws down 10% of its reading — the prepaid-metering
    account model (§0.1).  Exact decimal accumulation in the frame."""
    e = load_table(spark, sf_dir, "events")
    signed = F.when(
        F.col("event_type") == "purchase", F.col("value")
    ).otherwise(-0.1 * F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(signed.cast(DEC)).over(w).cast("double").alias("balance"),
    )


@op(
    "ts_topk_users",
    oracle=f"""
    SELECT event_type, user_id, total_value
    FROM (
        SELECT event_type, user_id,
               {sql_dsum('value')} AS total_value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY sum(CAST(value AS DECIMAL(25,8))) DESC, user_id)
                   AS rn
        FROM events GROUP BY event_type, user_id
    ) WHERE rn <= 5
    """,
)
def ts_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 circuits by total reading per record type.  Ranks on the
    EXACT decimal sum (not the rounded double) so near-tied totals
    order identically on both engines, tie-broken by user_id."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast(DEC)).alias("dec_total")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("dec_total").desc(), F.col("user_id")
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "event_type",
            "user_id",
            F.round(F.col("dec_total").cast("double"), 4).alias("total_value"),
        )
    )


@op(
    "ts_anomaly_zscore",
    oracle="""
    WITH stats AS (
        SELECT user_id, event_id, value,
               CAST(sum(CAST(value AS DECIMAL(25,8))) OVER w AS DOUBLE) AS s1,
               CAST(sum(CAST(value * value AS DECIMAL(25,8))) OVER w AS DOUBLE) AS s2,
               CAST(count(*) OVER w AS DOUBLE) AS n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, value,
           round((value - s1 / n)
                 / sqrt((s2 - s1 * s1 / n) / (n - 1) + 1e-9), 4) + 0.0
               AS zscore,
           abs(value - s1 / n)
               > 3.0 * sqrt((s2 - s1 * s1 / n) / (n - 1) + 1e-9) AS is_anomaly
    FROM stats WHERE n >= 12
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag readings >3σ from the trailing-24-reading mean.  Mean and
    variance are derived from EXACT decimal window sums (Σx, Σx²), so
    the z-score arithmetic is bit-identical on both engines — a raw
    windowed stddev would be segment-tree-order dependent.  The
    rounded z-score adds ``+ 0.0`` to squash IEEE negative zero: a
    tiny-negative score rounds to -0.0 in DuckDB but +0.0 under
    Spark's round (caught by the r5 bit-exact mirror at sf0.1 —
    the agg_skew_kurt class)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-23, Window.currentRow)
    )
    v = F.col("value")
    stats = e.select(
        "user_id",
        "event_id",
        "value",
        F.sum(v.cast(DEC)).over(w).cast("double").alias("s1"),
        F.sum((v * v).cast(DEC)).over(w).cast("double").alias("s2"),
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
    ).filter(F.col("n") >= 12)
    mean = F.col("s1") / F.col("n")
    std = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
        + 1e-9
    )
    return stats.select(
        "user_id",
        "event_id",
        "value",
        (F.round((v - mean) / std, 4) + F.lit(0.0)).alias("zscore"),
        (F.abs(v - mean) > 3.0 * std).alias("is_anomaly"),
    )


@op(
    "ts_rollup_two_level",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id,
               date_trunc('hour', ts) AS hour,
               {sql_dsum('value')} AS hour_value,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(date_trunc('day', hour) AS DATE) AS day,
           {sql_dsum('hour_value')}
               AS day_value,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           count(*) AS n_hours_active
    FROM hourly GROUP BY 1, 2
    """,
)
def ts_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: daily values
    derived FROM the hourly aggregate, not from raw events.  At 100 TB
    this is the warehouse's backbone pattern — the hourly table is the
    materialized continuous aggregate (incrementally appendable by
    arrival window), and every coarser rollup reads it instead of the
    raw fact, cutting input by the bucket fan-in (here ~events/hour).
    The day re-aggregation reuses the hour shuffle's partitioning on
    user_id, so only one wide exchange touches raw data."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        dsum("value").alias("hour_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return hourly.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "hour")).alias("day")
    ).agg(
        dsum("hour_value").alias("day_value"),
        F.sum("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours_active"),
    )


@op(
    "ts_counter_reset",
    oracle="""
    SELECT user_id, event_id, is_reset,
           CAST(sum(CAST(consumed AS DECIMAL(25,8))) OVER w AS DOUBLE)
               AS cum_consumed,
           CAST(sum(CASE WHEN is_reset THEN 1 ELSE 0 END) OVER w AS BIGINT)
               AS n_resets
    FROM (
        SELECT user_id, event_id, ts,
               coalesce(value - lag(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) < 0, false)
                   AS is_reset,
               CASE WHEN lag(value) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 0.0
                    WHEN value - lag(value) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) < 0
                    THEN value
                    ELSE value - lag(value) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) END
                   AS consumed
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ts_counter_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meter counter-reset correction (SURVEY.md §2.5 grounding): treat
    each circuit's readings as a cumulative register; a negative delta
    marks a reset (meter swap / rollover), where the post-reset reading
    itself is the consumption since the restart.  Emits per reading:
    reset flag, monotonic corrected cumulative consumption (exact
    decimal accumulation), and running reset count.

    Shape: lag + two running sums share ONE (user_id) sort-partition —
    Catalyst plans a single exchange+sort for all three windows.  The
    delta is plain double subtraction (identical bits on both engines);
    only the accumulation is decimal-cast.
    """
    e = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    delta = F.col("value") - F.lag("value").over(w_lag)
    is_reset = F.coalesce(delta < 0, F.lit(False))
    consumed = (
        F.when(delta.isNull(), F.lit(0.0))
        .when(delta < 0, F.col("value"))
        .otherwise(delta)
    )
    return e.select(
        "user_id",
        "event_id",
        is_reset.alias("is_reset"),
        F.sum(consumed.cast(DEC)).over(w_run).cast("double").alias("cum_consumed"),
        F.sum(F.when(is_reset, 1).otherwise(0)).over(w_run).alias("n_resets"),
    )


@op(
    "ts_ewma",
    oracle="""
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_events,
           floor(list_reduce(vs, (acc, x) -> 0.7 * acc + 0.3 * x)
                 * 10000.0 + 0.5) / 10000.0 AS ewma_level
    FROM (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        FROM events GROUP BY user_id
    ) ordered
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted demand level per circuit (alpha=0.3,
    adjust=False): the classic streaming smoother a meter-head keeps —
    y_0 = x_0, y_t = 0.7*y_{t-1} + 0.3*x_t over time-ordered readings.

    The recursion is inherently sequential per key, so it runs in the
    Python lane — but as ONE linear ``mapInPandas`` pass over a
    user-hashed, partition-locally (user_id, ts, event_id)-sorted
    stream (r11, guide §4: the previous grouped-map applyInPandas paid
    a pandas sort + 1-row-DataFrame construction per circuit).  The
    explicit ``0.7*acc + 0.3*x`` Python loop is the SAME IEEE-double
    expression the oracle's ``list_reduce`` lambda folds, in the SAME
    per-user order, so the result stays bit-identical (pandas ``ewm``
    would vectorize via a different update form).  Explicit keyed
    repartition resists AQE single-task coalescing; at 100 TB circuits
    spread evenly and each partition is one pass.
    """
    import math

    def smooth_stream(batches):
        users: list = []
        ns: list = []
        levels: list = []
        cur = None
        acc = 0.0
        n = 0
        for pdf in batches:
            for u, x in zip(
                pdf["user_id"].to_numpy(), pdf["value"].to_numpy()
            ):
                if u != cur:
                    if cur is not None:
                        users.append(int(cur))
                        ns.append(n)
                        levels.append(
                            math.floor(acc * 10000.0 + 0.5) / 10000.0
                        )
                    cur = u
                    n = 0
                x = float(x)
                acc = x if n == 0 else 0.7 * acc + 0.3 * x
                n += 1
        if cur is not None:
            users.append(int(cur))
            ns.append(n)
            levels.append(math.floor(acc * 10000.0 + 0.5) / 10000.0)
        if users:
            yield pd.DataFrame(
                {"user_id": users, "n_events": ns, "ewma_level": levels}
            )

    e = load_table(spark, sf_dir, "events")
    return (
        e.select("user_id", "ts", "event_id", "value")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "value")
        .mapInPandas(
            smooth_stream, "user_id long, n_events long, ewma_level double"
        )
    )


@op(
    "ts_interp_linear",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
               {sql_dsum('value')} AS hour_value
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT user_id, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        FROM hourly GROUP BY user_id
    ), neighbored AS (
        SELECT g.user_id, g.h, hv.hour_value,
               last_value(hv.hour_value IGNORE NULLS) OVER wb AS prev_val,
               last_value(CASE WHEN hv.hour_value IS NOT NULL THEN g.h END
                          IGNORE NULLS) OVER wb AS prev_h,
               first_value(hv.hour_value IGNORE NULLS) OVER wf AS next_val,
               first_value(CASE WHEN hv.hour_value IS NOT NULL THEN g.h END
                           IGNORE NULLS) OVER wf AS next_h
        FROM grid g LEFT JOIN hourly hv ON g.user_id = hv.user_id AND g.h = hv.h
        WINDOW wb AS (PARTITION BY g.user_id ORDER BY g.h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY g.user_id ORDER BY g.h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, h AS hour,
           hour_value IS NULL AS was_gap,
           floor(
               CASE WHEN hour_value IS NOT NULL THEN hour_value
                    WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
                        prev_val + (next_val - prev_val)
                        * ((CAST(epoch(h) AS BIGINT) - CAST(epoch(prev_h) AS BIGINT))
                           / (CAST(epoch(next_h) AS BIGINT) - CAST(epoch(prev_h) AS BIGINT)))
                    ELSE coalesce(prev_val, next_val)
               END * 10000.0 + 0.5) / 10000.0 AS value_interp
    FROM neighbored
    """,
)
def ts_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify to the hourly grid and LINEARLY interpolate gaps — the
    smoother sibling of ``ts_gap_fill``'s forward-fill (sensor series
    regularization before feature extraction; fill value is weighted by
    time-distance between the surrounding real readings).

    Construction: like ``ts_gap_fill``, ``lead(h)``/``lead(value)``
    hand each real hourly row its successor, and ``sequence(h,
    next_h - 1 hour)`` + ``explode`` emits the gap rows — and since a
    gap row by construction lies strictly BETWEEN two consecutive real
    readings, the lead pair IS the interpolation neighborhood: no
    grid/left-join, no IGNORE NULLS passes (an earlier revision ran a
    backward and a reversed-growing forward window over the joined
    grid — row-identical, verified at sf0.1, but 2.5x the cost; the
    historical note that a naive [currentRow, unboundedFollowing]
    frame is O(n^2) per partition — 72 s at sf0.1 — lives on in
    SURVEY.md §5.4).  The interpolation is a single arithmetic
    expression over exact integer hour-epochs with one double
    division, so Spark and DuckDB agree bit-for-bit before the
    floor-rounding.  Grid endpoints are the per-user min/max real
    hours, so the oracle's outside-the-span fallback branch is
    unreachable in both formulations.
    """
    hourly = _hourly_dsum(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("h")
    nxt = (
        hourly.withColumn("next_h", F.lead("h").over(w))
        .withColumn("next_val", F.lead("hour_value").over(w))
    )
    exploded = nxt.select(
        "user_id",
        "h",
        "hour_value",
        "next_h",
        "next_val",
        F.explode(
            F.sequence(
                F.col("h"),
                F.coalesce(
                    F.col("next_h") - F.expr("INTERVAL 1 HOUR"), F.col("h")
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    frac = (
        (F.unix_timestamp("hour") - F.unix_timestamp("h"))
        / (F.unix_timestamp("next_h") - F.unix_timestamp("h"))
    )
    interp = F.when(F.col("hour") == F.col("h"), F.col("hour_value")).otherwise(
        F.col("hour_value") + (F.col("next_val") - F.col("hour_value")) * frac
    )
    return exploded.select(
        "user_id",
        "hour",
        (F.col("hour") != F.col("h")).alias("was_gap"),
        (F.floor(interp * 10000.0 + 0.5) / 10000.0).alias("value_interp"),
    )


@op(
    "ts_downtime",
    oracle=f"""
    WITH deltas AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               {DUCK_EPOCH_S} - lag({DUCK_EPOCH_S}) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        FROM events
    )
    SELECT user_id, day,
           count(CASE WHEN gap_s > 1800 THEN 1 END) AS n_outages,
           CAST(coalesce(sum(CASE WHEN gap_s > 1800 THEN gap_s - 1800 END), 0)
                AS BIGINT) AS downtime_excess_s
    FROM deltas GROUP BY 1, 2
    """,
)
def ts_downtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage accounting per circuit per day — the SharedSolar GSM/
    gateway availability report: a gap over 30 min between consecutive
    readings is an outage, and the excess beyond the nominal interval
    is billed as downtime, attributed to the day the feed came back.

    Shape: one lag window and one grouped agg share the user_id
    exchange; all arithmetic is integer epoch-seconds (exact on both
    engines, no float anywhere).  Zero-outage user-days stay in the
    output (count of an empty CASE set is 0) so availability ratios can
    be computed downstream without a re-join against the calendar.
    """
    e = load_table(spark, sf_dir, "events")
    epoch_s = F.unix_timestamp(F.date_trunc("second", "ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = epoch_s - F.lag(epoch_s).over(w)
    deltas = e.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        gap_s.alias("gap_s"),
    )
    return deltas.groupBy("user_id", "day").agg(
        F.count(F.when(F.col("gap_s") > 1800, 1)).alias("n_outages"),
        F.coalesce(
            F.sum(F.when(F.col("gap_s") > 1800, F.col("gap_s") - 1800)),
            F.lit(0),
        ).alias("downtime_excess_s"),
    )


@op(
    "ts_mom_growth",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           floor((revenue / lag(revenue) OVER (ORDER BY month) - 1.0)
                 * 10000.0 + 0.5) / 10000.0 AS mom_growth
    FROM monthly
    """,
)
def ts_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the reference's billing trend
    report.  Two-phase hash aggregate first (shuffle carries one
    partial per month per map task), then a single UNPARTITIONED lag
    window: safe exactly because the window input is the aggregate's
    output — cardinality is months-on-calendar (bounded), never raw
    rows; the growth ratio divides two already-rounded doubles
    (identical bits both engines) under §5.4 floor-rounding."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        (
            F.floor(
                (F.col("revenue") / F.lag("revenue").over(w) - 1.0) * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("mom_growth"),
    )


@op(
    "ts_ohlc",
    oracle=f"""
    SELECT event_type, day,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_ticks,
           {sql_dsum('value')} AS volume
    FROM (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, value,
               row_number() OVER (
                   PARTITION BY event_type, CAST(date_trunc('day', ts) AS DATE)
                   ORDER BY date_trunc('microseconds', ts), event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type, CAST(date_trunc('day', ts) AS DATE)
                   ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn_d
        FROM events
    )
    GROUP BY event_type, day
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars (open/high/low/close/volume) per event type —
    the reference's per-day meter summary, the financial-bar shape.
    One window pass ranks first/last tick per (type, day) — ordered by
    (ts, event_id); the oracle truncates its ns timestamps to Spark's
    µs so tie-order agrees — then one hash aggregate folds the CASE
    picks with min/max/count.  Open/close are PICKED doubles (no
    accumulation -> bit-exact); only volume sums, through exact
    decimal.  At 100 TB both the window and the aggregate partition by
    the same (event_type, day) key, so AQE plans one exchange."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts"))
    base = ev.select("event_type", day.alias("day"), "value", "ts", "event_id")
    wa = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = base.select(
        "event_type",
        "day",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        dsum("value").alias("volume"),
    )


@op(
    "ts_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    num AS (
        SELECT user_id,
               datediff('day', DATE '1970-01-01', d) AS dn,
               row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
        FROM days
    ),
    isl AS (
        SELECT user_id, dn - rn AS island, count(*) AS streak_len
        FROM num GROUP BY user_id, dn - rn
    )
    SELECT user_id,
           max(streak_len) AS longest_streak,
           CAST(sum(streak_len) AS BIGINT) AS n_active_days,
           count(*) AS n_streaks
    FROM isl GROUP BY user_id
    """,
)
def ts_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the
    gaps-and-islands pattern in its integer form: distinct active days,
    a per-user row_number, and the invariant that (day_number - rn) is
    constant exactly along a consecutive run.  All arithmetic is
    integer (epoch-day minus rank), so parity is exact by construction.
    One hash exchange on user_id serves the distinct, the window, and
    both aggregates; islands never leave their partition — at 100 TB
    this is a single shuffle of (user, day) pairs, already deduped
    map-side."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    num = days.select(
        "user_id",
        F.datediff(F.col("d"), F.to_date(F.lit("1970-01-01"))).alias("dn"),
        F.row_number().over(w).alias("rn"),
    )
    isl = num.groupBy("user_id", (F.col("dn") - F.col("rn")).alias("island")).agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return isl.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.sum("streak_len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@op(
    "ts_energy_integrate",
    oracle=f"""
    WITH r AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               value,
               lag(value) OVER w AS prev_value,
               {DUCK_EPOCH_S} - lag({DUCK_EPOCH_S}) OVER w AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, day,
           CAST(sum(CAST(floor((value + prev_value) * gap_s * 1e6 + 0.5)
                         AS BIGINT)) AS BIGINT) // 7200 AS energy_uwh,
           count(*) AS n_intervals
    FROM r WHERE prev_value IS NOT NULL
    GROUP BY user_id, day
    """,
)
def ts_energy_integrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal power→energy integration — THE SharedSolar
    transform (§0.1): instantaneous W readings become Wh per circuit
    per day via sum((v_i + v_{i-1})/2 * dt_s)/3600, each interval
    attributed to its later reading's day.

    Parity: each trapezoid term (double add + double mul, identical
    IEEE ops both engines) is quantized to 1e-6 units BEFORE the sum,
    so the per-day accumulation is exact BIGINT — order-independent —
    and the result is emitted as integer micro-Wh via truncated
    integer division (sum DIV 7200) — a final round() on the double
    quotient straddled a 6th-decimal boundary between the engines'
    rounding implementations, so no float leaves the op at all.  One window exchange on user_id
    feeds the groupBy on (user_id, day) — same key prefix, so AQE
    reuses the partitioning and the agg is map-side-combinable.  At
    100 TB, date-partitioned storage makes the day boundary a scan
    prune; per-circuit streams are contiguous after the one exchange.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_timestamp("ts")
    r = e.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "value",
        F.lag("value").over(w).alias("prev_value"),
        (es - F.lag(es).over(w)).alias("gap_s"),
    ).filter(F.col("prev_value").isNotNull())
    q = F.expr("CAST(floor((value + prev_value) * gap_s * 1e6 + 0.5) AS BIGINT)")
    return r.groupBy("user_id", "day").agg(
        F.sum(q).alias("_sq"), F.count(F.lit(1)).alias("n_intervals")
    ).select(
        "user_id",
        "day",
        F.expr("CAST(_sq DIV 7200 AS BIGINT)").alias("energy_uwh"),
        "n_intervals",
    )


@op(
    "ts_coincidence_factor",
    oracle="""
    WITH r AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(hour(ts) AS INTEGER) AS hr,
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
        FROM events
    ), hourly_user AS (
        SELECT day, hr, user_id, CAST(sum(v) AS BIGINT) AS uv
        FROM r GROUP BY day, hr, user_id
    ), hourly_sys AS (
        SELECT day, hr, CAST(sum(uv) AS BIGINT) AS sv
        FROM hourly_user GROUP BY day, hr
    ), sys_peak AS (
        SELECT day, max(sv) AS peak_system_micro FROM hourly_sys GROUP BY day
    ), user_peak AS (
        SELECT day, user_id, max(uv) AS up FROM hourly_user GROUP BY day, user_id
    ), sum_peaks AS (
        SELECT day, CAST(sum(up) AS BIGINT) AS sum_user_peaks_micro
        FROM user_peak GROUP BY day
    )
    SELECT s.day, peak_system_micro, sum_user_peaks_micro,
           (peak_system_micro * 1000000) // sum_user_peaks_micro
               AS coincidence_ppm
    FROM sys_peak s JOIN sum_peaks p ON s.day = p.day
    """,
)
def ts_coincidence_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak-coincidence factor — system peak hourly load divided
    by the sum of individual circuit peaks (≤ 1; the micro-grid sizing
    statistic from the SharedSolar analyses, §0.1).

    Readings are quantized to exact BIGINT micro-units at the scan, so
    every aggregate downstream (hourly sums, maxes, the ppm ratio via
    truncated integer DIV) is integer-exact — zero float parity risk.
    The plan reuses partials: hourly_user shuffles once on (day, hr,
    user); hourly_sys and user_peak both reduce it with key-prefix
    aggregations, and the final join is day-keyed on ~365 rows/year —
    broadcast-sized at any scale.  100 TB: date partitioning prunes,
    and no stage ever re-reads events.
    """
    e = load_table(spark, sf_dir, "events")
    r = e.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.hour("ts").alias("hr"),
        F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)").alias("v"),
    )
    hourly_user = r.groupBy("day", "hr", "user_id").agg(F.sum("v").alias("uv"))
    hourly_sys = hourly_user.groupBy("day", "hr").agg(F.sum("uv").alias("sv"))
    sys_peak = hourly_sys.groupBy("day").agg(
        F.max("sv").alias("peak_system_micro")
    )
    user_peak = hourly_user.groupBy("day", "user_id").agg(F.max("uv").alias("up"))
    sum_peaks = user_peak.groupBy("day").agg(
        F.sum("up").alias("sum_user_peaks_micro")
    )
    return sys_peak.join(sum_peaks, "day").select(
        "day",
        "peak_system_micro",
        "sum_user_peaks_micro",
        F.expr(
            "CAST((peak_system_micro * 1000000) DIV sum_user_peaks_micro AS BIGINT)"
        ).alias("coincidence_ppm"),
    )


@op(
    "ts_credit_reconciliation",
    oracle=f"""
    WITH b AS (
        SELECT user_id, event_id, {DUCK_EPOCH_S} AS es,
               CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value
                                  ELSE -0.1 * value END AS DECIMAL(25,8))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DECIMAL(25,8)) AS bal
        FROM events
    )
    SELECT user_id,
           round(CAST(min(bal) AS DOUBLE), 4) AS min_balance,
           CAST(min(CASE WHEN bal < 0 THEN es * 100000000 + event_id END)
                % 100000000 AS BIGINT) AS first_neg_event_id,
           CAST(count_if(bal < 0) AS BIGINT) AS n_negative_readings
    FROM b GROUP BY user_id
    """,
)
def ts_credit_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prepaid-credit reconciliation audit (§0.1's accounting model):
    per circuit, the lifetime-minimum running balance, the FIRST reading
    where the balance went negative (service should have cut off), and
    how many readings were spent in arrears.

    The running balance reuses ts_running_balance's exact DECIMAL(25,8)
    frame; "first" is time-first, encoded order-safely as the BIGINT
    composite es*1e8+event_id (epoch ~1.7e9 × 1e8 < 2^63; event_id <
    1e8 holds to ~sf1000, asserted in the docstring rather than data)
    so a plain integer min() finds it without struct-ordering parity
    risk.  One exchange on user_id serves both the window and the final
    groupBy — at 100 TB the audit is a single pass per circuit stream.
    """
    e = load_table(spark, sf_dir, "events")
    signed = F.when(
        F.col("event_type") == "purchase", F.col("value")
    ).otherwise(-0.1 * F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = e.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("es"),
        F.sum(signed.cast(DEC)).over(w).cast(DEC).alias("bal"),
    )
    return b.groupBy("user_id").agg(
        F.round(F.min("bal").cast("double"), 4).alias("min_balance"),
        (
            F.min(
                F.when(
                    F.col("bal") < 0,
                    F.col("es") * F.lit(100000000).cast("bigint")
                    + F.col("event_id"),
                )
            )
            % 100000000
        )
        .cast("bigint")
        .alias("first_neg_event_id"),
        F.expr("count_if(bal < 0)").alias("n_negative_readings"),
    )


@op(
    "ts_tariff_billing",
    oracle="""
    WITH tariff(band, rate) AS (
        VALUES ('peak', 0.25), ('shoulder', 0.15), ('off', 0.05)
    ), usage AS (
        SELECT user_id,
               CASE WHEN hour(ts) BETWEEN 18 AND 22 THEN 'peak'
                    WHEN hour(ts) BETWEEN 6 AND 17 THEN 'shoulder'
                    ELSE 'off' END AS band,
               value
        FROM events
        WHERE event_type <> 'purchase'
    )
    SELECT u.user_id, u.band,
           round(CAST(CAST(sum(CAST(floor(u.value * t.rate * 1e6 + 0.5)
                                    AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6,
                 6) AS billed_amount,
           count(*) AS n_billed_readings
    FROM usage u JOIN tariff t ON u.band = t.band
    GROUP BY u.user_id, u.band
    """,
)
def ts_tariff_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-use tariff billing: consumption readings are banded by
    hour (peak 18–22 / shoulder 6–17 / off otherwise), joined to an
    in-memory tariff dimension, and charged value×rate — the
    reference's credit-drawdown pricing generalized to banded rates.

    The tariff dim is a literal 3-row DataFrame broadcast into the
    fact scan (the canonical small-dim star join — zero shuffle added;
    at 100 TB the same broadcast holds for any real tariff table).
    Each charge is quantized to BIGINT micro-currency before summing:
    value*rate is one double multiply, bit-identical both engines, so
    the aggregate is order-independent-exact.  One shuffle total, on
    the (user_id, band) group key.
    """
    e = load_table(spark, sf_dir, "events")
    tariff = spark.createDataFrame(
        [("peak", 0.25), ("shoulder", 0.15), ("off", 0.05)],
        "band string, rate double",
    )
    usage = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.when(F.hour("ts").between(18, 22), "peak")
        .when(F.hour("ts").between(6, 17), "shoulder")
        .otherwise("off")
        .alias("band"),
        "value",
    )
    return (
        usage.join(F.broadcast(tariff), "band")
        .groupBy("user_id", "band")
        .agg(
            F.round(
                F.sum(
                    F.expr("CAST(floor(value * rate * 1e6 + 0.5) AS BIGINT)")
                ).cast("double")
                / F.lit(1e6),
                6,
            ).alias("billed_amount"),
            F.count(F.lit(1)).alias("n_billed_readings"),
        )
    )


@op(
    "ts_seasonality_index",
    oracle="""
    WITH r AS (
        SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
        FROM events
    ), h AS (
        SELECT hour_of_day, CAST(sum(v) AS BIGINT) AS hour_sum,
               count(*) AS hour_n
        FROM r GROUP BY hour_of_day
    ), g AS (
        SELECT CAST(sum(hour_sum) AS BIGINT) AS total_sum,
               CAST(sum(hour_n) AS BIGINT) AS total_n
        FROM h
    )
    SELECT hour_of_day, hour_n,
           CAST(floor((hour_sum / total_sum) * (total_n / hour_n) * 1e6 + 0.5)
                AS BIGINT) AS seasonality_ppm
    FROM h, g
    """,
)
def ts_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal seasonality index: each hour-of-day's average reading as
    ppm of the overall average (the normalized load-shape curve behind
    tariff design).  index = (hour_sum/total_sum)·(total_n/hour_n) — a
    pure rational of exact BIGINTs, evaluated with the identical IEEE
    divide/multiply sequence on both engines and quantized with
    floor(x·1e6+0.5), so it is deterministic WITHOUT decimal casts (no
    libm, no round()-boundary exposure).  Plan: one groupBy on the
    24-value hour key (map-side partials), a 1-row global reduce of the
    24 partials, then a broadcast-NL cross join of 24×1 rows — nothing
    fact-sized moves twice.  At 100 TB: same two tiny exchanges."""
    e = load_table(spark, sf_dir, "events")
    r = e.select(
        F.hour("ts").alias("hour_of_day"),
        F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)").alias("v"),
    )
    h = r.groupBy("hour_of_day").agg(
        F.sum("v").alias("hour_sum"), F.count(F.lit(1)).alias("hour_n")
    )
    g = h.agg(
        F.sum("hour_sum").alias("total_sum"), F.sum("hour_n").alias("total_n")
    )
    return h.crossJoin(F.broadcast(g)).select(
        "hour_of_day",
        "hour_n",
        F.expr(
            "CAST(floor((hour_sum / total_sum) * (total_n / hour_n) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("seasonality_ppm"),
    )


@op(
    "ts_capacity_factor",
    oracle="""
    WITH q AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, day,
           count(*) AS n_readings,
           max(vq) AS peak_q4,
           CAST(sum(vq) AS BIGINT) * 1000000
               // (count(*) * max(vq)) AS capacity_factor_ppm
    FROM q GROUP BY user_id, day
    HAVING max(vq) > 0
    """,
)
def ts_capacity_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-circuit capacity factor — mean load over peak load,
    the utilization metric solar microgrid operators track per
    connection (a day at CF~1.0 is a flat-out circuit; ~0.1 is bursty).

    All-integer rational: readings quantize to 1e-4 units, CF =
    sum*1e6 DIV (n*peak) in ppm — no float division crosses engines.
    One hash aggregate over (user, day); partial aggregation collapses
    per-task before the exchange, same shape as ts_bucket_agg.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    q = e.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.floor(F.col("value") * 1e4 + 0.5).cast("bigint").alias("vq"),
    )
    return (
        q.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.max("vq").alias("peak_q4"),
            # DuckDB integer `//` TRUNCATES exactly like Spark DIV
            # (-7 // 2 = -3, measured on BIGINT and HUGEINT, v1.0 —
            # parity.py records the corrected rule; the round-4 audit
            # found the earlier "DuckDB floors" claim wrong), so plain
            # DIV is the parity-exact pairing.  Here the numerator is
            # non-negative anyway (readings quantize from value >= 0),
            # where floor and truncate coincide.
            F.expr(
                "CAST(sum(vq) AS BIGINT) * 1000000"
                " DIV (count(*) * max(vq))"
            ).alias("capacity_factor_ppm"),
        )
        .filter(F.col("peak_q4") > 0)
    )


@op(
    "ts_ramp_rate",
    oracle="""
    WITH q AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               ts, event_id,
               CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq
        FROM events
    ),
    d AS (
        SELECT user_id, day,
               vq - lag(vq) OVER (PARTITION BY user_id, day
                                  ORDER BY ts, event_id) AS delta
        FROM q
    )
    SELECT user_id, day,
           CAST(max(delta) AS BIGINT) AS max_ramp_up_q4,
           CAST(min(delta) AS BIGINT) AS max_ramp_down_q4,
           CAST(count(delta) AS BIGINT) AS n_ramps
    FROM d
    GROUP BY user_id, day
    HAVING count(delta) > 0
    """,
)
def ts_ramp_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ramp-rate extrema per circuit-day: the steepest upward and
    downward swing between consecutive readings — the grid-operations
    metric behind inverter clipping and cloud-transient detection
    (PV output can ramp its full capacity in seconds).

    Readings quantize to 1e-4 units BEFORE differencing, so deltas and
    their extrema are BIGINT — zero float parity risk (§5.4), and the
    lag() tie-break on (ts, event_id) pins duplicate timestamps.  One
    shuffle on (user, day) serves both the window and the aggregate —
    Catalyst reuses the partitioning; days with a single reading emit
    no delta and are dropped (count(delta) = 0), matching SQL count
    semantics over nulls on both engines.  At 100 TB this is the
    hypertable-chunk shape: partition by (circuit, day) and the window
    never crosses a chunk boundary."""
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 1e4 + 0.5) AS BIGINT)").alias("vq"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    d = q.withColumn("delta", F.col("vq") - F.lag("vq").over(w))
    return (
        d.groupBy("user_id", "day")
        .agg(
            F.max("delta").cast("bigint").alias("max_ramp_up_q4"),
            F.min("delta").cast("bigint").alias("max_ramp_down_q4"),
            F.count("delta").cast("bigint").alias("n_ramps"),
        )
        .filter(F.col("n_ramps") > 0)
    )


@op(
    "ts_max_concurrency",
    oracle="""
    WITH sessions AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               min(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS s_start,
               max(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) + 1 AS s_end
        FROM events GROUP BY 1, 2
    ), endpoints AS (
        SELECT day, s_start AS t, 1 AS delta FROM sessions
        UNION ALL
        SELECT day, s_end AS t, -1 AS delta FROM sessions
    ), merged AS (
        SELECT day, t, CAST(sum(delta) AS BIGINT) AS d
        FROM endpoints GROUP BY day, t
    ), run AS (
        SELECT day, t,
               CAST(sum(d) OVER (PARTITION BY day ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS active
        FROM merged
    )
    SELECT r.day, r.max_concurrency, s.n_sessions
    FROM (SELECT day, max(active) AS max_concurrency FROM run GROUP BY day) r
    JOIN (SELECT day, count(*) AS n_sessions FROM sessions GROUP BY day) s
      USING (day)
    """,
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent circuits per day by sweep line — the grid
    operator's "how many households draw at once" coincidence view,
    and the classic interval-overlap counting pattern.  Each
    user-day's activity span becomes a half-open interval
    [first_s, last_s+1); endpoints carry +1/-1 deltas, same-instant
    deltas are pre-merged by a (day, t) groupBy so the running sum
    has no tie-order dependence, and the max prefix-sum per day is
    the exact peak concurrency.  Plan: ONE scan of events and three
    stacked exchanges — session agg on (user_id, day), endpoint merge
    on (day, t), then the window + final agg share a (day) exchange;
    the endpoint fan-out is an inline explode(array(struct...)), not a
    UNION ALL of two selects (which would recompute the session agg
    per branch — the plan test pins the single-subtree shape), and
    n_sessions rides along as the count of +1 endpoints instead of a
    separate branch.  At 100 TB the endpoint table is two rows per
    session, tiny next to the raw readings, and the sweep is
    partition-local per day."""
    e = load_table(spark, sf_dir, "events")
    epoch_s = F.unix_timestamp(F.date_trunc("second", "ts"))
    sessions = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.min(epoch_s).alias("s_start"),
        (F.max(epoch_s) + 1).alias("s_end"),
    )
    endpoints = sessions.select(
        "day",
        F.explode(
            F.expr(
                "array(struct(s_start AS t, 1 AS delta),"
                " struct(s_end AS t, -1 AS delta))"
            )
        ).alias("ep"),
    ).select("day", F.col("ep.t").alias("t"), F.col("ep.delta").alias("delta"))
    merged = endpoints.groupBy("day", "t").agg(
        F.sum("delta").alias("d"),
        F.sum(F.greatest(F.col("delta"), F.lit(0))).alias("starts"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = merged.select("day", "starts", F.sum("d").over(w).alias("active"))
    return run.groupBy("day").agg(
        F.max("active").alias("max_concurrency"),
        F.sum("starts").alias("n_sessions"),
    )


@op(
    "ts_load_duration",
    oracle="""
    WITH q AS (
        SELECT user_id,
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_micro,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_readings,
           CAST(max(CASE WHEN rn = 1 THEN v_micro END) AS BIGINT) AS peak_micro,
           CAST(max(CASE WHEN rn = (n * 10 + 99) // 100 THEN v_micro END)
                AS BIGINT) AS p90_micro,
           CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN v_micro END)
                AS BIGINT) AS p50_micro
    FROM q GROUP BY user_id, n
    """,
)
def ts_load_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-duration curve points per circuit — the power-systems view
    "demand exceeded X% of the time": peak, top-decile (p90) and
    median (p50) readings selected by EXACT rank, not interpolation.
    Readings quantize to BIGINT micro-units; the rank-r order
    statistic with r = ceil(q*n) (integer form (n*q_pct+99)//100) is
    the same row in both engines because the DESC sort tie-breaks on
    event_id.  Plan: one hash exchange on user_id, a partition-local
    sort for row_number, then a partial-aggregated groupBy on the
    same key — no second exchange (AQE reuses the partitioning); at
    100 TB this streams each circuit's history through one sorted
    pass."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    part = Window.partitionBy("user_id")
    q = e.select(
        "user_id",
        F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)").alias("v_micro"),
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    return q.groupBy("user_id", "n").agg(
        F.max(F.when(F.col("rn") == 1, F.col("v_micro"))).alias("peak_micro"),
        F.max(
            F.when(F.expr("rn = (n * 10 + 99) DIV 100"), F.col("v_micro"))
        ).alias("p90_micro"),
        F.max(
            F.when(F.expr("rn = (n * 50 + 99) DIV 100"), F.col("v_micro"))
        ).alias("p50_micro"),
    ).select(
        "user_id",
        F.col("n").cast("bigint").alias("n_readings"),
        "peak_micro",
        "p90_micro",
        "p50_micro",
    )


@op(
    "ts_trend_slope",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) - DATE '2024-01-01' AS x,
               CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM daily GROUP BY user_id
    )
    SELECT user_id, n AS n_days,
           CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
                WHEN n * sxy - sx * sy >= 0
                THEN (n * sxy - sx * sy) // (n * sxx - sx * sx)
                ELSE -((-(n * sxy - sx * sy)) // (n * sxx - sx * sx))
                END AS slope_micro_per_day
    FROM m
    """,
)
def ts_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-circuit consumption trend: least-squares slope of daily
    energy vs day index — the degradation/uptake metric behind "is
    this household's usage growing?".  x is the integer day offset,
    y the micro-unit daily total, and the slope comes from the four
    exact integer moments (n·Σxy − ΣxΣy)/(n·Σxx − (Σx)²) with
    truncated integer division (spelled sign(a)*(|a| // b) in the
    oracle — DuckDB // floors, Spark DIV truncates, and slopes go
    negative), so there is no float anywhere
    (same moment-algebra pattern as agg_linreg/agg_corr_exact, here
    grouped per entity).  Magnitudes: |Σxy| ≤ 31 days × 30 × ~3e8
    micro-units ≈ 3e12 per month-window — far inside BIGINT.  Plan:
    two stacked partial aggs on the same user_id prefix (day agg,
    then moment agg) — one exchange; at 100 TB the daily table is
    the shared hourly/daily artifact every other rollup reads."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.sum(F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)")).alias("y")
    ).select(
        "user_id",
        F.datediff("day", F.lit("2024-01-01")).cast("bigint").alias("x"),
        "y",
    )
    m = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    return m.select(
        "user_id",
        F.col("n").alias("n_days"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx <> 0"
            " THEN CAST((n * sxy - sx * sy) DIV (n * sxx - sx * sx) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("slope_micro_per_day"),
    )


@op(
    "ts_session_window",
    oracle="""
    WITH q AS (
        SELECT user_id, ts, event_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_micro,
               CASE WHEN CAST(epoch_us(ts) AS BIGINT)
                         - lag(CAST(epoch_us(ts) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= 1800000000
                         OR lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), isl AS (
        SELECT user_id, es, v_micro,
               CAST(sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sid
        FROM q
    )
    SELECT user_id,
           CAST(min(es) AS BIGINT) AS session_start_s,
           CAST(max(es) + 1800 AS BIGINT) AS session_end_s,
           count(*) AS n_events,
           CAST(sum(v_micro) AS BIGINT) AS total_micro
    FROM isl GROUP BY user_id, sid
    """,
)
def ts_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in `session_window` aggregation (the native
    event-time session operator, batch form) — the API twin of the
    hand-rolled gaps-and-islands `ts_sessionize`: each event opens a
     30-min window and overlapping windows merge, so a session breaks
    exactly when a gap >= 30 min appears.  The oracle reproduces the
    merge rule as islands — breaking on the MICROSECOND gap
    (epoch_us >= 1.8e9), because the builtin merges at full event-time
    precision: an oracle that measured the gap on second-truncated
    stamps misclassified a 1799.xx s gap as a break (caught by the
    r4 sf0.1 mirror, one session off in 95k).  Outputs still truncate
    to epoch seconds (floor(min ts) / floor(max ts)+1800 commute with
    per-session min/max).  Pins that the builtin's semantics equal the
    manual form: start = first event, end = last event + gap.  The struct-typed window column is
    flattened to epoch seconds on output (driver canon rejects
    structs).  Plan: session_window compiles to a single exchange on
    user_id + sort — state per key is one open window, the same shape
    Structured Streaming uses for its stateful session store; at
    100 TB batch sessionization this beats any self-join formulation
    outright."""
    e = load_table(spark, sf_dir, "events")
    grouped = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)")).alias(
            "total_micro"
        ),
    )
    return grouped.select(
        "user_id",
        F.unix_timestamp(F.col("sw.start")).alias("session_start_s"),
        F.unix_timestamp(F.col("sw.end")).alias("session_end_s"),
        "n_events",
        "total_micro",
    )


@op(
    "ts_overlap_sweep",
    oracle="""
    WITH sessions AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               min(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS s0,
               max(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) + 1 AS s1
        FROM events GROUP BY 1, 2
    ), ep AS (
        SELECT day, s0 AS t, 1 AS is_start FROM sessions
        UNION ALL
        SELECT day, s1 AS t, 0 AS is_start FROM sessions
    ), merged AS (
        SELECT day, t,
               CAST(sum(is_start) AS BIGINT) AS k,
               CAST(sum(1 - is_start) AS BIGINT) AS e
        FROM ep GROUP BY day, t
    ), run AS (
        SELECT day, t, k,
               CAST(sum(k - e) OVER (PARTITION BY day ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS a,
               lead(t) OVER (PARTITION BY day ORDER BY t) AS t_next
        FROM merged
    )
    SELECT day,
           CAST(sum(k * (a - k) + (k * (k - 1)) // 2) AS BIGINT)
               AS n_overlap_pairs,
           CAST(sum(CASE WHEN t_next IS NULL THEN 0
                         ELSE (a * (a - 1)) // 2 * (t_next - t) END)
                AS BIGINT) AS total_overlap_s
    FROM run GROUP BY day
    """,
)
def ts_overlap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR twin of `join_interval_overlap`: the same per-day
    aggregate — how many session pairs overlap, and for how many
    total seconds — without ever materializing a pair.  Sweep-line
    identities over half-open intervals: a pair overlaps iff the
    later session starts while the earlier is active, so
    n_pairs = Σ_t [k_t·(A_t − k_t) + C(k_t,2)] where k_t sessions
    start at instant t and A_t is the running active count AFTER
    processing t (so A_t − k_t is "active from before, net of
    same-instant ends"); and Σ_pairs |intersection| =
    ∫ C(active,2) dt = Σ elementary intervals C(A_t,2)·(t_next−t).
    A·(A−1) is always even, so the halving is exact integer DIV.

    This op + its pytest parity check against the join formulation
    document the quadratic→linear rewrite that matters at 100 TB:
    when the downstream only needs overlap STATISTICS, the O(n²)
    pair join is the wrong plan at any scale — the sweep is one
    sessions-sized sort per day.  Plan: single scan, session agg,
    (day,t) merge, then the (day) window + final agg — ≤3 exchanges,
    no join."""
    e = load_table(spark, sf_dir, "events")
    epoch_s = F.unix_timestamp(F.date_trunc("second", "ts"))
    sessions = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.min(epoch_s).alias("s0"),
        (F.max(epoch_s) + 1).alias("s1"),
    )
    ep = sessions.select(
        "day",
        F.explode(
            F.expr(
                "array(struct(s0 AS t, 1 AS is_start),"
                " struct(s1 AS t, 0 AS is_start))"
            )
        ).alias("x"),
    ).select("day", F.col("x.t").alias("t"), F.col("x.is_start").alias("is_start"))
    merged = ep.groupBy("day", "t").agg(
        F.sum("is_start").alias("k"),
        F.sum(F.expr("1 - is_start")).alias("e"),
    )
    wrun = (
        Window.partitionBy("day")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlead = Window.partitionBy("day").orderBy("t")
    run = merged.select(
        "day",
        "t",
        "k",
        F.sum(F.expr("k - e")).over(wrun).alias("a"),
        F.lead("t").over(wlead).alias("t_next"),
    )
    return run.groupBy("day").agg(
        F.sum(F.expr("k * (a - k) + (k * (k - 1)) DIV 2")).alias(
            "n_overlap_pairs"
        ),
        F.sum(
            F.expr(
                "CASE WHEN t_next IS NULL THEN CAST(0 AS BIGINT)"
                " ELSE (a * (a - 1)) DIV 2 * (t_next - t) END"
            )
        ).alias("total_overlap_s"),
    )


@op(
    "ts_forecast_backtest",
    oracle="""
    WITH hourly AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(hour(ts) AS INTEGER) AS hod,
               CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   AS h_micro
        FROM events GROUP BY 1, 2, 3
    ), train AS (
        SELECT user_id, hod,
               CAST(sum(h_micro) AS BIGINT) // count(*) AS fc_micro
        FROM hourly WHERE day < DATE '2024-01-22'
        GROUP BY user_id, hod
    ), test AS (
        SELECT * FROM hourly WHERE day >= DATE '2024-01-22'
    )
    SELECT t.user_id,
           count(*) AS n_test_hours,
           CAST(sum(abs(t.h_micro - f.fc_micro)) AS BIGINT) // count(*)
               AS mae_micro,
           CASE WHEN sum(t.h_micro - f.fc_micro) >= 0
                THEN CAST(sum(t.h_micro - f.fc_micro) AS BIGINT) // count(*)
                ELSE -(CAST(-sum(t.h_micro - f.fc_micro) AS BIGINT)
                       // count(*)) END AS bias_micro
    FROM test t JOIN train f
      ON t.user_id = f.user_id AND t.hod = f.hod
    GROUP BY t.user_id
    """,
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the canonical load-forecast
    baseline (tomorrow's 3pm ≈ the historical 3pm average): train on
    the first three weeks' per-(circuit, hour-of-day) mean hourly
    energy, forecast the final week, report MAE and signed bias per
    circuit.  All arithmetic stays BIGINT micro-units with truncated
    DIV means — and because the signed bias can be negative, the
    oracle spells truncation out as sign(s)*(|s| // n): DuckDB's //
    floors (-7//2 = -4) where Spark's DIV truncates (-7 DIV 2 = -3),
    a divergence that only bites on negative odd-lot sums; test hours whose (circuit, hour) never appeared in
    training drop at the inner join (can't forecast an unseen
    regime — the documented convention).  Plan: the hourly rollup is
    computed once and feeds both split branches; train is
    (users × 24) rows — broadcast to the test side — and the final
    agg shuffles on user_id only.  This is the backtest shape a
    100 TB pipeline runs per model candidate: the expensive part is
    the shared hourly artifact, and every extra candidate is one
    cheap broadcast join over it."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.hour("ts").alias("hod"),
    ).agg(
        F.sum(F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)")).alias(
            "h_micro"
        )
    )
    split = F.lit("2024-01-22").cast("date")
    train = (
        hourly.filter(F.col("day") < split)
        .groupBy("user_id", "hod")
        .agg(F.expr("CAST(sum(h_micro) DIV count(*) AS BIGINT)").alias("fc_micro"))
    )
    test = hourly.filter(F.col("day") >= split)
    j = test.join(F.broadcast(train), ["user_id", "hod"])
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_test_hours"),
        F.expr(
            "CAST(sum(abs(h_micro - fc_micro)) DIV count(*) AS BIGINT)"
        ).alias("mae_micro"),
        F.expr(
            "CAST(sum(h_micro - fc_micro) DIV count(*) AS BIGINT)"
        ).alias("bias_micro"),
    )


@op(
    "ts_daily_acf",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   // 10000 AS yc
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT user_id, yc AS x, next_yc AS y
        FROM (
            SELECT user_id, day, yc,
                   lead(yc) OVER (PARTITION BY user_id ORDER BY day) AS next_yc,
                   lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
            FROM daily
        ) WHERE next_day = day + 1
    ), m AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY user_id
    )
    SELECT user_id, n AS n_pairs,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(floor(
                    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    * 1.0e4 + 5.0e-1) AS DOUBLE) / 1.0e4
                ELSE NULL END AS acf1_q4
    FROM m
    """,
)
def ts_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily energy per circuit — the load
    persistence metric ("does a heavy day predict a heavy tomorrow")
    behind storage sizing and anomaly baselining.  Consecutive-day
    pairs only (lead gated on next_day = day + 1, so month gaps
    never fabricate a pair); daily micro-totals downscale to 1e-2
    units so all six moments stay far inside BIGINT (y² ≤ ~1e13 per
    pair); the Pearson value is one shared double expression over
    identical integers, floor-quantized to 1e-4 (agg_corr_exact's
    pattern, grouped per entity).  Degenerate series (zero variance)
    emit NULL.  Plan: daily rollup and both windows share the
    (user_id) exchange; the moment agg is partial-aggregated."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.expr(
            "CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) DIV 10000"
            " AS BIGINT)"
        ).alias("yc")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    pairs = (
        daily.select(
            "user_id",
            "day",
            "yc",
            F.lead("yc").over(w).alias("next_yc"),
            F.lead("day").over(w).alias("next_day"),
        )
        .filter(F.expr("next_day = date_add(day, 1)"))
        .select("user_id", F.col("yc").alias("x"), F.col("next_yc").alias("y"))
    )
    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    corr = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return m.select(
        "user_id",
        F.col("n").alias("n_pairs"),
        F.expr(
            # CAST-to-DOUBLE before the divide: Spark's floor(double)
            # returns BIGINT and `10000.0` parses as DECIMAL, so the
            # former `floor(...)/10000.0` emitted a DECIMAL column that
            # the driver canonicalizer splits from the oracle's DOUBLE
            # (caught r6 by the mirror's `dec:` token, ADVICE r5).
            f"CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
            f" THEN CAST(floor({corr} * 1.0e4 + 5.0e-1) AS DOUBLE) / 1.0e4"
            f" ELSE NULL END"
        ).alias("acf1_q4"),
    )


@op(
    "ts_cusum",
    oracle="""
    WITH q AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 1e4 + 0.5) AS BIGINT) - 400000 AS dev
        FROM events
    ), p1 AS (
        SELECT user_id, ts, event_id,
               CAST(sum(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS pref
        FROM q
    ), p AS (
        SELECT user_id, pref,
               CAST(min(pref) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS pref_min
        FROM p1
    )
    SELECT user_id,
           CAST(max(pref - least(pref_min, 0)) AS BIGINT) AS max_cusum_q4,
           CAST(count(CASE WHEN pref - least(pref_min, 0) > 3000000
                      THEN 1 END) AS BIGINT) AS n_alarm_points
    FROM p GROUP BY user_id
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per circuit — the classic upward
    change-point statistic s_t = max(0, s_{t-1} + x_t − k).  That
    recursion looks window-inexpressible (each value depends on the
    previous), but the closed form s_t = p_t − min(0, min_{j≤t} p_j)
    over the plain prefix sums p of (x_t − k) turns it into two
    stacked running windows — the same linearization trick as the
    drawdown op, pointed the other way.  Deviations quantize to 1e-4
    units around target k = 40 (the fixture's median-ish reading);
    the op reports each circuit's peak CUSUM and how many readings
    exceeded the h = 300 alarm threshold.  All integer; both windows
    and the final agg share one (user_id) exchange.  At 100 TB this
    scans each circuit's history once, sorted — no per-row recursion
    ever materializes."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    q = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.expr("CAST(floor(value * 1e4 + 0.5) AS BIGINT)") - 400000).alias(
            "dev"
        ),
    )
    p = q.select(
        "user_id",
        F.sum("dev").over(wo).alias("pref"),
        F.min(F.sum("dev").over(wo)).over(wo).alias("pref_min"),
    )
    s = p.select(
        "user_id",
        (F.col("pref") - F.least(F.col("pref_min"), F.lit(0))).alias("s"),
    )
    return s.groupBy("user_id").agg(
        F.max("s").alias("max_cusum_q4"),
        F.count(F.when(F.col("s") > 3000000, 1)).alias("n_alarm_points"),
    )


@op(
    "ts_out_of_order_audit",
    oracle="""
    WITH a AS (
        SELECT user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
               CAST(max(epoch(date_trunc('second', ts)))
                    OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS max_prior_es
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(count(CASE WHEN es < max_prior_es THEN 1 END) AS BIGINT)
               AS n_out_of_order,
           CAST(coalesce(max(CASE WHEN es < max_prior_es
                                  THEN max_prior_es - es END), 0) AS BIGINT)
               AS max_lateness_s
    FROM a GROUP BY user_id
    """,
)
def ts_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit: for each circuit, how many records
    arrived (by ingestion order = event_id) with an event time EARLIER
    than something already seen, and the worst lateness — the
    measurement that justifies a streaming watermark's delay budget
    (stream_watermark's `10 minutes` should come from THIS op's
    max_lateness_s, not from folklore).  The running max over
    arrival order uses a 1-PRECEDING frame so a record is never
    compared to itself; all integer epoch-seconds.  Plan: one
    (user_id) exchange shared by the window and the audit agg."""
    e = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp(F.date_trunc("second", "ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    a = e.select(
        "user_id",
        es.alias("es"),
        F.max(es).over(w).alias("max_prior_es"),
    )
    late = F.when(F.col("es") < F.col("max_prior_es"), 1)
    return a.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(late).cast("bigint").alias("n_out_of_order"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("es") < F.col("max_prior_es"),
                    F.col("max_prior_es") - F.col("es"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_lateness_s"),
    )


@op(
    "report_grid_health",
    oracle="""
    WITH base AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_micro,
               event_id
        FROM events
    ), per_user_day AS (
        SELECT user_id, day,
               CAST(sum(v_micro) AS BIGINT) AS energy_micro,
               CAST(max(v_micro) AS BIGINT) AS peak_micro,
               count(*) AS n_readings,
               CAST(max(es) - min(es) AS BIGINT) AS span_s
        FROM base GROUP BY user_id, day
    ), gaps AS (
        SELECT day, count(*) AS n_big_gaps
        FROM (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                   - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                     OVER (PARTITION BY user_id,
                           CAST(date_trunc('day', ts) AS DATE)
                           ORDER BY ts, event_id) AS gap_s
            FROM events
        ) WHERE gap_s > 1800 GROUP BY day
    )
    SELECT p.day,
           count(*) AS n_active_circuits,
           CAST(sum(p.energy_micro) AS BIGINT) AS system_energy_micro,
           CAST(max(p.peak_micro) AS BIGINT) AS worst_circuit_peak_micro,
           CAST(sum(p.n_readings) AS BIGINT) AS n_readings,
           CAST(min(p.span_s) AS BIGINT) AS min_active_span_s,
           CAST(coalesce(max(g.n_big_gaps), 0) AS BIGINT) AS n_big_gaps
    FROM per_user_day p LEFT JOIN gaps g ON p.day = g.day
    GROUP BY p.day
    """,
)
def report_grid_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily grid-operations report — the composed, analyst-facing
    workload the reference's warehouse exists to answer, in ONE scan
    pass: per day, active circuit count, total system energy, worst
    single-circuit peak, reading volume, the shortest circuit
    activity span (a dying meter shows up here first), and the count
    of >30-min intra-day reading gaps.  Composition shape: the
    per-(user, day) rollup feeds the day aggregate; the gap census
    is a window over the same (user, day) ordering; both branches
    join on the 30-row day dimension — so the expensive fact scan
    happens once per branch and everything downstream is tiny.  At
    100 TB this query IS the nightly job; its artifacts (the
    per-user-day table) are exactly the shared rollups other ops
    memoize."""
    e = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp(F.date_trunc("second", "ts"))
    base = e.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        es.alias("es"),
        F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)").alias("v_micro"),
        "ts",
        "event_id",
    )
    per_user_day = base.groupBy("user_id", "day").agg(
        F.sum("v_micro").alias("energy_micro"),
        F.max("v_micro").alias("peak_micro"),
        F.count(F.lit(1)).alias("n_readings"),
        (F.max("es") - F.min("es")).alias("span_s"),
    )
    wg = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    gaps = (
        base.select(
            "day", (F.col("es") - F.lag("es").over(wg)).alias("gap_s")
        )
        .filter(F.col("gap_s") > 1800)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_big_gaps"))
    )
    return (
        per_user_day.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active_circuits"),
            F.sum("energy_micro").alias("system_energy_micro"),
            F.max("peak_micro").alias("worst_circuit_peak_micro"),
            F.sum("n_readings").alias("n_readings"),
            F.min("span_s").alias("min_active_span_s"),
        )
        .join(F.broadcast(gaps), "day", "left")
        .select(
            "day",
            "n_active_circuits",
            "system_energy_micro",
            "worst_circuit_peak_micro",
            "n_readings",
            "min_active_span_s",
            F.coalesce(F.col("n_big_gaps"), F.lit(0))
            .cast("bigint")
            .alias("n_big_gaps"),
        )
    )


@op(
    "ts_demand_charge",
    oracle="""
    WITH q AS (
        SELECT user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 900 AS qh,
               CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v_micro
        FROM events
    ), quarter_hour AS (
        SELECT user_id, CAST(qh AS BIGINT) AS qh,
               CAST(sum(v_micro) AS BIGINT) AS window_micro,
               count(*) AS n_readings
        FROM q GROUP BY user_id, qh
    )
    SELECT user_id,
           CAST(max(window_micro * 2097152 + (2097151 - qh)) / 2097152
                AS BIGINT) AS billing_demand_micro,
           CAST((2097151 - CAST(max(window_micro * 2097152 + (2097151 - qh))
                AS BIGINT) % 2097152) * 900 AS BIGINT)
               AS peak_window_start_s,
           count(*) AS n_windows
    FROM quarter_hour GROUP BY user_id
    """,
)
def ts_demand_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Billing demand — the demand-charge half of a power bill that
    ts_tariff_billing's energy charges don't cover: each circuit's
    maximum 15-minute interval total over the period, plus WHICH
    window set it (the fact the customer disputes).  Interval = 900 s
    epoch bucket; the argmax window packs into ONE BIGINT key
    (demand << 21 | (2^21-1 - qh)) so a single max() carries both
    the peak demand and its earliest-window tie-break — DuckDB 1.0's
    max_by takes no composite key, and the packed form is the
    portable argmax (quarter-hour indexes stay under 2^21 until
    2029; demand ~1e10 micro x 2^21 sits well inside BIGINT).  Plan: two stacked partial aggs on the user_id prefix
    (quarter-hour rollup, then the per-circuit max) — one exchange;
    at 100 TB the quarter-hour table is another shared billing
    artifact."""
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "user_id",
        F.expr(
            "CAST(unix_timestamp(date_trunc('second', ts)) DIV 900 AS BIGINT)"
        ).alias("qh"),
        F.expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)").alias("v_micro"),
    )
    quarter = q.groupBy("user_id", "qh").agg(
        F.sum("v_micro").alias("window_micro"),
        F.count(F.lit(1)).alias("n_readings"),
    )
    packed = quarter.groupBy("user_id").agg(
        F.max(
            F.expr("window_micro * 2097152 + (2097151 - qh)")
        ).alias("key"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    return packed.select(
        "user_id",
        F.expr("CAST(key DIV 2097152 AS BIGINT)").alias(
            "billing_demand_micro"
        ),
        F.expr("CAST((2097151 - key % 2097152) * 900 AS BIGINT)").alias(
            "peak_window_start_s"
        ),
        "n_windows",
    )


@op(
    "ts_completeness",
    oracle="""
    WITH per_day AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_readings
        FROM events GROUP BY 1, 2
    ), expected AS (
        SELECT user_id, CAST(max(n_readings) AS BIGINT) AS cadence
        FROM per_day GROUP BY user_id
    )
    SELECT p.user_id, p.day,
           CAST(p.n_readings AS BIGINT) AS n_readings,
           e.cadence,
           CAST((p.n_readings * 1000000) // e.cadence AS BIGINT)
               AS completeness_ppm,
           CASE WHEN p.n_readings * 2 < e.cadence THEN 1 ELSE 0 END
               AS is_degraded
    FROM per_day p JOIN expected e USING (user_id)
    """,
)
def ts_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meter-day data completeness — the ingestion-health audit every
    metering fleet runs: each circuit-day's reading count against
    that circuit's own observed cadence (its best day), as ppm, with
    a <50% degraded flag.  Self-calibrating (no config table of
    per-model cadences): the max-day IS the empirical cadence, which
    also makes the op robust to heterogeneous meter generations.
    All integer; the per-circuit cadence table broadcasts back onto
    the per-day counts — two stacked aggs + a broadcast join on the
    user_id prefix, one exchange of event rows."""
    e = load_table(spark, sf_dir, "events")
    per_day = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_readings"))
    expected = per_day.groupBy("user_id").agg(
        F.max("n_readings").alias("cadence")
    )
    return per_day.join(F.broadcast(expected), "user_id").select(
        "user_id",
        "day",
        F.col("n_readings").cast("bigint").alias("n_readings"),
        "cadence",
        F.expr("CAST((n_readings * 1000000) DIV cadence AS BIGINT)").alias(
            "completeness_ppm"
        ),
        F.expr(
            "CASE WHEN n_readings * 2 < cadence THEN 1 ELSE 0 END"
        ).alias("is_degraded"),
    )


@op(
    "ts_anomaly_mad",
    oracle="""
    WITH q AS (
        SELECT user_id,
               CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq
        FROM events
    ), med AS (
        SELECT user_id,
               CAST(floor(quantile_cont(vq, 0.5) + 0.5) AS BIGINT) AS med_q4
        FROM q GROUP BY user_id
    ), dev AS (
        SELECT q.user_id, q.vq, m.med_q4,
               abs(q.vq - m.med_q4) AS adev
        FROM q JOIN med m ON q.user_id = m.user_id
    ), mad AS (
        SELECT user_id, med_q4,
               CAST(floor(quantile_cont(adev, 0.5) + 0.5) AS BIGINT) AS mad_q4
        FROM dev GROUP BY user_id, med_q4
    )
    SELECT d.user_id, m.med_q4, m.mad_q4,
           CAST(count(CASE WHEN abs(d.vq - m.med_q4) > 3 * m.mad_q4
                      THEN 1 END) AS BIGINT) AS n_outliers,
           count(*) AS n_readings
    FROM dev d JOIN mad m ON d.user_id = m.user_id
    GROUP BY d.user_id, m.med_q4, m.mad_q4
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via Median Absolute Deviation — the
    outlier rule that survives the outliers themselves (the z-score
    op's mean/std are dragged by the very spikes they're hunting;
    median/MAD have a 50% breakdown point).  Two-level exact median
    over quantized readings (engine medians interpolate identically —
    agg_percentile pins that — and the result floors to integer
    units), then flag |x − med| > 3·MAD.  Plan: the readings shuffle
    ONCE on user_id; the median/MAD tables are per-circuit rows,
    broadcast back; at 100 TB you'd swap the exact medians for the
    mergeable histogram sketch (agg_quantile_sketch) and keep the
    same shape."""
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "user_id",
        F.expr("CAST(floor(value * 1e4 + 0.5) AS BIGINT)").alias("vq"),
    )
    med = q.groupBy("user_id").agg(
        F.expr(
            "CAST(floor(percentile(vq, 0.5) + 0.5) AS BIGINT)"
        ).alias("med_q4")
    )
    dev = q.join(F.broadcast(med), "user_id").select(
        "user_id", "vq", "med_q4", F.abs(F.col("vq") - F.col("med_q4")).alias("adev")
    )
    mad = dev.groupBy("user_id", "med_q4").agg(
        F.expr(
            "CAST(floor(percentile(adev, 0.5) + 0.5) AS BIGINT)"
        ).alias("mad_q4")
    )
    return (
        dev.join(
            F.broadcast(mad.select("user_id", "mad_q4")), "user_id"
        )
        .groupBy("user_id", "med_q4", "mad_q4")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col("vq") - F.col("med_q4"))
                    > 3 * F.col("mad_q4"),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_readings"),
        )
    )


@op(
    "ts_acf_profile",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   // 10000 AS yc
        FROM events GROUP BY 1, 2
    ), lags AS (
        SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS k
    ), pairs AS (
        SELECT a.user_id, l.k, a.yc AS x, b.yc AS y
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.user_id = a.user_id AND b.day = a.day + CAST(l.k AS INTEGER)
    ), m AS (
        SELECT user_id, k,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY user_id, k
    )
    SELECT user_id, CAST(k AS INTEGER) AS lag_days, n AS n_pairs,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(floor(
                    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    * 1.0e4 + 5.0e-1) AS DOUBLE) / 1.0e4
                ELSE NULL END AS acf_q4
    FROM m
    """,
)
def ts_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile over lags 1..7 days per circuit — the
    periodicity fingerprint: a weekly routine shows as an acf bump
    at lag 7, persistence as high lag 1 (ts_daily_acf generalized
    from one lag to the profile).  Pair generation is an equi-join
    of the daily rollup with itself on (user, day + k) after a 7×
    lag fan-out — the daily table is tiny (users × days) so the fan
    costs nothing; moments and the quantized Pearson follow the
    exact scheme shared with agg_corr_exact/ts_daily_acf.  At
    100 TB the pattern holds because the profile is computed on the
    ROLLUP, never the raw readings."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.expr(
            "CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) DIV 10000"
            " AS BIGINT)"
        ).alias("yc")
    )
    a = daily.alias("a").crossJoin(
        F.broadcast(
            daily.sparkSession.range(1, 8).select(F.col("id").alias("k"))
        )
    )
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("b.day") == F.expr("date_add(a.day, CAST(k AS INT))")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        "k",
        F.col("a.yc").alias("x"),
        F.col("b.yc").alias("y"),
    )
    m = pairs.groupBy("user_id", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    corr = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return m.select(
        "user_id",
        F.col("k").cast("int").alias("lag_days"),
        F.col("n").alias("n_pairs"),
        F.expr(
            # CAST-to-DOUBLE before the divide — same DECIMAL-leak fix
            # as ts_daily_acf (Spark floor -> BIGINT / DECIMAL literal).
            f"CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
            f" THEN CAST(floor({corr} * 1.0e4 + 5.0e-1) AS DOUBLE) / 1.0e4"
            f" ELSE NULL END"
        ).alias("acf_q4"),
    )


@op(
    "ts_yield_deviation",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT))
                    AS BIGINT) AS e_q4
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, date_trunc('day', ts)
    ), fleet AS (
        SELECT day,
               CAST(count(*) AS BIGINT) AS n_circuits,
               CAST(sum(e_q4) AS BIGINT) AS fleet_q4
        FROM daily GROUP BY day
    )
    SELECT d.user_id, d.day, d.e_q4, f.n_circuits,
           d.e_q4 * f.n_circuits * 1000000 // f.fleet_q4 AS yield_ppm,
           d.e_q4 * f.n_circuits * 1000000 // f.fleet_q4 < 500000
               AS underperforming
    FROM daily d JOIN fleet f USING (day)
    WHERE f.fleet_q4 > 0
    """,
)
def ts_yield_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-circuit daily yield vs fleet expectation — the solar-ops
    underperformance screen: a circuit's share of the fleet's daily
    energy, normalized by circuit count (1e6 ppm = exactly its equal
    share; < 0.5e6 for a day flags soiling/shading/meter faults).
    Fleet-relative normalization is the standard move because weather
    divides out — every circuit sees the same irradiance day.

    Shape: one (user, day) partial+final aggregate over the readings,
    a day-level reduction of THAT aggregate (key-prefix groupBy — no
    second scan of the fact), and a broadcast rejoin on day (the
    fleet table is bounded by the calendar, KBs at any corpus size).
    All metrics are positive-domain integer ppm (readings are
    non-negative) — hash-parity proof.  At 100 TB the daily aggregate
    is the only full-width shuffle; everything after touches
    calendar-bounded rows."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = (
        e.select(
            "user_id",
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.floor(F.col("value") * 1e4 + 0.5).cast("bigint").alias("vq"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("vq").cast("bigint").alias("e_q4"))
    )
    fleet = daily.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_circuits"),
        F.sum("e_q4").cast("bigint").alias("fleet_q4"),
    )
    j = daily.join(F.broadcast(fleet.filter(F.col("fleet_q4") > 0)), "day")
    ratio = F.expr("e_q4 * n_circuits * 1000000 DIV fleet_q4")
    return j.select(
        "user_id",
        "day",
        "e_q4",
        "n_circuits",
        ratio.alias("yield_ppm"),
        (ratio < 500000).alias("underperforming"),
    )


@op(
    "ts_interarrival_stats",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_s
        FROM events
    )
    SELECT user_id,
           count(*) + 1 AS n_events,
           count(gap_s) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           CAST(CAST(sum(gap_s) AS BIGINT) // count(gap_s) AS BIGINT)
               AS avg_gap_s,
           CAST(sum(CASE WHEN gap_s < 3600 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rapid_1h
    FROM g
    WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def ts_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival profile: min/max/mean gap between
    consecutive events plus the count of sub-hour ("rapid-fire")
    gaps — the upstream signal for cadence drift, dead sensors (max
    gap explodes), and duplicate-burst ingestion (rapid count spikes)
    that ts_gap_detect only sees once a fixed threshold is crossed.
    Gaps are integer floor-seconds (unix_timestamp <-> DuckDB
    epoch(date_trunc('second', ts)), the module-wide epoch rule), the
    mean an integer DIV — hash-exact with no float path.  Single-row
    users contribute no gaps and drop out (the pre-agg filter removes
    their NULL lag row).

    Scale: one lag window + one aggregate, both partitioned by
    user_id (high-cardinality) — a single user_id Exchange that the
    aggregate reuses; no global ordering anywhere."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_s = F.unix_timestamp("ts")
    g = e.select(
        "user_id",
        (epoch_s - F.lag(epoch_s).over(w)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("user_id").agg(
        (F.count(F.lit(1)) + F.lit(1)).alias("n_events"),
        F.count("gap_s").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
        F.expr("CAST(sum(gap_s) DIV count(gap_s) AS BIGINT)").alias(
            "avg_gap_s"
        ),
        F.sum(F.when(F.col("gap_s") < 3600, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rapid_1h"),
    )


@op(
    "ts_clock_phase_audit",
    oracle="""
    WITH p AS (
        SELECT user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) % 3600
                   AS phase_s,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           count(*) AS n_distinct_phases,
           CAST(3600 - (max(cnt * 4096 + (3600 - phase_s)) % 4096)
                AS BIGINT) AS dominant_phase_s,
           CAST((max(cnt * 4096 + (3600 - phase_s)) // 4096) * 1000000
                // CAST(sum(cnt) AS BIGINT) AS BIGINT)
               AS dominant_share_ppm
    FROM p
    GROUP BY user_id
    """,
)
def ts_clock_phase_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meter clock-discipline audit: a healthy meter on a fixed
    reporting cadence lands every reading at the SAME second-of-hour
    phase (epoch mod 3600); clock drift, reboots, or NTP-less
    gateways smear the phase.  Output per circuit: distinct phases
    observed, the dominant phase, and its share — share near 1e6 ppm
    means a disciplined clock, near (1e6 / 3600) means uniform smear.
    The argmax rides the packed-BIGINT trick (cnt * 4096 + (3600 -
    phase)): one max() yields count AND phase with the deterministic
    smallest-phase tie-break, sidestepping engine-specific max_by
    composite-key support (the ts_demand_charge pattern).

    Scale: two hash aggregates keyed by (user, phase) then user —
    both high-cardinality, no windows, no joins."""
    e = load_table(spark, sf_dir, "events")
    p = e.groupBy(
        "user_id",
        (F.unix_timestamp("ts") % 3600).alias("phase_s"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    packed = "max(cnt * 4096 + (3600 - phase_s))"
    return p.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_distinct_phases"),
        F.expr(f"CAST(3600 - ({packed} % 4096) AS BIGINT)").alias(
            "dominant_phase_s"
        ),
        F.expr(
            f"CAST(({packed} DIV 4096) * 1000000"
            " DIV CAST(sum(cnt) AS BIGINT) AS BIGINT)"
        ).alias("dominant_share_ppm"),
    )


@op(
    "ts_event_transitions",
    oracle="""
    WITH nxt AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ), c AS (
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM nxt WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_transitions,
           CAST(sum(n_transitions) OVER (PARTITION BY from_type)
                AS BIGINT) AS from_total,
           CAST(n_transitions * 1000000
                // CAST(sum(n_transitions) OVER (PARTITION BY from_type)
                        AS BIGINT) AS BIGINT) AS p_ppm
    FROM c
    """,
)
def ts_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream:
    P(next event type | current), estimated per user sequence and
    pooled — the behavioral fingerprint behind session simulation,
    anomaly scoring ("error→error mass doubled"), and the funnel
    generalization to ALL type pairs at once.  Transition extraction
    is one lead() per user sequence; the matrix is a (from, to)
    count aggregate, and the row-normalized probability is integer
    ppm over a from_type-partitioned window (bounded by the type
    dimension squared — a 25-row table here, KBs at any scale).

    Scale: the lead window and nothing else touches the fact — one
    user_id exchange; the matrix aggregate and its row totals run on
    type-pair cardinality."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wr = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.sum("n_transitions").over(wr).cast("bigint").alias("from_total"),
        F.expr(
            "CAST(n_transitions * 1000000 DIV"
            " (sum(n_transitions) OVER (PARTITION BY from_type))"
            " AS BIGINT)"
        ).alias("p_ppm"),
    )


@op(
    "ts_theil_sen_slope",
    oracle="""
    WITH d AS (
        SELECT user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400
                   AS day_x,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS day_y
        FROM events GROUP BY 1, 2
    ), p AS (
        SELECT a.user_id,
               (CAST(b.day_y AS DOUBLE) - CAST(a.day_y AS DOUBLE))
               / (CAST(b.day_x AS DOUBLE) - CAST(a.day_x AS DOUBLE))
                   AS slope,
               a.day_x AS x1, b.day_x AS x2
        FROM d a JOIN d b
          ON a.user_id = b.user_id AND a.day_x < b.day_x
    ), r AS (
        SELECT user_id, slope,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY slope, x1, x2
               ) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_pairs
        FROM p
    )
    SELECT user_id, max(n_pairs) AS n_pairs,
           CAST(max(CASE WHEN rn = (n_pairs + 1) // 2
                         THEN CAST(floor(slope + 0.5) AS BIGINT) END)
                AS BIGINT) AS ts_slope_micro_per_day
    FROM r GROUP BY user_id
    """,
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per circuit: the MEDIAN of all pairwise
    slopes of the daily consumption series — up to ~29% corrupted
    days cannot move it (agg_linreg / win_moving_slope's OLS answers
    move with a single bad meter-day).  The median is an exact RANK
    SELECTION (lower median at rank (n+1) DIV 2) under a total order
    of (slope, x1, x2): slope doubles are each ONE shared IEEE
    division of exact integers — identical bits in both engines —
    so the ordering and the selected element agree exactly; the
    selected slope is emitted floor-rounded in micro-units/day.

    Scale: the pair fan-out is per-user over the DAILY aggregate, so
    it is calendar-bounded (k days → k(k−1)/2 pairs, ~66k/user·year
    — bounded state, the classic Theil–Sen windowing); the daily
    rollup is the only fact-width shuffle, and pairs/rank/selection
    all stay inside the user_id partition."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "user_id",
        F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("day_x"),
    ).agg(
        F.sum(
            F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)")
        )
        .cast("bigint")
        .alias("day_y")
    )
    a = d.alias("a")
    b = d.alias("b")
    p = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.day_x") < F.col("b.day_x")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (
            (F.col("b.day_y").cast("double") - F.col("a.day_y").cast("double"))
            / (
                F.col("b.day_x").cast("double")
                - F.col("a.day_x").cast("double")
            )
        ).alias("slope"),
        F.col("a.day_x").alias("x1"),
        F.col("b.day_x").alias("x2"),
    )
    wp = Window.partitionBy("user_id")
    wr = wp.orderBy("slope", "x1", "x2")
    r = p.select(
        "user_id",
        "slope",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_pairs"),
    )
    return r.groupBy("user_id").agg(
        F.max("n_pairs").alias("n_pairs"),
        F.max(
            F.expr(
                "CASE WHEN rn = (n_pairs + 1) DIV 2"
                " THEN CAST(floor(slope + 0.5) AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("ts_slope_micro_per_day"),
    )


@op(
    "ts_alert_debounce",
    oracle="""
    WITH a AS (
        SELECT user_id, event_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
        FROM events WHERE value > 250
    ), g AS (
        SELECT user_id, es, vq,
               CASE WHEN es - lag(es) OVER (
                        PARTITION BY user_id ORDER BY es, event_id
                    )  >= 604800
                    OR lag(es) OVER (
                        PARTITION BY user_id ORDER BY es, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS fires
        FROM a
    ), s AS (
        SELECT user_id, es, vq,
               CAST(sum(fires) OVER (
                   PARTITION BY user_id ORDER BY es, vq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS alert_seq
        FROM g
    )
    SELECT user_id, alert_seq,
           CAST(min(es) AS BIGINT) AS fired_epoch_s,
           count(*) - 1 AS n_suppressed,
           CAST(max(vq) AS BIGINT) AS peak_value_micro
    FROM s GROUP BY user_id, alert_seq
    """,
)
def ts_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert debouncing with a 1-hour cooldown: a threshold breach
    (value > 300) FIRES only if no breach fired within the preceding
    hour; everything inside the cooldown is suppressed into the open
    alert — the difference between a pager that says "circuit 7
    overloaded, 42 readings" and 42 pages.  Classic hysteresis as
    pure window algebra: the fire flag is a lag-gap test, the running
    sum of fires numbers the alert episodes (the ts_sessionize
    trick), and one aggregate per episode carries first-fire time,
    suppressed count, and the peak.  All integer epoch-seconds /
    micro-units.

    Note the episode rule is greedy from the FIRST breach (a breach
    6 days after the previous breach extends the episode even if the
    first fired weeks ago) — gap-based debounce, the alerting-system
    default.  Scale: breaches are a pushed-down filter of the fact;
    both windows and the aggregate share one user_id exchange."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value") > 250)
    a = e.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("es"),
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("vq"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    g = a.select(
        "user_id",
        "es",
        "vq",
        F.expr(
            "CASE WHEN es - lag(es) OVER ("
            " PARTITION BY user_id ORDER BY es, event_id)  >= 604800"
            " OR lag(es) OVER ("
            " PARTITION BY user_id ORDER BY es, event_id) IS NULL"
            " THEN 1 ELSE 0 END"
        ).alias("fires"),
    )
    ws = Window.partitionBy("user_id").orderBy("es", "vq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = g.select(
        "user_id",
        "es",
        "vq",
        F.sum("fires").over(ws).cast("bigint").alias("alert_seq"),
    )
    return s.groupBy("user_id", "alert_seq").agg(
        F.min("es").cast("bigint").alias("fired_epoch_s"),
        (F.count(F.lit(1)) - 1).alias("n_suppressed"),
        F.max("vq").alias("peak_value_micro"),
    )


@op(
    "ts_peak_valley",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq,
               lag(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev,
               lead(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN vq > prev AND vq > nxt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_peaks,
           CAST(sum(CASE WHEN vq < prev AND vq < nxt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valleys,
           CAST(max(CASE WHEN vq > prev AND vq > nxt THEN vq END)
                AS BIGINT) AS highest_peak_micro,
           CAST(min(CASE WHEN vq < prev AND vq < nxt THEN vq END)
                AS BIGINT) AS lowest_valley_micro
    FROM s
    WHERE prev IS NOT NULL AND nxt IS NOT NULL
    GROUP BY user_id
    """,
)
def ts_peak_valley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-extrema census per circuit: strict peaks (greater than
    both neighbors) and valleys in the reading sequence — the cycle
    counter feeding battery-wear models and duty-cycle estimation
    (n_peaks ≈ charge cycles), and the oscillation detector that
    separates a hunting control loop (many shallow extrema) from
    clean diurnal swings (few deep ones).  Strict inequalities on
    integer micro-units make plateau points neither peak nor valley
    — deterministic, no tie ambiguity.  Endpoints (no both-side
    neighbors) are excluded.

    Plan: one lag+lead window and the per-user aggregate share a
    single user_id exchange; nothing else touches the fact."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vq = F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)")
    s = e.select(
        "user_id",
        vq.alias("vq"),
        F.lag(vq).over(w).alias("prev"),
        F.lead(vq).over(w).alias("nxt"),
    ).filter(F.col("prev").isNotNull() & F.col("nxt").isNotNull())
    peak = "vq > prev AND vq > nxt"
    valley = "vq < prev AND vq < nxt"
    return s.groupBy("user_id").agg(
        F.expr(
            f"CAST(sum(CASE WHEN {peak} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_peaks"),
        F.expr(
            f"CAST(sum(CASE WHEN {valley} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_valleys"),
        F.expr(
            f"CAST(max(CASE WHEN {peak} THEN vq END) AS BIGINT)"
        ).alias("highest_peak_micro"),
        F.expr(
            f"CAST(min(CASE WHEN {valley} THEN vq END) AS BIGINT)"
        ).alias("lowest_valley_micro"),
    )


#: ts_survival_km's deterministic transcendentals (r7, the LAST libm
#: retirement): a probability-domain ln ladder for the per-step hazard
#: factors (r-d)/r in (0, 1], and an exp ladder for the product-limit
#: reconstruction.  exp domain: the km prefix sum is gated at -40
#: (survival < exp(-40) ~ 4e-18 floors to 0 on the 1e-6 grid), so
#: lo_k=-60 leaves the clamped edge rung unreachable by construction.
_KM_P2, _KM_ELN2 = sql_ln_ladders(lo_e=-62, hi_e=0)
_KM_EXP_P2K, _KM_EXP_KLN2 = sql_exp_ladders(lo_k=-60, hi_k=0)
_KM_TERM_Q = (
    f"CASE WHEN n_deaths >= at_risk THEN CAST(0 AS BIGINT)"
    f" ELSE CAST(floor({sql_ln_final()} * 1.0e12 - 5.0e-1) AS BIGINT) + 1 END"
)
_KM_SURVIVAL = (
    f"CASE WHEN dead_flag = 1 THEN 0.0e0"
    f" WHEN {EXP_Y} < -4.0e1 THEN 0.0e0"
    f" ELSE floor({sql_exp_final()} * 1.0e6 + 5.0e-1) / 1.0e6 END"
)


@op(
    "ts_survival_km",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS max_ts FROM events),
    per_user AS (
        SELECT e.user_id,
               CAST(count(DISTINCT CAST(e.ts AS DATE)) AS BIGINT) AS dur,
               CASE WHEN max(e.ts) >= max(m.max_ts) - INTERVAL 2 DAY
                    THEN 1 ELSE 0 END AS censored
        FROM events e CROSS JOIN mx m
        GROUP BY e.user_id
    ),
    by_dur AS (
        SELECT dur,
               CAST(sum(1 - censored) AS BIGINT) AS n_deaths,
               CAST(sum(censored) AS BIGINT) AS n_censored
        FROM per_user GROUP BY dur
    ),
    risk AS (
        SELECT dur, n_deaths, n_censored,
               CAST(sum(n_deaths + n_censored)
                    OVER (ORDER BY dur
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS at_risk
        FROM by_dur
    ),
    s0 AS (
        SELECT *, CAST(at_risk - n_deaths AS DOUBLE)
                      / CAST(at_risk AS DOUBLE) AS {LN_X}
        FROM risk
    ), s1 AS (
        SELECT *, {_KM_P2} AS {LN_P2}, {_KM_ELN2} AS {LN_ELN2} FROM s0
    ), s2 AS (
        SELECT dur, n_deaths, n_censored, at_risk, {LN_ELN2},
               {sql_ln_s()} AS {LN_S}
        FROM s1
    ), terms AS (
        SELECT dur, n_deaths, n_censored, at_risk,
               {_KM_TERM_Q} AS term_q,
               max(CASE WHEN n_deaths >= at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS dead_flag
        FROM s2
    ), acc AS (
        SELECT dur, n_deaths, n_censored, at_risk, dead_flag,
               CAST(CAST(sum(term_q)
                         OVER (ORDER BY dur
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS DOUBLE)
                   / 1.0e12 AS {EXP_Y}
        FROM terms
    ), e0 AS (
        SELECT *, {sql_exp_k()} AS {EXP_K} FROM acc
    ), e1 AS (
        SELECT *, {_KM_EXP_P2K} AS {EXP_P2K},
               {_KM_EXP_KLN2} AS {EXP_KLN2}
        FROM e0
    ), e2 AS (
        SELECT dur, n_deaths, n_censored, at_risk, dead_flag, {EXP_Y},
               {EXP_P2K}, {sql_exp_r()} AS {EXP_R}
        FROM e1
    )
    SELECT dur AS dur_days, n_deaths, n_censored, at_risk,
           {_KM_SURVIVAL} AS km_survival
    FROM e2
    """,
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user engagement lifetimes: duration =
    distinct active days, right-censored for users still active in the
    final 2 days of the observation window (their true lifetime is
    unknown, but they stay in every earlier risk set — discarding them
    is the classic churn-analysis bias this estimator exists to fix).
    At-risk counts come from a suffix-sum window over the DAY-bounded
    duration domain (never over users).

    Float discipline (r7 — the registry's LAST libm retirement): the
    product-limit estimator exp(Σ ln((r−d)/r)) now runs BOTH
    transcendentals on the deterministic staged generators
    (parity.sql_ln_* / sql_exp_* — correctly-rounded IEEE ops only,
    bit-equal across Spark/DuckDB/Python, tests/test_ieee_ln.py):
    each hazard ln quantizes to integer 1e-12 units, the prefix sum
    is exact BIGINT math, exp reconstructs from the identical sum on
    both engines, and the display value floor-snaps to the 1e-6
    grid.  A running flag pins survival to exactly 0.0 once a risk
    set is exhausted (the ladder's x=0 lane is deterministic but
    gated off), and sums below -40 short-circuit to 0.0 (exp(-40)
    floors to 0 anyway — keeps the exp ladder inside its accurate
    domain).  At 100 TB: one user-keyed aggregate (shuffles user
    cardinality), one day-bounded aggregate, two tiny windows — the
    ladders run on the duration-domain table, never per event."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    per_user = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.countDistinct(F.to_date("ts")).cast("long").alias("dur"),
            F.when(
                F.max("ts") >= F.max(F.expr("max_ts - INTERVAL 2 DAYS")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("censored"),
        )
    )
    by_dur = per_user.groupBy("dur").agg(
        F.sum(F.expr("1 - censored")).cast("long").alias("n_deaths"),
        F.sum("censored").cast("long").alias("n_censored"),
    )
    w_suffix = Window.orderBy("dur").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_prefix = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_dur.withColumn(
        "at_risk",
        F.sum(F.col("n_deaths") + F.col("n_censored")).over(w_suffix).cast("long"),
    )
    terms = (
        risk.withColumn(
            LN_X,
            F.expr(
                "CAST(at_risk - n_deaths AS DOUBLE)"
                " / CAST(at_risk AS DOUBLE)"
            ),
        )
        .withColumn(LN_P2, F.expr(_KM_P2))
        .withColumn(LN_ELN2, F.expr(_KM_ELN2))
        .withColumn(LN_S, F.expr(sql_ln_s()))
        .withColumn("term_q", F.expr(_KM_TERM_Q))
        .withColumn(
            "dead_flag",
            F.max(
                F.when(
                    F.col("n_deaths") >= F.col("at_risk"), F.lit(1)
                ).otherwise(F.lit(0))
            ).over(w_prefix),
        )
    )
    acc = terms.select(
        "dur",
        "n_deaths",
        "n_censored",
        "at_risk",
        "dead_flag",
        (
            F.sum("term_q").over(w_prefix).cast("bigint").cast("double")
            / F.lit(1e12)
        ).alias(EXP_Y),
    )
    staged = (
        acc.withColumn(EXP_K, F.expr(sql_exp_k()))
        .withColumn(EXP_P2K, F.expr(_KM_EXP_P2K))
        .withColumn(EXP_KLN2, F.expr(_KM_EXP_KLN2))
        .withColumn(EXP_R, F.expr(sql_exp_r()))
    )
    return staged.select(
        F.col("dur").alias("dur_days"),
        "n_deaths",
        "n_censored",
        "at_risk",
        F.expr(_KM_SURVIVAL).alias("km_survival"),
    )


@op(
    "ts_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        FROM firsts GROUP BY cohort_week
    ),
    weekly AS (
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                              CAST(date_trunc('week', e.ts) AS DATE)) / 7
                    AS BIGINT) AS week_offset,
               CAST(sum(CAST(floor(e.value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT w.cohort_week, w.week_offset, s.cohort_size,
           CAST(sum(w.revenue_cents)
                OVER (PARTITION BY w.cohort_week ORDER BY w.week_offset
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_revenue_cents,
           CAST(sum(w.revenue_cents)
                OVER (PARTITION BY w.cohort_week ORDER BY w.week_offset
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) // s.cohort_size AS ltv_cents_per_user
    FROM weekly w JOIN sizes s ON w.cohort_week = s.cohort_week
    """,
)
def ts_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users bucketed by first-activity
    week, purchase revenue accumulated per cohort-week × age-week, and
    normalized per cohort member — the "how much is a signup worth by
    week N" readout that sits next to ts_retention's user-count
    matrix.  Revenue accumulates as exact integer cents; per-user LTV
    is truncating integer division by the FULL cohort size (inactive
    members dilute — that is the metric's point).  The cumulative
    window partitions by cohort and runs over the week-offset domain,
    so its input is cohort×age cells, never raw events.  At 100 TB:
    one user-keyed aggregate for cohorts, one broadcast-sized cohort
    dimension, one events shuffle into cohort×age cells, one bounded
    window."""
    e = load_table(spark, sf_dir, "events")
    weeks = e.select(
        "user_id",
        "event_type",
        "value",
        F.to_date(F.date_trunc("week", "ts")).alias("wk"),
    )
    firsts = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    weekly = (
        weeks.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("revenue_cents")
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weekly.join(F.broadcast(sizes), "cohort_week")
        .withColumn(
            "cum_revenue_cents", F.sum("revenue_cents").over(w).cast("bigint")
        )
        .select(
            "cohort_week",
            "week_offset",
            "cohort_size",
            "cum_revenue_cents",
            F.expr("cum_revenue_cents DIV cohort_size").alias(
                "ltv_cents_per_user"
            ),
        )
    )


@op(
    "ts_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT event_type, d, cents,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                    AS BIGINT) AS k,
               CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sk,
               CAST(sum(cents) OVER (PARTITION BY event_type)
                    AS BIGINT) AS stot,
               CAST(count(*) OVER (PARTITION BY event_type)
                    AS BIGINT) AS n
        FROM daily
    ),
    scored AS (
        SELECT event_type, d, k, n, sk, stot,
               (CAST(sk AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(stot AS DOUBLE) * CAST(k AS DOUBLE))
               * (CAST(sk AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(stot AS DOUBLE) * CAST(k AS DOUBLE))
               / (CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)) AS score
        FROM seq WHERE k < n
    ),
    best AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY score DESC, k ASC) AS rnk
        FROM scored
    )
    SELECT event_type,
           d AS split_day,
           k AS n_days_before,
           CAST(floor(CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) + 0.5)
                AS BIGINT) AS mean_before_cents,
           CAST(floor(CAST(stot - sk AS DOUBLE) / CAST(n - k AS DOUBLE) + 0.5)
                AS BIGINT) AS mean_after_cents
    FROM best WHERE rnk = 1
    """,
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary mean-shift changepoint per event type: over the daily
    revenue series, pick the split k that maximizes the between-
    segment contrast n1*n2*(m1-m2)^2 — equivalently (Sk*n - S*k)^2 /
    (k*(n-k)) on exact integer prefix sums — the single step of
    binary-segmentation / CUSUM-style detection ("did this stream's
    level shift, and when?").  Prefix sums are exact BIGINT cents over
    the DAY-bounded domain; the score is contrast*contrast/(k*(n-k))
    where each step (int->double cast, multiply, subtract, divide) is a
    single correctly-rounded IEEE-754 operation — identical bits on the
    JVM and DuckDB, unlike ``pow`` whose libm may differ by 1 ulp and
    flip a near-tied argmax (VERDICT r4 item 1).  The argmax
    (row_number ordered by score DESC, k ASC — earliest day wins exact
    ties) therefore picks the same split on both engines, and segment
    means are emitted as exact BIGINT whole cents so no IEEE double
    reaches the graded output at all.  At 100 TB: one shuffle into day
    cells, windows over the bounded day domain, one rank pick."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = daily.select(
        "event_type",
        "d",
        F.row_number().over(wp.orderBy("d")).cast("bigint").alias("k"),
        F.sum("cents").over(wo).cast("bigint").alias("sk"),
        F.sum("cents").over(wp).cast("bigint").alias("stot"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    contrast = (
        F.col("sk").cast("double") * F.col("n").cast("double")
        - F.col("stot").cast("double") * F.col("k").cast("double")
    )
    scored = seq.filter(F.col("k") < F.col("n")).withColumn(
        "score",
        contrast * contrast
        / (F.col("k").cast("double") * (F.col("n") - F.col("k")).cast("double")),
    )
    best = scored.withColumn(
        "rnk",
        F.row_number().over(wp.orderBy(F.col("score").desc(), F.col("k").asc())),
    ).filter(F.col("rnk") == 1)
    return best.select(
        "event_type",
        F.col("d").alias("split_day"),
        F.col("k").alias("n_days_before"),
        F.expr(
            "CAST(floor(CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) + 0.5) AS BIGINT)"
        ).alias("mean_before_cents"),
        F.expr(
            "CAST(floor(CAST(stot - sk AS DOUBLE) / CAST(n - k AS DOUBLE) + 0.5)"
            " AS BIGINT)"
        ).alias("mean_after_cents"),
    )


@op(
    "ts_clearness_index",
    oracle="""
    WITH hourly AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(date_part('hour', ts) AS BIGINT) AS hr,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    envelope AS (
        SELECT hr, CAST(max(cents) AS BIGINT) AS max_cents
        FROM hourly GROUP BY hr
    ),
    env_total AS (
        SELECT CAST(sum(max_cents) AS BIGINT) AS clearsky_cents
        FROM envelope
    )
    SELECT h.d,
           CAST(sum(h.cents) AS BIGINT) AS day_cents,
           max(e.clearsky_cents) AS clearsky_cents,
           CAST(CAST(sum(h.cents) AS BIGINT) * 1000000
                // max(e.clearsky_cents) AS BIGINT) AS clearness_ppm
    FROM hourly h CROSS JOIN env_total e
    GROUP BY h.d
    """,
)
def ts_clearness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day clearness index: the day's total yield against the
    fleet's empirical clear-sky envelope — Σ over hours of the maximum
    that hour ever produced across the whole window (the standard
    data-driven stand-in when no irradiance model is available).
    Cloudy / degraded days drop well below 1e6 ppm; the envelope
    itself is how PV analysts normalize seasonality out of yield
    comparisons.  All integer cents; the ratio is truncating ppm.
    Plan: one shuffle into (day, hour) cells, an hour-bounded (24-row)
    envelope aggregate that broadcasts, and a day-bounded census —
    nothing rescans raw events twice at any scale."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.to_date("ts").alias("d"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(
        F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    envelope = hourly.groupBy("hr").agg(
        F.max("cents").cast("bigint").alias("max_cents")
    )
    env_total = envelope.agg(
        F.sum("max_cents").cast("bigint").alias("clearsky_cents")
    )
    return (
        hourly.crossJoin(F.broadcast(env_total))
        .groupBy("d")
        .agg(
            F.sum("cents").cast("bigint").alias("day_cents"),
            F.max("clearsky_cents").alias("clearsky_cents"),
            F.expr(
                "CAST(CAST(sum(cents) AS BIGINT) * 1000000"
                " DIV max(clearsky_cents) AS BIGINT)"
            ).alias("clearness_ppm"),
        )
    )


@op(
    "ts_npv_cashflows",
    oracle=f"""
    WITH mn AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
    flows AS (
        SELECT e.user_id,
               CAST(date_diff('day', m.d0, CAST(e.ts AS DATE)) AS BIGINT)
                   AS t_days,
               CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events e CROSS JOIN mn m
        WHERE e.event_type = 'purchase'
    ),
    daily AS (
        SELECT user_id, t_days, CAST(sum(cents) AS BIGINT) AS cents
        FROM flows GROUP BY user_id, t_days
    ),
    disc AS (
        SELECT t_days, {sql_powi(_NPV_DAILY_BASE, 't_days')} AS df
        FROM (SELECT DISTINCT t_days FROM daily) t
    )
    SELECT d.user_id,
           CAST(sum(d.cents) AS BIGINT) AS nominal_cents,
           CAST(floor(CAST(sum(CAST(CAST(d.cents AS DOUBLE) * x.df
                                    AS DECIMAL(25,8))) AS DOUBLE) + 0.5)
                AS BIGINT) AS npv_cents,
           CAST(count(*) AS BIGINT) AS n_flow_days
    FROM daily d JOIN disc x ON d.t_days = x.t_days
    GROUP BY d.user_id
    """,
)
def ts_npv_cashflows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net present value of each customer's purchase stream, discounted
    daily at a 10% annual rate from the window's first day — the
    finance-side companion to ts_cohort_ltv's nominal curve (a dollar
    on day 29 is worth less than one on day 0; at utility scale this
    is how prepaid-credit books are marked).  Parity scheme: cashflows
    aggregate to exact integer cents per (user, day-offset); the daily
    discount factor base^t_days is parity.sql_powi's exponentiation-
    by-squaring over PRECOMPUTED literal factors (bit tests + exact
    IEEE multiplies — no libm pow; retired from the libm-quantized
    class r6, valid for t_days < 2^16 ≈ 179 years), ONE per DISTINCT
    day offset, joined back broadcast; both engines evaluate the
    identical float product cents×df per cell, the per-user sum
    accumulates through DECIMAL(25,8) — order-independent — and the
    graded NPV is emitted as exact BIGINT whole cents.  Plan: one
    user/day aggregate, a tiny discount dimension, one user-keyed
    sum."""
    e = load_table(spark, sf_dir, "events")
    mn = e.agg(F.to_date(F.min("ts")).alias("d0"))
    flows = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mn))
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.col("d0")).cast("bigint").alias("t_days"),
            F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
        )
    )
    daily = flows.groupBy("user_id", "t_days").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    disc = daily.select("t_days").distinct().select(
        "t_days",
        F.expr(sql_powi(_NPV_DAILY_BASE, "t_days")).alias("df"),
    )
    return (
        daily.join(F.broadcast(disc), "t_days")
        .groupBy("user_id")
        .agg(
            F.sum("cents").cast("bigint").alias("nominal_cents"),
            F.floor(
                F.sum(
                    (F.col("cents").cast("double") * F.col("df")).cast(
                        "decimal(25,8)"
                    )
                ).cast("double")
                + 0.5
            )
            .cast("bigint")
            .alias("npv_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_flow_days"),
        )
    )


@op(
    "ts_sliding_correlation",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    roll AS (
        SELECT d,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
               CAST(sum(y * y) OVER w AS BIGINT) AS syy
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT d, n,
           CASE WHEN n < 7
                     OR (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0.0
                THEN NULL
                ELSE floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE)))
                           * 10000.0 + 0.5) / 10000.0
           END AS corr_7d
    FROM roll
    """,
)
def ts_sliding_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day Pearson correlation between the click and
    purchase daily revenue series — "are the two streams moving
    together this week?", the rolling twin of agg_corr_exact's global
    statistic.  The day grain pivots both series into one row (exact
    integer cents), the 7-row frame accumulates all five sufficient
    sums as exact BIGINTs, and the correlation is one shared IEEE
    expression per row, floor-rounded to 1e-4; warm-up rows (n<7) and
    degenerate windows (zero variance) yield NULL on both engines.
    The window is unpartitioned but runs over the DAY-bounded
    aggregate, never raw events — the documented compact-domain
    shape.  At 100 TB: one shuffle into day cells, one tiny window."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.expr(
                "CASE WHEN event_type = 'click'"
                " THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.expr(
                "CASE WHEN event_type = 'purchase'"
                " THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    roll = daily.select(
        "d",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = nd * F.col("sxy").cast("double") - sx * sy
    vx = nd * F.col("sxx").cast("double") - sx * sx
    vy = nd * F.col("syy").cast("double") - sy * sy
    return roll.select(
        "d",
        "n",
        F.when((F.col("n") < 7) | (vx * vy <= 0.0), F.lit(None).cast("double"))
        .otherwise(F.floor(cov / F.sqrt(vx * vy) * 10000.0 + 0.5) / 10000.0)
        .alias("corr_7d"),
    )


#: Battery capacity for ts_battery_soc, in cents-of-value units.
BATTERY_CAP_CENTS = 50_000


@op(
    "ts_battery_soc",
    oracle=f"""
    WITH RECURSIVE seq AS (
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS BIGINT) AS k,
               CASE event_type
                    WHEN 'purchase' THEN CAST(floor(value * 100.0 + 0.5)
                                              AS BIGINT)
                    ELSE -CAST(floor(value * 100.0 + 0.5) AS BIGINT)
               END AS delta
        FROM events WHERE event_type IN ('purchase', 'click')
    ), ns AS (
        SELECT user_id, max(k) AS n_steps FROM seq GROUP BY user_id
    ), fold AS (
        SELECT user_id, k,
               least(greatest(delta, 0), {BATTERY_CAP_CENTS}) AS soc,
               CASE WHEN delta < 0 THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS n_clamp_lo,
               CASE WHEN delta > {BATTERY_CAP_CENTS} THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS n_clamp_hi
        FROM seq WHERE k = 1
        UNION ALL
        SELECT s.user_id, s.k,
               least(greatest(f.soc + s.delta, 0), {BATTERY_CAP_CENTS}),
               f.n_clamp_lo + CASE WHEN f.soc + s.delta < 0
                                   THEN 1 ELSE 0 END,
               f.n_clamp_hi + CASE WHEN f.soc + s.delta > {BATTERY_CAP_CENTS}
                                   THEN 1 ELSE 0 END
        FROM fold f JOIN seq s ON s.user_id = f.user_id AND s.k = f.k + 1
    )
    SELECT f.user_id,
           CAST(f.soc AS BIGINT) AS final_soc_cents,
           CAST(n.n_steps AS BIGINT) AS n_steps,
           f.n_clamp_lo, f.n_clamp_hi
    FROM fold f JOIN ns n ON n.user_id = f.user_id AND f.k = n.n_steps
    """,
)
def ts_battery_soc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Battery state-of-charge simulation per user — the canonical
    NON-ASSOCIATIVE sequential fold: soc_t = clamp(soc_{{t-1}} + delta,
    0, cap) with purchases charging and clicks discharging (cents).
    The clamp makes the fold order-dependent and NOT expressible as a
    window sum (the ts_cusum linearization works for one-sided min
    clamps; the two-sided clamp has no prefix-sum closed form), so
    this is the Python stateful lane: one hash exchange on user_id, a
    partition-local sort on (user_id, ts, event_id), then ONE linear
    ``mapInPandas`` pass per partition that folds every user's
    contiguous run and emits (final_soc_cents, n_steps, clamp counts)
    per user.  (r11, guide §4: the previous grouped-map
    ``applyInPandas`` paid a pandas sort + 1-row-DataFrame construction
    PER USER — tens of thousands of tiny frames; the per-partition
    stream fold is the same integer recurrence with per-batch, not
    per-group, Arrow overhead.  ``udf_apply_in_pandas`` stays the
    grouped-map lane's contractual demo.)
    The oracle is the same fold as a DuckDB RECURSIVE CTE over
    row_number'd steps — depth = max events per user (~43 at sf0.1),
    bounded by the per-key sequence length, never by corpus size.
    All-integer state: no IEEE value crosses engines.  At 100 TB:
    per-user sequences are short and independent — partition by key,
    sort within partition, fold linearly (the streaming twin is
    applyInPandasWithState with the soc as state); the shuffle carries
    only (user_id, ts, event_id, delta)."""
    import pandas as pd

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.expr(
                "CASE WHEN event_type = 'purchase'"
                " THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)"
                " ELSE -CAST(floor(value * 100.0 + 0.5) AS BIGINT) END"
            ).alias("delta"),
        )
    )

    cap = BATTERY_CAP_CENTS

    def fold_stream(batches):
        users: list = []
        socs: list = []
        ns: list = []
        los: list = []
        his: list = []
        cur = None
        soc = steps = lo = hi = 0
        for pdf in batches:
            for u, d in zip(
                pdf["user_id"].to_numpy(), pdf["delta"].to_numpy()
            ):
                if u != cur:
                    if cur is not None:
                        users.append(int(cur))
                        socs.append(soc)
                        ns.append(steps)
                        los.append(lo)
                        his.append(hi)
                    cur = u
                    soc = steps = lo = hi = 0
                steps += 1
                raw = soc + int(d)
                if raw < 0:
                    soc = 0
                    lo += 1
                elif raw > cap:
                    soc = cap
                    hi += 1
                else:
                    soc = raw
        if cur is not None:
            users.append(int(cur))
            socs.append(soc)
            ns.append(steps)
            los.append(lo)
            his.append(hi)
        if users:
            yield pd.DataFrame(
                {
                    "user_id": users,
                    "final_soc_cents": socs,
                    "n_steps": ns,
                    "n_clamp_lo": los,
                    "n_clamp_hi": his,
                }
            )

    # Explicit keyed repartition (one task per core, exempt from AQE
    # coalescing — see udf_apply_in_pandas) + partition-local sort:
    # every user's rows are contiguous and time-ordered, so the fold
    # is a single pass.  Only (user_id, delta) cross into Python —
    # the sort keys stay JVM-side (guide §4.2).
    e = (
        e.repartition(spark.sparkContext.defaultParallelism, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "delta")
    )
    return e.mapInPandas(
        fold_stream,
        "user_id long, final_soc_cents long, n_steps long,"
        " n_clamp_lo long, n_clamp_hi long",
    )


#: Attribution lookback window for ts_attribution_last_touch (seconds).
ATTRIB_WINDOW_S = 7 * 86_400


@op(
    "ts_attribution_last_touch",
    oracle=f"""
    WITH stream AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN {DUCK_EPOCH_S} END IGNORE NULLS)
                   OVER w AS touch_es
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CASE WHEN touch_type IS NOT NULL
                     AND {DUCK_EPOCH_S} - touch_es <= {ATTRIB_WINDOW_S}
                THEN touch_type ELSE 'direct' END AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS attributed_cents
    FROM stream WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def ts_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution — the revenue-credit rule every
    growth dashboard starts from: each purchase credits the user's most
    recent prior click-or-view touchpoint within a 7-day lookback, else
    'direct'.  The classic implementation is an as-of join
    (purchases × touches); this is the MERGED-STREAM form — one
    running ``last_value(... IGNORE NULLS)`` over the user's combined
    event sequence (ordered ts, event_id; the purchase row itself can
    never be its own touch because the CASE nulls non-touch types) —
    which costs ONE user-keyed window exchange instead of a join, the
    same shape join_asof documents as its merged-stream twin.
    Lookback enforced on TRUNCATED whole epoch seconds on both engines
    (Spark unix_timestamp truncates sub-second parts; the oracle uses
    parity.DUCK_EPOCH_S = epoch(date_trunc('second', ts)) so
    a gap within 1s of the 7-day boundary cannot classify differently
    across engines — ADVICE r5); credit summed in exact cents.  At 100 TB: one hash exchange on user_id, linear window
    scan per user, then a channel-bounded aggregate (≤3 rows)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.expr(
        "CASE WHEN event_type IN ('click', 'view') THEN event_type END"
    )
    touch_es = F.expr(
        "CASE WHEN event_type IN ('click', 'view')"
        " THEN unix_timestamp(ts) END"
    )
    stream = e.select(
        "event_type",
        "ts",
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
        F.last(touch, ignorenulls=True).over(w).alias("touch_type"),
        F.last(touch_es, ignorenulls=True).over(w).alias("touch_es"),
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.expr(
            f"CASE WHEN touch_type IS NOT NULL"
            f" AND unix_timestamp(ts) - touch_es <= {ATTRIB_WINDOW_S}"
            f" THEN touch_type ELSE 'direct' END"
        ).alias("channel"),
        "cents",
    )
    return purchases.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("attributed_cents"),
    )
