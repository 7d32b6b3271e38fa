"""Structured Streaming operators (SURVEY.md §2.9) — the continuous
twins of the §2.8 batch analytics, exactly the reference's ingest shape
(continuously-arriving gateway logs with late/out-of-order records).

Oracle strategy: the driver's oracle is batch DuckDB, so every op here
replays the static ``events`` parquet as a FILE STREAM, drains it with
``trigger(availableNow=True)`` into a memory sink, and returns the
final table — deterministic, so most entries are FULLY hash-checked
against a batch SQL twin rather than merely rows-only (stronger than
SURVEY §2.9 planned).

The same physical plans run unchanged against a live directory/Kafka
source with a processing-time trigger — that is the point of the
unified batch/streaming model.  State at 100 TB: every stateful op
below keys its state by (user_id | window), bounded by watermarks.
"""

from __future__ import annotations

import itertools
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shared_solar_data_warehouse_spark.parity import DEC, sql_dsum
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.session import pin_session
from shared_solar_data_warehouse_spark.sources.io import scratch_dir, table_path

_COUNTER = itertools.count()

#: events parquet physical schema — fixtures store ts as TIMESTAMP(MICROS)
#: (verified via pyarrow.parquet.read_schema on every sf), which maps
#: directly onto Spark's µs TimestampType; no unit conversion is needed.
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_DUCK_EPOCH_S = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"


def _stream_dir(sf_dir: str) -> str:
    """File-stream sources want a DIRECTORY of data files.  A
    real-scale events table already IS a parquet directory — use it
    directly (the source lists its part files; a symlinked directory
    would NOT be traversed).  The driver fixtures are single parquet
    FILES, so those get staged into a per-sf scratch dir via symlink
    (no copy).  The scratch dir is keyed by the snapshot's basename, so
    a link left by another snapshot of the same basename — or one whose
    target was deleted (dangling) — is re-pointed, never trusted."""
    p = os.path.abspath(table_path(sf_dir, "events"))
    if os.path.isdir(p):
        return p
    d = scratch_dir(sf_dir, "events_stream_src")
    link = os.path.join(d, "events.parquet")
    if os.path.lexists(link) and os.readlink(link) != p:
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(p, link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (µs TimestampType,
    identical to what the batch loader reads).

    Replay knob: when ``spark.sswh.stream.maxFilesPerTrigger`` is set,
    it is passed through as the source's ``maxFilesPerTrigger``, which
    ``trigger(availableNow=True)`` respects — a multi-file events
    directory then drains as one micro-batch PER FILE instead of one
    shot, which is how tests/test_streaming.py replays every op over
    3-batch (and out-of-order) arrival.  Unset (the default and the
    bench path) the source drains everything in a single batch."""
    pin_session(spark)
    reader = spark.readStream.schema(_EVENTS_RAW_SCHEMA).format("parquet")
    mft = spark.conf.get("spark.sswh.stream.maxFilesPerTrigger", None)
    if mft:
        reader = reader.option("maxFilesPerTrigger", mft)
    return reader.load(_stream_dir(sf_dir))


def drain(
    spark: SparkSession,
    sdf: DataFrame,
    mode: str = "append",
    nodata_batch: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink; return the final result as a batch DataFrame.

    ``nodata_batch=False`` disables the trailing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``) for queries
    whose OUTPUT cannot depend on it — ops that emit rows the moment
    they are seen/matched (dropDuplicatesWithinWatermark, inner
    stream-stream joins), where the extra batch only evicts state that
    availableNow is about to drop anyway.  The r12 batch probe
    measured that eviction-only batch at 1.1–1.8 s on the
    stream-stream join (a full state-store load/commit cycle across
    every partition with zero input rows) and 0.4–0.6 s on the dedup.
    Watermark-gated APPEND AGGREGATES (stream_watermark) must keep the
    default: their finalized windows are emitted BY the no-data batch.
    """
    name = f"sswh_mem_{os.getpid()}_{next(_COUNTER)}"
    # Stateful operators spin one state-store instance per shuffle
    # partition per micro-batch; at fixture scale that fixed cost
    # dominates, so run the stream with few state partitions (the knob
    # is read at query START and baked into the checkpoint; measured:
    # 8 -> 4 saves ~0.7 s on the stream-stream join, 4 -> 2 nothing).
    # On a real cluster this is instead sized ~2x total cores.
    # Restored after the drain — the builder protocol is sequential,
    # and batch queries under AQE re-coalesce anyway.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    if not nodata_batch:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        )
    try:
        query = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
    return spark.table(name)


@op(
    "stream_ingest_files",
    oracle="""
    SELECT event_id, user_id, event_type, round(value, 4) AS value
    FROM events WHERE value > 150.0
    """,
)
def stream_ingest_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming ingest + stateless filter/projection
    (append mode, no state) — the raw log intake stage."""
    s = events_stream(spark, sf_dir)
    out = s.filter(F.col("value") > 150.0).select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    )
    return drain(spark, out, "append")


@op(
    "stream_tumbling",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windowed aggregate by event type (complete mode;
    the streaming twin of ts_bucket_agg at site granularity)."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias(
            "total_value"
        ),
    )
    out = agg.select(
        F.col("window.start").cast("date").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    )
    return drain(spark, out, "complete")


@op(
    "stream_sliding",
    oracle="""
    SELECT CAST(date_trunc('day', ts) - to_days(CAST(o.off AS INTEGER)) AS DATE)
               AS window_start_day,
           count(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) o
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 2-day length, 1-day slide — every event lands in
    exactly two windows (the oracle unrolls the two day-offsets)."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "2 days", "1 day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = agg.select(
        F.col("window.start").cast("date").alias("window_start_day"),
        "n_events",
    )
    return drain(spark, out, "complete")


@op(
    "stream_session",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, value, {_DUCK_EPOCH_S} AS es,
               CASE WHEN {_DUCK_EPOCH_S} - lag({_DUCK_EPOCH_S}) OVER w > 1800
                    OR lag({_DUCK_EPOCH_S}) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, value, es,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY es
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           min(es) AS session_start_s,
           max(es) AS session_last_s,
           count(*) AS n_events,
           {sql_dsum('value')} AS session_value
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) — must produce EXACTLY the
    sessions that the batch lag+cumsum construction (ts_sessionize)
    produces; the oracle IS that construction."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias(
            "session_value"
        ),
    )
    out = agg.select(
        "user_id",
        F.unix_timestamp(F.col("session_window.start")).alias("session_start_s"),
        (F.unix_timestamp(F.col("session_window.end")) - 1800).alias(
            "session_last_s"
        ),
        "n_events",
        "session_value",
    )
    return drain(spark, out, "complete")


@op(
    "stream_watermark",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n_events
    FROM events
    GROUP BY 1
    HAVING CAST(date_trunc('day', ts) AS DATE) + 1
           <= (SELECT date_trunc('second', max(ts)) FROM events)
              - INTERVAL 1 HOUR
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode aggregation: a 1-hour late-data bound
    means only windows whose end precedes (max event time - 1h) are
    final and emitted; the trailing open window is withheld — exactly
    what the oracle's HAVING clause states.  The watermark is also the
    state-eviction bound at scale: one day-window row per key in
    flight."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = agg.select(
        F.col("window.start").cast("date").alias("day"), "n_events"
    )
    return drain(spark, out, "append")


@op(
    "stream_dedup",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once repair: the input is the stream UNIONED WITH ITSELF
    (every record duplicated — the GSM re-upload case), and
    dropDuplicatesWithinWatermark restores one row per event_id while
    keeping only a watermark-bounded id window in state."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    doubled = a.unionByName(b).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    # First-seen rows are emitted in the batch that carries them; the
    # trailing no-data batch would only evict state (r12 probe: 0.4–
    # 0.6 s of state-store cycling for zero output rows) — skip it.
    return drain(spark, deduped, "append", nodata_batch=False)


@op(
    "stream_stateful",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               {_DUCK_EPOCH_S} - lag({_DUCK_EPOCH_S}) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(coalesce(max(gap_s), 0) AS BIGINT) AS max_gap_s
    FROM gaps GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    state machine tracking event count and maximum inter-arrival gap
    (the streaming outage detector).  State = (count, last_ts, max_gap)
    per user — O(1) per key, the only thing that scales.

    API choice: Spark 4.x adds ``transformWithStateInPandas`` (typed
    state handles, timers, TTL) as the forward path; its driver worker
    requires protobuf, which this container lacks, so the engine ships
    the stable ``applyInPandasWithState`` twin — same state model, same
    oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track_gaps(key, pdf_iter, state: GroupState):
        n, last_es, max_gap = (
            state.get if state.exists else (0, None, 0)
        )
        # Vectorized per chunk (r11, guide §4): the scan over sorted
        # arrival seconds is max(diff) + the state-boundary gap —
        # integer-exact and order-identical to the per-row loop it
        # replaces (gaps compare in the same sorted order).
        for pdf in pdf_iter:
            es = np.sort(pdf["es"].to_numpy())
            if es.size == 0:
                continue
            if last_es is not None:
                g = int(es[0]) - last_es
                if g > max_gap:
                    max_gap = g
            if es.size > 1:
                mg = int(np.diff(es).max())
                if mg > max_gap:
                    max_gap = mg
            last_es = int(es[-1])
            n += int(es.size)
        state.update((n, last_es, max_gap))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_gap_s": [max_gap]}
        )

    s = events_stream(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").alias("es")
    )
    result = s.groupBy("user_id").applyInPandasWithState(
        track_gaps,
        outputStructType="user_id long, n_events long, max_gap_s long",
        stateStructType="n long, last_es long, max_gap long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = drain(spark, result, "update")
    # An update-mode memory sink holds one emission per (key, batch);
    # the op's result is the CURRENT state snapshot = the last
    # emission per key.  n_events is strictly monotone per key (a key
    # emits only in batches where it has rows), so the struct-max
    # picks it exactly; under the default one-batch drain this is the
    # identity.  Key-cardinality work — free at any scale.
    return (
        drained.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "max_gap_s")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.max_gap_s").alias("max_gap_s"),
        )
    )


@op(
    "stream_static_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_events
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the customer
    dim (broadcast — the dim is fixed per micro-batch), then
    aggregates; the static side at 100 TB is a broadcast or a bucketed
    mapside join, never a stream-repartition."""
    from shared_solar_data_warehouse_spark.sources.io import load_table

    s = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = s.join(F.broadcast(dim), s.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_events"))
    return drain(spark, agg, "complete")


@op(
    "stream_stream_join",
    oracle=f"""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id
    FROM (SELECT *, {_DUCK_EPOCH_S} AS es FROM events
          WHERE event_type = 'click') c
    JOIN (SELECT *, {_DUCK_EPOCH_S} AS es FROM events
          WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.es >= c.es AND p.es <= c.es + 3600
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 1 h after a click
    by the same user, both sides watermarked (1 h late bound + the
    interval condition bounds both join states).  Joins on
    second-truncated event time so the µs-vs-ns source precision can't
    flip the interval boundary."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.date_trunc("second", "ts").alias("c_tss"),
        )
        .withWatermark("c_tss", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.date_trunc("second", "ts").alias("p_tss"),
        )
        .withWatermark("p_tss", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_tss") >= F.col("c_tss"))
        & (F.col("p_tss") <= F.col("c_tss") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", F.col("p_user").alias("user_id"))
    # INNER stream-stream join: matches are emitted in the batch where
    # both sides are in state — the trailing no-data batch only evicts
    # watermark-expired state (r12 probe: 1.1–1.8 s of state-store
    # load/commit across every partition for zero output rows).  An
    # OUTER stream-stream join would NEED that batch (null-extended
    # rows emit on eviction); this one does not — skip it.
    return drain(spark, joined, "append", nodata_batch=False)


@op(
    "stream_sink_foreachbatch",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events WHERE value > 50.0
    GROUP BY event_type
    """,
)
def stream_sink_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as parquet keyed by
    epoch id (idempotent per-epoch overwrite = exactly-once-ish), then
    the landed data is read back and aggregated in batch — the
    standard custom-sink escape hatch."""
    out_dir = scratch_dir(sf_dir, "stream_foreachbatch")

    def land(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    s = events_stream(spark, sf_dir).filter(F.col("value") > 50.0).select(
        "event_id", "event_type"
    )
    query = (
        s.writeStream.foreachBatch(land)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .start()
    )
    query.awaitTermination()
    landed = spark.read.parquet(os.path.join(out_dir, "epoch=*"))
    return landed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


@op("source_rate_stream", tags=("rows-only",))
def source_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic stream source (rate-micro-batch: fixed
    rows per batch) — the load-generator used for soak tests; drained
    for a bounded number of rows then stopped."""
    pin_session(spark)
    name = f"sswh_rate_{os.getpid()}_{next(_COUNTER)}"
    s = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 128)
        .option("startTimestamp", 0)
        .load()
    )
    query = (
        s.select("value")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline and spark.table(name).count() < 128:
        time.sleep(0.2)
    query.stop()
    return spark.table(name).filter(F.col("value") < 128)


@op(
    "stream_ewma",
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
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``ts_ewma``: the per-circuit EWMA level kept
    as O(1) state (level, count) per key and folded forward on every
    micro-batch — the smoother a live meter-head would actually run.
    Same explicit ``0.7*acc + 0.3*x`` IEEE-double fold as the batch op
    and the oracle's ``list_reduce``, so all three agree bit-for-bit.

    Within a micro-batch the group's rows are concatenated and sorted
    by (event-time µs, event_id) before folding — state carries the
    fold across batches, so ordering only needs to hold per batch
    (late/out-of-order data across batches would need the watermarked
    sort-buffer pattern instead)."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold_level(key, pdf_iter, state: GroupState):
        n, acc = state.get if state.exists else (0, None)
        # np.lexsort on the raw arrays instead of a per-group pandas
        # concat + sort_values (r11, guide §4): (us, event_id) is a
        # total order, so the permutation — and therefore the IEEE
        # fold sequence — is identical; only the per-group constant
        # cost changes.
        pdfs = list(pdf_iter)
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs)
        order = np.lexsort(
            (pdf["event_id"].to_numpy(), pdf["us"].to_numpy())
        )
        for x in pdf["value"].to_numpy()[order]:
            x = float(x)
            acc = x if acc is None else 0.7 * acc + 0.3 * x
            n += 1
        state.update((n, acc))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma_level": [math.floor(acc * 10000.0 + 0.5) / 10000.0],
            }
        )

    s = events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "value",
    )
    result = s.groupBy("user_id").applyInPandasWithState(
        fold_level,
        outputStructType="user_id long, n_events long, ewma_level double",
        stateStructType="n long, acc double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = drain(spark, result, "update")
    # Collapse the update-mode per-batch emissions to the current
    # state snapshot (last emission per key — n_events is strictly
    # monotone per key); identity under the one-batch drain.  See
    # stream_stateful for the full rationale.
    return (
        drained.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "ewma_level")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.ewma_level").alias("ewma_level"),
        )
    )


def _recover_state_swap(base: str) -> str:
    """Crash-recovery preamble for the write-new-then-swap foreachBatch
    state dirs (``stream_cdc_apply`` / ``stream_topk_snapshot``).

    The swap protocol is: write ``state_epoch_{e}`` (with an ``_epoch``
    stamp inside), ``rename(current -> current.old)``,
    ``rename(state_epoch_{e} -> current)``, ``rmtree(current.old)``.
    A crash can land in two inconsistent-looking windows; both recover
    to a CONSISTENT snapshot (pre- or post-batch, never torn):

    - ``current`` missing + ``current.old`` present — crashed between
      the two renames.  Roll back to the pre-batch snapshot; the
      uncommitted epoch replays and re-folds it.
    - both present — crashed after the commit rename, before cleanup.
      ``current`` is the committed post-batch snapshot; drop the
      leftover (also unblocks the next epoch's ``rename(cur -> old)``,
      which would refuse a non-empty destination on POSIX).

    Returns the ``current`` path.
    """
    import shutil

    cur = os.path.join(base, "current")
    old = cur + ".old"
    if not os.path.exists(cur) and os.path.exists(old):
        os.rename(old, cur)
    elif os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)
    return cur


def _state_epoch(cur: str) -> int:
    """Last epoch folded into the ``current`` snapshot (-1 if none).
    foreachBatch is at-least-once: a crash after the commit rename but
    before the checkpoint commit replays the epoch, and a non-idempotent
    fold (the CDC op's ``sum(n_ops)``) would double-count it — the
    stamp travels INSIDE the staged dir so it becomes visible atomically
    with the data at the commit rename."""
    try:
        with open(os.path.join(cur, "_epoch")) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _commit_state_swap(base: str, nxt: str, epoch_id: int) -> None:
    """Atomically promote staged state dir ``nxt`` to ``current``:
    stamp the epoch inside ``nxt`` (Spark ignores ``_``-prefixed files,
    like ``_SUCCESS``), then swap via the two-rename protocol whose
    crash windows ``_recover_state_swap`` repairs."""
    import shutil

    with open(os.path.join(nxt, "_epoch"), "w") as fh:
        fh.write(str(epoch_id))
    cur = os.path.join(base, "current")
    old = cur + ".old"
    if os.path.exists(cur):
        os.rename(cur, old)
    os.rename(nxt, cur)
    shutil.rmtree(old, ignore_errors=True)


@op(
    "stream_cdc_apply",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_ops
        FROM events
    )
    SELECT user_id, event_id AS last_event_id, value AS last_value,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: the event stream read as a change feed (every record
    a full-row UPSERT keyed by user_id; ``error`` records are DELETE
    tombstones) merged into a materialized current-state table via
    foreachBatch — the streaming MERGE idiom every lakehouse CDC
    pipeline runs.  Each micro-batch reduces map-side to one winner
    per key (argmax on the (ts, event_id) total order, plus an op
    count), merges with the persisted state by the same argmax, and
    overwrites the state atomically (write-new-then-swap, idempotent
    per epoch).  Because every upsert carries the full row, replaying
    the whole feed folds to exactly "latest op per key, tombstones
    absent" — which is what the oracle states declaratively.  At
    100 TB the state table is key-cardinality (not feed-cardinality)
    and the per-batch merge shuffles only batch-keys ∪ state-keys; a
    real deployment would swap the parquet swap-dir for Delta/Iceberg
    MERGE INTO, same plan shape."""
    import shutil

    base = scratch_dir(sf_dir, "stream_cdc_apply")
    # Fresh fold per invocation: stale state/checkpoint would double-count.
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    cur = os.path.join(base, "current")

    def pick_latest(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max(
                F.struct("us", "event_id", "event_type", "value")
            ).alias("last"),
            F.sum("n_ops").cast("long").alias("n_ops"),
        ).select(
            "user_id",
            F.col("last.us").alias("us"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.event_type").alias("event_type"),
            F.col("last.value").alias("value"),
            "n_ops",
        )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Crash-safe at-least-once fold: repair any torn swap from a
        # prior crash, and skip epochs already committed into the
        # snapshot (replaying one would double-count sum(n_ops)).
        _recover_state_swap(base)
        if _state_epoch(cur) >= epoch_id:
            return
        b = pick_latest(batch_df)
        if os.path.exists(cur):
            prev = batch_df.sparkSession.read.parquet(cur)
            b = pick_latest(prev.unionByName(b))
        nxt = os.path.join(base, f"state_epoch_{epoch_id}")
        b.write.mode("overwrite").parquet(nxt)
        _commit_state_swap(base, nxt, epoch_id)

    feed = events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
        "value",
        F.lit(1).alias("n_ops"),
    )
    query = (
        feed.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "_ckpt"))
        .start()
    )
    query.awaitTermination()
    state = spark.read.parquet(cur)
    return state.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
        "n_ops",
    )


@op(
    "stream_topk_snapshot",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY value DESC, event_id DESC)
                AS BIGINT) AS rank,
           event_id, value
    FROM events
    ORDER BY value DESC, event_id DESC
    LIMIT 10
    """,
)
def stream_topk_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained global top-10 leaderboard over the
    stream: each micro-batch reduces to its local top-10 (value, then
    event_id as the total-order tie-break), merges with the persisted
    leaderboard, and keeps the combined top-10 — O(k) state however
    long the stream runs, the monoid-fold shape every streaming top-k
    runs (per-batch partial top-k is associative and commutative, so
    batch ARRIVAL order cannot change the answer; RE-DELIVERED epochs
    would double-count and are fenced by the _epoch stamp instead —
    the fold itself is not replay-idempotent).  State lands via the same atomic
    write-new-then-swap parquet dir as the CDC op; the oracle is the
    batch LIMIT with the identical tie-break."""
    import shutil

    base = scratch_dir(sf_dir, "stream_topk_snapshot")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    cur = os.path.join(base, "current")

    def topk(df: DataFrame) -> DataFrame:
        return df.orderBy(F.col("value").desc(), F.col("event_id").desc()).limit(10)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        # Same crash-safe swap discipline as stream_cdc_apply.  The
        # fold is NOT idempotent under replay: a replayed epoch would
        # union rows already folded into the persisted top-10, and
        # limit(10) can then seat the same (event_id, value) row twice,
        # displacing a legitimate entry — so the _epoch stamp guard is
        # load-bearing here too, and the recovery preamble is what
        # makes a crash between the two swap renames survivable.
        _recover_state_swap(base)
        if _state_epoch(cur) >= epoch_id:
            return
        b = topk(batch_df.select("event_id", "value"))
        if os.path.exists(cur):
            prev = batch_df.sparkSession.read.parquet(cur)
            b = topk(prev.unionByName(b))
        nxt = os.path.join(base, f"state_epoch_{epoch_id}")
        b.write.mode("overwrite").parquet(nxt)
        _commit_state_swap(base, nxt, epoch_id)

    s = events_stream(spark, sf_dir).select("event_id", "value")
    query = (
        s.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "_ckpt"))
        .start()
    )
    query.awaitTermination()
    state = spark.read.parquet(cur)
    w = Window.orderBy(F.col("value").desc(), F.col("event_id").desc())
    return state.select(
        F.row_number().over(w).cast("bigint").alias("rank"), "event_id", "value"
    )
