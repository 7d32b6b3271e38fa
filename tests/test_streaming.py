"""Tier-4: streaming/batch parity (SURVEY.md §5.3.4).  The mirror
already hash-checks the streaming ops against batch SQL; these tests
additionally pin the UNIFIED-MODEL claim — a streaming op and its
DataFrame batch twin produce identical results — and the exactly-once
properties of the repair/sink paths.

Round 6 (VERDICT r5 item 3) adds the REPLAY tiers: every §2.9 op is
re-run over a 3-micro-batch drain of the same events (one parquet file
per batch via the ``spark.sswh.stream.maxFilesPerTrigger`` knob), in
two arrival regimes —
  * ORDERED: time-contiguous batches (state carries across batches;
    the one-shot drain never exercised a cross-batch state merge);
  * DISORDERED: ~25 min of cross-batch event-time disorder, inside
    every op's 1 h watermark (Spark's documented correctness regime) —
    excluding the two meter-head folds (stream_stateful, stream_ewma)
    whose docstrings declare the in-order-across-batches contract;
— each asserting the multi-batch result still hash-matches the op's
own DuckDB oracle on the identical rows.  A final test pins the
watermark DROP semantics: a straggler >1 h late lands after its day
window was finalized and must be absent from the append-mode result.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

REPLAY_BASE = "/tmp/sswh_spark_replay"

#: stream ops that read the events file-stream and carry a DuckDB
#: oracle (source_rate_stream is the only §2.9 entry excluded: it has
#: no events source and is rows-only by design).
REPLAY_OPS = (
    "stream_ingest_files",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_watermark",
    "stream_dedup",
    "stream_stateful",
    "stream_static_join",
    "stream_stream_join",
    "stream_sink_foreachbatch",
    "stream_ewma",
    "stream_cdc_apply",
    "stream_topk_snapshot",
)

#: The two per-key fold ops whose contract (docstring) is in-order
#: arrival ACROSS batches (within a batch they sort); out-of-order
#: cross-batch data would need the watermarked sort-buffer pattern.
ORDER_SENSITIVE = ("stream_stateful", "stream_ewma")


def _split_events(dest_sf: str, disorder_minutes: int = 0) -> None:
    """Materialize a synthetic sf_dir whose events table is a
    DIRECTORY of 3 time-block parquet files (file order pinned by
    name + mtime).  disorder_minutes > 0 moves every odd-event_id row
    from the trailing window of each block into the NEXT block's file:
    those rows then ARRIVE one micro-batch late, with bounded
    event-time disorder (< the ops' 1 h watermark, so no legitimate
    drops).  All other tables are symlinked from SF_SMALL; row content
    is bit-identical to the fixture, so the ops' own oracles (run on
    SF_SMALL) remain the ground truth."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from shared_solar_data_warehouse_spark.sources.io import TABLES, table_path

    shutil.rmtree(dest_sf, ignore_errors=True)
    os.makedirs(dest_sf)
    for name in TABLES:
        if name != "events":
            os.symlink(table_path(SF_SMALL, name), table_path(dest_sf, name))

    src = pq.read_table(table_path(SF_SMALL, "events"))
    df = src.to_pandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    n = len(df)
    df["block"] = 2
    df.loc[: n // 3 - 1, "block"] = 0
    df.loc[n // 3 : 2 * n // 3 - 1, "block"] = 1
    if disorder_minutes:
        delta = pd.Timedelta(minutes=disorder_minutes)
        for k in (0, 1):
            blk = df["block"] == k
            boundary = df.loc[blk, "ts"].max()
            straggle = blk & (df["ts"] > boundary - delta) & (df["event_id"] % 2 == 1)
            df.loc[straggle, "block"] = k + 1
    ev_dir = table_path(dest_sf, "events")
    os.makedirs(ev_dir)
    base_mtime = 1_700_000_000
    for k in range(3):
        chunk = df[df["block"] == k].drop(columns=["block"])
        out = os.path.join(ev_dir, f"part-{k:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(chunk, schema=src.schema, preserve_index=False),
            out,
        )
        os.utime(out, (base_mtime + 60 * k, base_mtime + 60 * k))


@pytest.fixture(scope="module")
def replay_ordered_sf():
    sf = os.path.join(REPLAY_BASE, "sf_replay_ord")
    _split_events(sf, disorder_minutes=0)
    return sf


@pytest.fixture(scope="module")
def replay_disordered_sf():
    sf = os.path.join(REPLAY_BASE, "sf_replay_dis")
    _split_events(sf, disorder_minutes=25)
    return sf


@pytest.fixture()
def three_batch_mode(spark):
    spark.conf.set("spark.sswh.stream.maxFilesPerTrigger", "1")
    yield
    spark.conf.unset("spark.sswh.stream.maxFilesPerTrigger")


def _oracle_check(spark, registry, name: str, sf: str) -> None:
    """Run the op's builder on the replay dir and its DuckDB oracle on
    the fixture (identical rows), comparing with the mirror's exact
    canonicalization — the same gate the driver applies."""
    from shared_solar_data_warehouse_spark.mirror import duck_connect, run_op

    o = registry[name]
    res = run_op(spark, duck_connect(SF_SMALL), name, o.builder, o.oracle, sf)
    assert res["status"] == "PASS", res


@pytest.mark.parametrize("name", [n for n in REPLAY_OPS])
def test_replay_three_batches_ordered(spark, registry, replay_ordered_sf,
                                      three_batch_mode, name):
    _oracle_check(spark, registry, name, replay_ordered_sf)


@pytest.mark.parametrize(
    "name", [n for n in REPLAY_OPS if n not in ORDER_SENSITIVE]
)
def test_replay_three_batches_disordered(spark, registry, replay_disordered_sf,
                                         three_batch_mode, name):
    _oracle_check(spark, registry, name, replay_disordered_sf)


def test_replay_actually_ran_three_batches(spark, registry, replay_ordered_sf,
                                           three_batch_mode):
    """Guard the knob itself: if maxFilesPerTrigger stopped reaching
    the source, every replay test above would silently degrade to the
    one-shot drain.  The foreachBatch sink leaves one epoch directory
    per micro-batch — demand all three."""
    from shared_solar_data_warehouse_spark.sources.io import scratch_dir

    out_dir = scratch_dir(replay_ordered_sf, "stream_foreachbatch")
    shutil.rmtree(out_dir, ignore_errors=True)
    registry["stream_sink_foreachbatch"].builder(spark, replay_ordered_sf).collect()
    epochs = [d for d in os.listdir(out_dir) if d.startswith("epoch=")]
    assert len(epochs) == 3, epochs


def test_watermark_drops_straggler_beyond_bound(spark, registry):
    """Pin the DROP semantics the disordered tier deliberately stays
    inside of: move one event >1 h behind the following batch's data;
    after that batch, the watermark passes its day-window end, so
    append mode must emit the window WITHOUT the straggler (the batch
    oracle, which sees all rows, counts one more)."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from shared_solar_data_warehouse_spark.sources.io import table_path

    sf = os.path.join(REPLAY_BASE, "sf_replay_late")
    _split_events(sf, disorder_minutes=0)
    ev_dir = table_path(sf, "events")
    parts = sorted(os.listdir(ev_dir))
    frames = [pq.read_table(os.path.join(ev_dir, p)).to_pandas() for p in parts]
    schema = pq.read_table(os.path.join(ev_dir, parts[0])).schema
    # straggler: earliest row of block 0 — by block 2 the watermark is
    # far (days) past its window end
    frames[0] = frames[0].sort_values(["ts", "event_id"]).reset_index(drop=True)
    straggler = frames[0].iloc[[0]]
    frames[0] = frames[0].iloc[1:]
    frames[2] = pd.concat([frames[2], straggler], ignore_index=True)
    for p, f in zip(parts, frames):
        out = os.path.join(ev_dir, p)
        mtime = os.stat(out).st_mtime
        pq.write_table(pa.Table.from_pandas(f, schema=schema, preserve_index=False), out)
        os.utime(out, (mtime, mtime))

    spark.conf.set("spark.sswh.stream.maxFilesPerTrigger", "1")
    try:
        got = {
            r["day"]: r["n_events"]
            for r in registry["stream_watermark"].builder(spark, sf).collect()
        }
    finally:
        spark.conf.unset("spark.sswh.stream.maxFilesPerTrigger")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{table_path(SF_SMALL, 'events')}')"
    )
    full = {
        d: n
        for d, n in con.execute(registry["stream_watermark"].oracle).fetchall()
    }
    s_day = pd.Timestamp(straggler.iloc[0]["ts"]).date()
    assert s_day in full and s_day in got
    assert got[s_day] == full[s_day] - 1, (got[s_day], full[s_day])
    others = {d: n for d, n in full.items() if d != s_day}
    assert {d: n for d, n in got.items() if d != s_day} == others


def test_checkpoint_recovery_restores_state_store(spark, registry,
                                                  replay_ordered_sf):
    """r7 (VERDICT r6 item 3): checkpoint RECOVERY — the one §2.9
    behavior the availableNow drains cannot exercise.  Run the
    stream_stateful per-user gap state machine over 2 of 3 batches,
    let the query TERMINATE, add the third file, and restart a fresh
    query from the SAME checkpoint dir.  Recovery is proven three
    ways: (a) the restarted query drains ONLY the new file (its
    emissions cover exactly the batch-3 keys — the checkpointed source
    offsets skip files 1-2); (b) for every batch-3 key the emitted
    n_events EXCEEDS its batch-3-only row count (the count resumed
    from the RESTORED state store, it was not recomputed); (c) the
    merged final state matches the exact batch twin over all 3 files.

    The pipeline is a test-local twin of stream_stateful's builder
    (same source schema, same applyInPandasWithState state machine,
    same update mode): the op's own drain() uses a fresh implicit
    checkpoint per call by design, so recovery must be driven with an
    explicit checkpointLocation — and a fault-tolerant foreachBatch
    parquet sink, because the memory sink refuses checkpoint recovery
    ("This query does not support recovering from checkpoint
    location", verified)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import Window

    from shared_solar_data_warehouse_spark.sources.io import table_path
    from shared_solar_data_warehouse_spark.streaming.streams import (
        _EVENTS_RAW_SCHEMA,
    )

    base = os.path.join(REPLAY_BASE, "ckpt_recovery")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")
    os.makedirs(src)
    ev_dir = table_path(replay_ordered_sf, "events")
    parts = sorted(os.listdir(ev_dir))
    assert len(parts) == 3
    for p in parts[:2]:
        os.symlink(os.path.join(ev_dir, p), os.path.join(src, p))

    def pipeline():
        def track_gaps(key, pdf_iter, state: GroupState):
            n, last_es, max_gap = state.get if state.exists else (0, None, 0)
            for pdf in pdf_iter:
                pdf = pdf.sort_values("es")
                for es in pdf["es"]:
                    es = int(es)
                    if last_es is not None and es - last_es > max_gap:
                        max_gap = es - last_es
                    last_es = es
                    n += 1
            state.update((n, last_es, max_gap))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_gap_s": [max_gap]}
            )

        s = (
            spark.readStream.schema(_EVENTS_RAW_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
            .select("user_id", F.unix_timestamp("ts").alias("es"))
        )
        return s.groupBy("user_id").applyInPandasWithState(
            track_gaps,
            outputStructType="user_id long, n_events long, max_gap_s long",
            stateStructType="n long, last_es long, max_gap long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def run_to_completion():
        q = (
            pipeline()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_to_completion()  # batches 1-2, then the query STOPS
    n_run1 = spark.read.parquet(out).count()
    assert n_run1 > 0

    # third file arrives while no query is running; restart from ckpt
    os.symlink(os.path.join(ev_dir, parts[2]), os.path.join(src, parts[2]))
    run_to_completion()
    emissions = spark.read.parquet(out)
    n_run2 = emissions.count() - n_run1
    assert n_run2 > 0, "restarted query drained nothing"

    batch3 = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(
        os.path.join(ev_dir, parts[2])
    )
    batch3_counts = {
        r["user_id"]: r["n3"]
        for r in batch3.groupBy("user_id").agg(F.count(F.lit(1)).alias("n3")).collect()
    }
    # (a) run-2 emissions = exactly one per batch-3 key
    assert n_run2 == len(batch3_counts)
    # (b) every run-2 n_events resumed from restored state: the final
    # per-key count (max over emissions, monotone) exceeds the key's
    # batch-3-only rows — impossible unless the state store survived.
    final = (
        emissions.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "max_gap_s")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.max_gap_s").alias("max_gap_s"),
        )
    )
    for r in final.collect():
        n3 = batch3_counts.get(r["user_id"])
        if n3 is not None:
            assert r["n_events"] > n3, (r, n3)
    # (c) merged state == exact batch twin over all 3 files
    ev = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(src)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "gap", F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    )
    twin = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap_s"),
    )
    assert _canon(final) == _canon(twin)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_session_window_matches_batch_sessionize(spark, registry):
    stream = registry["stream_session"].builder(spark, SF_SMALL)
    batch = (
        registry["ts_sessionize"]
        .builder(spark, SF_SMALL)
        .select(
            "user_id",
            "session_start_s",
            F.col("session_end_s").alias("session_last_s"),
            "n_events",
            "session_value",
        )
    )
    assert _canon(stream) == _canon(batch)


def test_tumbling_matches_batch_bucket_agg(spark, registry):
    stream = registry["stream_tumbling"].builder(spark, SF_SMALL)
    from shared_solar_data_warehouse_spark.parity import dsum
    from shared_solar_data_warehouse_spark.sources.io import load_table

    e = load_table(spark, SF_SMALL, "events")
    batch = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )
    assert _canon(stream) == _canon(batch)


def test_stream_dedup_restores_exactly_once(spark, registry):
    from shared_solar_data_warehouse_spark.sources.io import load_table

    deduped = registry["stream_dedup"].builder(spark, SF_SMALL)
    n_events = load_table(spark, SF_SMALL, "events").count()
    assert deduped.count() == n_events
    assert deduped.select("event_id").distinct().count() == n_events


def test_foreachbatch_sink_idempotent(spark, registry):
    """Running the sink op twice must not double-count (per-epoch
    overwrite semantics)."""
    first = _canon(registry["stream_sink_foreachbatch"].builder(spark, SF_SMALL))
    second = _canon(registry["stream_sink_foreachbatch"].builder(spark, SF_SMALL))
    assert first == second


def test_stream_ewma_matches_batch_twin(spark, registry):
    """The stateful streaming EWMA and the batch applyInPandas EWMA
    fold the same expression over the same ordering — results must be
    identical, including the float bits under the shared rounding."""
    stream = registry["stream_ewma"].builder(spark, SF_SMALL)
    batch = registry["ts_ewma"].builder(spark, SF_SMALL)
    assert _canon(stream) == _canon(batch)


# ---------------------------------------------------------------------------
# Round 8 (VERDICT r7 item 6): FAILURE INJECTION for the write-new-then-
# swap foreachBatch state sinks (stream_cdc_apply / stream_topk_snapshot).
# The swap protocol has two crash windows a drain can never exercise:
#   (P2) between rename(current -> current.old) and
#        rename(state_epoch_e -> current)  — state looks GONE;
#   (P3) after the commit rename but before Spark commits the epoch to
#        the checkpoint — foreachBatch is at-least-once, so the epoch
#        REPLAYS and a non-idempotent fold (sum(n_ops)) double-counts.
# _recover_state_swap + the _epoch stamp (streams.py) repair both; these
# tests interrupt a live query at each point, restart from the same
# checkpoint, and assert the sink recovers to a consistent snapshot —
# pre- or post-batch, never torn, never double-counted.


def _cdc_twin_parts(spark, src: str, base: str):
    """Test-local twin of stream_cdc_apply's fold, calling the op's REAL
    swap helpers (same module code paths), with an injectable fault."""
    from shared_solar_data_warehouse_spark.streaming.streams import (
        _EVENTS_RAW_SCHEMA,
        _commit_state_swap,
        _recover_state_swap,
        _state_epoch,
    )

    cur = os.path.join(base, "current")

    def pick_latest(df):
        return (
            df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("us", "event_id", "event_type", "value")
                ).alias("last"),
                F.sum("n_ops").cast("long").alias("n_ops"),
            )
            .select(
                "user_id",
                F.col("last.us").alias("us"),
                F.col("last.event_id").alias("event_id"),
                F.col("last.event_type").alias("event_type"),
                F.col("last.value").alias("value"),
                "n_ops",
            )
        )

    fault = {"arm_epoch": None, "kind": None}

    def apply_batch(batch_df, epoch_id):
        _recover_state_swap(base)
        if _state_epoch(cur) >= epoch_id:
            return
        b = pick_latest(batch_df)
        if os.path.exists(cur):
            prev = batch_df.sparkSession.read.parquet(cur)
            b = pick_latest(prev.unionByName(b))
        nxt = os.path.join(base, f"state_epoch_{epoch_id}")
        b.write.mode("overwrite").parquet(nxt)
        if fault["arm_epoch"] == epoch_id and fault["kind"] == "torn_swap":
            # crash BETWEEN the two renames: perform only the first.
            fault["arm_epoch"] = None
            with open(os.path.join(nxt, "_epoch"), "w") as fh:
                fh.write(str(epoch_id))
            if os.path.exists(cur):
                os.rename(cur, cur + ".old")
            raise RuntimeError("injected crash between state renames")
        _commit_state_swap(base, nxt, epoch_id)
        if fault["arm_epoch"] == epoch_id and fault["kind"] == "post_commit":
            # crash AFTER the swap but BEFORE the checkpoint commit:
            # Spark will replay this epoch on restart (at-least-once).
            fault["arm_epoch"] = None
            raise RuntimeError("injected crash after state commit")

    def run(ckpt):
        feed = (
            spark.readStream.schema(_EVENTS_RAW_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
            .select(
                "user_id",
                F.unix_micros("ts").alias("us"),
                "event_id",
                "event_type",
                "value",
                F.lit(1).alias("n_ops"),
            )
        )
        q = (
            feed.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    return run, fault, cur


def _cdc_batch_oracle(spark, src: str):
    """Exact batch twin over all replayed rows: latest op per key with a
    total op count, tombstones (event_type='error') absent."""
    from shared_solar_data_warehouse_spark.streaming.streams import (
        _EVENTS_RAW_SCHEMA,
    )

    ev = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(src)
    return (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("us"), "event_id",
                    "event_type", "value",
                )
            ).alias("last"),
            F.count(F.lit(1)).cast("long").alias("n_ops"),
        )
        .filter(F.col("last.event_type") != "error")
        .select(
            "user_id",
            F.col("last.us").alias("us"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.value").alias("value"),
            "n_ops",
        )
    )


@pytest.mark.parametrize("kind", ["torn_swap", "post_commit"])
def test_swap_sink_crash_injection_recovers_consistent(
    spark, replay_ordered_sf, kind
):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from shared_solar_data_warehouse_spark.sources.io import table_path

    base = os.path.join(REPLAY_BASE, f"swap_fault_{kind}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    src = table_path(replay_ordered_sf, "events")
    ckpt = os.path.join(base, "_ckpt")

    run, fault, cur = _cdc_twin_parts(spark, src, os.path.join(base, "state"))
    os.makedirs(os.path.join(base, "state"))

    # Crash while folding the SECOND of three micro-batches, so real
    # pre-crash state exists and a post-crash batch still follows.
    fault["arm_epoch"], fault["kind"] = 1, kind
    with pytest.raises(StreamingQueryException):
        run(ckpt)

    old = cur + ".old"
    if kind == "torn_swap":
        # The crash left the torn window the old protocol could not
        # survive: no current snapshot at all.
        assert not os.path.exists(cur) and os.path.exists(old)
    else:
        # Post-commit crash: current IS the committed epoch-1 snapshot.
        assert os.path.exists(cur)
        epoch_file = os.path.join(cur, "_epoch")
        assert open(epoch_file).read().strip() == "1"

    # Restart from the SAME checkpoint with the fault disarmed: the
    # interrupted epoch replays (at-least-once), recovery repairs the
    # torn swap / the _epoch stamp suppresses the double-fold, and the
    # remaining batch drains.
    run(ckpt)
    assert os.path.exists(cur) and not os.path.exists(old)

    got = (
        spark.read.parquet(cur)
        .filter(F.col("event_type") != "error")
        .select("user_id", "us", "event_id", "value", "n_ops")
    )
    want = _cdc_batch_oracle(spark, src)
    # Exact parity INCLUDING n_ops: a replayed epoch folded twice would
    # inflate n_ops for every batch-0/1 key; a torn swap left unrepaired
    # would lose every key absent from batches 1-2.
    assert _canon(got) == _canon(want)


def test_swap_helpers_all_crash_prefixes(tmp_path):
    """Pure-filesystem sweep of the swap protocol's crash prefixes —
    including the one the live injections above cannot leave behind:
    a crash AFTER the commit rename but BEFORE the old-state cleanup
    (both `current` and `current.old` on disk).  Recovery must keep
    the committed post-batch snapshot, drop the leftover, and report
    the epoch as applied."""
    from shared_solar_data_warehouse_spark.streaming.streams import (
        _commit_state_swap,
        _recover_state_swap,
        _state_epoch,
    )

    def mkstate(d, tag, epoch=None):
        os.makedirs(d)
        with open(os.path.join(d, "part-00000"), "w") as fh:
            fh.write(tag)
        if epoch is not None:
            with open(os.path.join(d, "_epoch"), "w") as fh:
                fh.write(str(epoch))

    def tag(d):
        with open(os.path.join(d, "part-00000")) as fh:
            return fh.read()

    # clean commit over an existing snapshot: post-batch wins, no .old
    base = str(tmp_path / "clean")
    os.makedirs(base)
    cur = os.path.join(base, "current")
    mkstate(cur, "epoch0", epoch=0)
    nxt = os.path.join(base, "state_epoch_1")
    mkstate(nxt, "epoch1")
    _commit_state_swap(base, nxt, 1)
    assert tag(cur) == "epoch1" and _state_epoch(cur) == 1
    assert not os.path.exists(cur + ".old") and not os.path.exists(nxt)

    # crash between the renames: cur gone, old present -> roll back to
    # the PRE-batch snapshot; epoch reads stale so the fold replays
    base = str(tmp_path / "torn")
    os.makedirs(base)
    cur = os.path.join(base, "current")
    mkstate(cur + ".old", "epoch0", epoch=0)
    mkstate(os.path.join(base, "state_epoch_1"), "epoch1", epoch=1)
    assert _recover_state_swap(base) == cur
    assert tag(cur) == "epoch0" and _state_epoch(cur) == 0
    assert not os.path.exists(cur + ".old")

    # crash after the commit rename, before cleanup: cur AND old both
    # present -> keep the committed POST-batch snapshot, drop old
    base = str(tmp_path / "postswap")
    os.makedirs(base)
    cur = os.path.join(base, "current")
    mkstate(cur, "epoch1", epoch=1)
    mkstate(cur + ".old", "epoch0", epoch=0)
    _recover_state_swap(base)
    assert tag(cur) == "epoch1" and _state_epoch(cur) == 1
    assert not os.path.exists(cur + ".old")

    # fresh dir (first epoch, nothing on disk): no-op, epoch -1
    base = str(tmp_path / "fresh")
    os.makedirs(base)
    cur = _recover_state_swap(base)
    assert not os.path.exists(cur) and _state_epoch(cur) == -1


def _stage_snapshot(root, n_rows: int | None = None) -> str:
    """A snapshot dir holding only an events FILE (the fixture's, or its
    first ``n_rows`` rows) — what ``_stream_dir`` stages by symlink."""
    import pyarrow.parquet as pq

    os.makedirs(root)
    table = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    if n_rows is not None:
        table = table.slice(0, n_rows)
    pq.write_table(table, os.path.join(root, "events.parquet"))
    return str(root)


def test_stream_dir_repoints_reused_basename(spark, tmp_path):
    """Two snapshots with one basename under different parents share a
    scratch link; the second must stream ITS events, not the first's."""
    from shared_solar_data_warehouse_spark.streaming.streams import (
        _stream_dir,
        drain,
        events_stream,
    )

    base = f"sswh_stream_dir_reuse_{os.getpid()}"
    first = _stage_snapshot(tmp_path / "a" / base)
    second = _stage_snapshot(tmp_path / "b" / base, n_rows=100)
    staged = _stream_dir(first)
    try:
        link = os.path.join(staged, "events.parquet")
        assert os.readlink(link) == os.path.join(first, "events.parquet")
        assert _stream_dir(second) == staged
        assert os.readlink(link) == os.path.join(second, "events.parquet")
        assert drain(spark, events_stream(spark, second)).count() == 100
    finally:
        shutil.rmtree(os.path.dirname(staged), ignore_errors=True)


def test_stream_dir_replaces_dangling_link(tmp_path):
    """A link whose snapshot was deleted is dangling: ``os.path.exists``
    calls it absent, so a plain re-link would raise FileExistsError."""
    from shared_solar_data_warehouse_spark.streaming.streams import _stream_dir

    base = f"sswh_stream_dir_dangling_{os.getpid()}"
    gone = _stage_snapshot(tmp_path / "a" / base)
    staged = _stream_dir(gone)
    try:
        shutil.rmtree(gone)
        link = os.path.join(staged, "events.parquet")
        assert os.path.islink(link) and not os.path.exists(link)
        fresh = _stage_snapshot(tmp_path / "b" / base)
        assert _stream_dir(fresh) == staged
        assert os.readlink(link) == os.path.join(fresh, "events.parquet")
    finally:
        shutil.rmtree(os.path.dirname(staged), ignore_errors=True)
