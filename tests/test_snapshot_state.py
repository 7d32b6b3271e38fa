"""The per-snapshot state store (``materialize``): keyed on snapshot
identity, build-once under concurrent clients, bounded, and with temp
views scoped to their SparkSession."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

from shared_solar_data_warehouse_spark import materialize
from shared_solar_data_warehouse_spark.sources.io import load_table, register_views
from tests.conftest import SF_ORACLE, SF_SMALL


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _run_threads(targets):
    threads = [threading.Thread(target=t) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads)


def test_rewritten_snapshot_serves_new_data(spark, registry, tmp_path):
    """Rewriting a snapshot's tables at the same path must change what
    a table load, a memoized artifact and a SQL view return."""
    snap = str(tmp_path / "snap")
    shutil.copytree(SF_SMALL, snap, copy_function=shutil.copyfile)
    os.chmod(snap, 0o755)
    ops = ("graph_degree_dist", "sql_tpch_q1")
    small = {n: _rows(registry[n].builder(spark, SF_SMALL)) for n in ops}
    assert load_table(spark, snap, "lineitem").count() == (
        load_table(spark, SF_SMALL, "lineitem").count()
    )
    for n in ops:
        assert _rows(registry[n].builder(spark, snap)) == small[n]

    for f in os.listdir(SF_ORACLE):
        shutil.copyfile(os.path.join(SF_ORACLE, f), os.path.join(snap, f))

    assert load_table(spark, snap, "lineitem").count() == (
        load_table(spark, SF_ORACLE, "lineitem").count()
    )
    for n in ops:
        fresh = _rows(registry[n].builder(spark, snap))
        assert fresh == _rows(registry[n].builder(spark, SF_ORACLE))
        assert fresh != small[n]


def test_snapshots_sharing_a_basename_keep_their_scratch_apart(
    spark, registry, tmp_path
):
    """A sink op on a second snapshot with the first's basename must
    not overwrite the files the first call's DataFrame reads."""
    from shared_solar_data_warehouse_spark.sources.io import scratch_dir

    snaps = []
    for parent in ("x", "y"):
        snap = tmp_path / parent / "snap"
        snap.mkdir(parents=True)
        shutil.copyfile(
            os.path.join(SF_SMALL, "events.parquet"), snap / "events.parquet"
        )
        snaps.append(str(snap))
    scan = registry["scan_json"].builder
    try:
        first = scan(spark, snaps[0])
        scan(spark, snaps[1])
        want = load_table(spark, SF_SMALL, "events").select(first.columns)
        assert _rows(first) == _rows(want)
    finally:
        for snap in snaps:
            shutil.rmtree(os.path.dirname(scratch_dir(snap, "scan_json")))


def test_views_belong_to_their_session(spark):
    """A new session of the same application has its own temp views;
    a view re-pointed at another snapshot and back follows each move."""
    n_small = load_table(spark, SF_SMALL, "customer").count()
    n_oracle = load_table(spark, SF_ORACLE, "customer").count()
    other = spark.newSession()
    for sf, n in ((SF_SMALL, n_small), (SF_ORACLE, n_oracle), (SF_SMALL, n_small)):
        for s in (spark, other):
            register_views(s, sf, "customer")
            assert s.sql("SELECT count(*) FROM customer").first()[0] == n


def test_concurrent_requests_build_once(spark, tmp_path):
    """Two threads asking for one key at once run its build once and
    get the same artifact."""
    calls = []
    start = threading.Barrier(2)
    out = [None, None]

    def build():
        calls.append(1)
        time.sleep(0.3)
        return spark.range(3)

    def ask(i):
        start.wait()
        out[i] = materialize.memo_checkpoint(spark, str(tmp_path), "once", build)

    _run_threads([lambda i=i: ask(i) for i in (0, 1)])
    assert len(calls) == 1
    assert out[0] is out[1] and out[0].count() == 3


def test_hit_does_not_wait_behind_another_build(spark, tmp_path):
    sf = str(tmp_path)
    assert materialize.memo(spark, sf, ("ready",), lambda: 1) == 1
    release = threading.Event()
    slow = threading.Thread(
        target=materialize.memo,
        args=(spark, sf, ("slow",), lambda: release.wait(60)),
    )
    slow.start()
    try:
        assert materialize.memo(spark, sf, ("ready",), lambda: 2) == 1
        assert slow.is_alive()
    finally:
        release.set()
        slow.join(60)
    assert not slow.is_alive()


def test_many_threads_build_each_key_once(spark, tmp_path):
    """More threads than cores, switching as often as the interpreter
    allows, over two snapshots and seven keys: every key builds once
    and every caller gets that one value."""
    dirs = [str(tmp_path / n) for n in ("a", "b")]
    for sf in dirs:
        os.mkdir(sf)
    lock = threading.Lock()
    builds, seen = [], []

    def build(slot):
        with lock:
            builds.append(slot)
        return object()

    def worker():
        for i in range(200):
            slot = (dirs[i % 2], i % 7)
            value = materialize.memo(
                spark, slot[0], ("stress", slot[1]), lambda: build(slot)
            )
            with lock:
                seen.append((slot, value))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_threads([worker] * (2 * len(os.sched_getaffinity(0)) + 1))
    finally:
        sys.setswitchinterval(interval)
    assert sorted(builds) == sorted({s for s, _ in seen})
    assert len({(s, id(v)) for s, v in seen}) == len(builds)


def test_oldest_snapshots_are_evicted(spark, tmp_path):
    """Past MAX_SNAPSHOTS the least recently used snapshot loses its
    entries; the most recent keeps them."""
    builds = []
    dirs = [str(tmp_path / f"s{i}") for i in range(materialize.MAX_SNAPSHOTS + 1)]

    def ask(sf):
        return materialize.memo(spark, sf, ("probe",), lambda: builds.append(sf))

    for sf in dirs:
        os.mkdir(sf)
        ask(sf)
    ask(dirs[-1])
    assert builds == dirs
    ask(dirs[0])
    assert builds == dirs + dirs[:1]
