"""The engine's one store of per-snapshot state.

It holds what the engine derives from a snapshot and reuses across op
builds: resolved table DataFrames and temp-view bindings
(``sources.io``), the trade-graph node count (``operators.graph``),
and ``memo_checkpoint``'s ETL artifacts.  Those are computed ONCE per
corpus snapshot and read by every downstream job (SURVEY.md §7.4):
the shingle sets feed four dedup operators, the packed simhash
signatures both banding and verification.  ``localCheckpoint(eager=
True)`` also bars Catalyst projection-collapse recompute (§5.4).

Key: (applicationId, snapshot identity, caller key).  The SparkContext
object stands for its applicationId (no JVM round trip); checkpoint
blocks die with their context, so a new one drops every entry.  The
snapshot identity is the sf_dir plus name, size and mtime of each
``*.parquet`` table in it (~40 µs for ten), so a snapshot rewritten at
the same path misses and rebuilds instead of serving stale data.
State of one SparkSession (temp views and the tables behind them) puts
the session in the caller key.

Bound: an LRU over snapshots.  The ``MAX_SNAPSHOTS`` most recently used
keep all their entries; the oldest one's entries go together.

Build once: concurrent requests for one key run its build once and the
others wait for it.  The lock is held only to look up or insert, never
during a build, so a hit never waits behind another key's build and
builds may nest (the graph artifacts do, three deep) without deadlock
as long as no build needs its own key.
"""

from __future__ import annotations

import os
import threading
import time
from collections import OrderedDict
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

#: How many snapshots keep their entries (LRU).  ``bench.py`` and the
#: dashboard work on one snapshot, a nightly pass on one fresh snapshot
#: and the tests mostly alternate between two fixtures, so none of them
#: rebuilds an artifact because of this bound.
MAX_SNAPSHOTS = 8

#: Wall-clock seconds spent building each ``memo_checkpoint`` artifact,
#: one entry per build, labelled ``name/sf_dir/params``.  ``bench.py``
#: emits it as ``memo_cold`` (the per-query bench rows measure the
#: memo-warm steady state) and perfbench counts it per snapshot.
BUILD_SECONDS: dict[str, float] = {}


class _Slot:
    """One entry: set once by the thread that builds it."""

    __slots__ = ("owner", "done", "value", "failed")

    def __init__(self) -> None:
        self.owner = threading.get_ident()
        self.done = threading.Event()
        self.value: Any = None
        self.failed = False


_lock = threading.Lock()
_context: SparkContext | None = None
_snapshots: OrderedDict[tuple, dict[tuple, _Slot]] = OrderedDict()


def snapshot_id(sf_dir: str) -> tuple:
    """``sf_dir`` plus (name, size, mtime) of each table file in it."""
    try:
        with os.scandir(sf_dir) as it:
            stats = sorted(
                (e.name, e.stat()) for e in it if e.name.endswith(".parquet")
            )
    except OSError:
        stats = []
    return (sf_dir, tuple((n, s.st_size, s.st_mtime_ns) for n, s in stats))


def memo(
    spark: SparkSession,
    sf_dir: str,
    key: tuple,
    build: Callable[[], Any],
    *,
    exclusive: bool = False,
) -> Any:
    """Return ``build()``'s value for ``key`` on this snapshot, building
    it at most once per SparkContext and snapshot identity.

    ``exclusive`` marks a key that one snapshot holds at a time (a temp
    view name points at one table): building it for this snapshot
    drops it from every other snapshot.
    """
    global _context
    context = spark.sparkContext
    snap = snapshot_id(sf_dir)
    while True:
        with _lock:
            if context is not _context:
                _snapshots.clear()
                _context = context
            entries = _snapshots.get(snap)
            if entries is None:
                entries = _snapshots[snap] = {}
                while len(_snapshots) > MAX_SNAPSHOTS:
                    _snapshots.popitem(last=False)
            else:
                _snapshots.move_to_end(snap)
            slot = entries.get(key)
            if slot is None:
                slot = entries[key] = _Slot()
                if exclusive:
                    for other, held in _snapshots.items():
                        if other != snap:
                            held.pop(key, None)
                break
        if slot.owner == threading.get_ident() and not slot.done.is_set():
            raise RuntimeError(f"memo build of {key!r} requested itself")
        slot.done.wait()
        if not slot.failed:
            return slot.value
        # The build raised in another thread; try again as the builder.
    try:
        slot.value = build()
    except BaseException:
        slot.failed = True
        with _lock:
            if entries.get(key) is slot:
                del entries[key]
        raise
    finally:
        slot.done.set()
    return slot.value


def memo_checkpoint(
    spark: SparkSession,
    sf_dir: str,
    key: str | tuple,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return a localCheckpoint-materialized DataFrame for ``key`` on
    the snapshot at ``sf_dir``, building it at most once.

    ``key`` is a name, or ``(name, *params)`` where the params capture
    every other input that determines the result (thresholds, signature
    layout...).  ``build`` returns the *unmaterialized* plan; this
    function owns the checkpoint call.
    """
    key = (key,) if isinstance(key, str) else key

    def checkpoint() -> DataFrame:
        started = time.time()
        df = build().localCheckpoint(eager=True)
        label = "/".join(str(p) for p in (key[0], sf_dir, *key[1:]))
        BUILD_SECONDS[label] = round(time.time() - started, 3)
        return df

    return memo(spark, sf_dir, ("checkpoint", *key), checkpoint)
