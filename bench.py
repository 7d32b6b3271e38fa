"""Benchmark harness (SURVEY.md §6): runs every registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol: one warm shared SparkSession (never one session per query —
~1-2 s job-setup constant would swamp everything), a warm-up execution
of the flagship, then per-query wall-clock of a full materialization
(collect-equivalent count+collect of the plan's rows).  `value` is the
total seconds across all queries — the number BASELINE.md's 2× gate is
checked against.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _committed_path() -> str:
    """The committed BENCH.json next to this script (overridable in
    tests so the cpus-mismatch guard can be exercised without touching
    the real record)."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json")


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf

    from shared_solar_data_warehouse_spark.registry import REGISTRY, load_all_ops
    from shared_solar_data_warehouse_spark.session import get_session

    load_all_ops()
    # Optional subset (comma-separated op names): local iteration and
    # the stdout-protocol smoke test; the driver never sets this.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    names = sorted(REGISTRY) if not only else [
        n for n in sorted(REGISTRY) if n in set(only.split(","))
    ]
    spark = get_session("sswh-bench")

    def materialize(name: str) -> None:
        df = REGISTRY[name].builder(spark, sf_dir)
        # Full materialization to the driver via the Arrow path;
        # row-by-row Py4J collect() would measure pickling, not the
        # engine.  Fall back to collect() for any schema Arrow
        # can't carry.
        try:
            _ = len(df.toPandas())
        except Exception:  # noqa: BLE001
            _ = len(df.collect())

    # Warm pass (un-timed): codegen/JIT compilation, parquet footer
    # caches, Python-UDF worker pool spawn — the BASELINE.md protocol
    # measures the warm engine, not JVM compile latency.
    failures: dict[str, str] = {}
    for name in names:
        try:
            materialize(name)
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]

    # Two timed passes, per-query MIN: this host is shared and shows
    # ~±20% run-to-run noise (GC pauses, co-tenant CPU); the min of two
    # warm runs estimates the engine's actual cost, not the noise.
    timings: dict[str, float] = {}
    for _ in range(2):
        for name in names:
            if name in failures:
                continue
            started = time.time()
            try:
                materialize(name)
            except Exception as exc:  # noqa: BLE001
                failures[name] = f"{type(exc).__name__}: {exc}"[:200]
                continue
            elapsed = round(time.time() - started, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed

    # Third pass over the slowest-20 band only (min-of-3): single-pass
    # registry order makes memo-artifact attribution order-sensitive
    # (BASELINE.md round-5 note), and the slow band is where ±20% host
    # noise moves cross-round VERDICT deltas — a third sample pins the
    # steady state where it matters without re-running all 375 queries
    # (VERDICT r5 item 7).
    slowest = [
        n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    ]
    steady: dict[str, float] = {}
    steady_failures: dict[str, str] = {}
    for name in slowest:
        started = time.time()
        try:
            materialize(name)
        except Exception as exc:  # noqa: BLE001
            # ADVICE r6: a transient third-pass error must NOT land in
            # the shared `failures` dict — both timed passes succeeded
            # and the op's timing stays in `queries`, so marking it
            # failed would list it as both succeeded and failed.  Track
            # separately; the op simply has no steady entry this run.
            steady_failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        steady[name] = round(min(timings[name], time.time() - started), 3)

    total = round(sum(timings.values()), 3)
    # Session-memoized artifact build costs (VERDICT r11 item 7): the
    # warm pass above built every memo_checkpoint artifact UNTIMED, so
    # per-query rows measure the memo-warm steady state.  Emit each
    # artifact's one-off build cost so the amortized ETL work is on the
    # record next to the steady series (it is still inside any cold
    # wall-clock total a driver run pays).
    from shared_solar_data_warehouse_spark.materialize import BUILD_SECONDS

    out = {
        "metric": "total_sec_full_registry",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "steady20": steady,
        "memo_cold": dict(BUILD_SECONDS),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "sf": sf_num,
        "n_queries": len(timings),
    }
    if failures:
        out["failures"] = failures
    if steady_failures:
        out["steady_failures"] = steady_failures

    # Persist the full per-query record next to this script (committed
    # as BENCH.json).
    # SPARK_GRAFT_BENCH_OUT redirects the record (A/B windows must not
    # clobber the committed one — the r10 session lost its best window's
    # full per-query map exactly this way).  An explicit redirect is
    # honored even on subset runs (it can't clobber anything), and a
    # failed write to it warns on stderr instead of silently losing a
    # ~5-minute window's record.  The destination is always echoed to
    # stderr so a redirect leaked from an earlier shell can't silently
    # divert a round-close run (stderr, never stdout — the driver
    # parses the final JSON line from a bounded stdout tail).
    committed_path = _committed_path()
    explicit_out = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    out_path = explicit_out or committed_path
    # ADVICE r10: an explicit redirect that resolves to the committed
    # BENCH.json path must NOT bypass the subset guard — "it can't
    # clobber anything" only holds when the redirect points elsewhere.
    redirect_is_committed = explicit_out is not None and (
        os.path.realpath(out_path) == os.path.realpath(committed_path)
    )
    redirect_failed = False
    # VERDICT r11 item 2: the committed BENCH.json must stay a
    # like-for-like 32-core record — the r11 close record was silently
    # clobbered first by a snapshot from the round's worst host window
    # and then by the driver's 8-core
    # scaling run (bench.py wrote the committed path by default).  A
    # full run whose core count differs from the committed record's is
    # a scaling/diagnostic run: refuse to overwrite unless the caller
    # explicitly redirected elsewhere.
    committed_cpus = None
    if not explicit_out or redirect_is_committed:
        try:
            with open(committed_path) as fh:
                committed_cpus = json.load(fh).get("cpus")
        except (OSError, ValueError):
            committed_cpus = None
    cpus_mismatch = (
        committed_cpus is not None and out["cpus"] != committed_cpus
    )
    if only and (not explicit_out or redirect_is_committed):
        if redirect_is_committed:
            print(
                "refusing to write subset record: SPARK_GRAFT_BENCH_OUT "
                f"resolves to the committed record {committed_path}",
                file=sys.stderr,
            )
        # subset run: never clobber the committed record
    elif cpus_mismatch and (not explicit_out or redirect_is_committed):
        print(
            f"refusing to overwrite {committed_path}: run cpus="
            f"{out['cpus']} != committed record cpus={committed_cpus}; "
            "set SPARK_GRAFT_BENCH_OUT to keep this record",
            file=sys.stderr,
        )
    else:
        try:
            with open(out_path, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
                fh.write("\n")
            print(f"record -> {out_path}", file=sys.stderr)
        except OSError as exc:
            print(
                f"WARNING: could not write bench record to {out_path}: {exc}",
                file=sys.stderr,
            )
            # ADVICE r10: a scripted A/B harness needs the loss of an
            # explicitly requested record to be visible in the exit
            # status, not just on stderr (stdout protocol unaffected).
            redirect_failed = explicit_out is not None

    # Stdout protocol: the driver records only the LAST ~2000 chars of
    # stdout and parses the final JSON line from that tail (round 1's
    # single 6 KB line was truncated mid-object -> "parsed": null).
    # So: full record first for human readers, then the steady-state
    # slowest-20 record, then a compact final line — BOTH trailing
    # lines sized to fit the tail buffer together.
    print(json.dumps(out))
    print(
        json.dumps(
            {
                "metric": "steady_state_min3_slowest20",
                "value": round(sum(steady.values()), 3),
                "unit": "sec",
                "queries": steady,
            },
            separators=(",", ":"),
        )
    )
    compact = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf_num,
        "n_queries": len(timings),
        "queries": {},
    }
    if failures:
        compact["n_failures"] = len(failures)
    budget = 1100  # leaves room for the steady-state line in the tail
    for name, secs in sorted(timings.items(), key=lambda kv: -kv[1]):
        compact["queries"][name] = secs
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            compact["queries_truncated_to_slowest"] = len(compact["queries"])
            break
    print(json.dumps(compact, separators=(",", ":")))
    if failures:
        return 1
    if redirect_failed:
        return 3  # distinct from query failures: requested record lost
    return 0


if __name__ == "__main__":
    sys.exit(main())
