#!/usr/bin/env python3
"""Benchmark for the PySpark usage-analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One run:

1. writes a seeded input snapshot (``datagen``) under ``.perfbench_work/``;
2. sets the engine up cold: imports the package and its op registry and
   starts the JVM and SparkContext;
3. checks every op of the workload against the DuckDB oracle with
   ``mirror.run_op`` and keeps each op's verified row count; then runs
   ``warmup_units`` untimed units of the workload's own mix, recording
   the JIT, codegen and wall time of the check and of every warm-up unit;
   ``setup_s`` is the time from process start to the first timed request;
4. measures for ``--seconds`` (at least ``min_units`` units): every
   request is ``REGISTRY[name].builder(spark, sf_dir)`` then
   ``df.toPandas()``, and must return the verified row count; a unit
   that lost more than ``STEAL_LIMIT`` of the CPUs to other guests of
   the host is measured again, at most ``MAX_DISCARDS`` times;
5. prints a human report on stderr, writes a JSON record (and, traced,
   the spans) under ``.perfbench_out/``, and prints the result as the
   last stdout line.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (README.md maps each to the end-to-end metric it moves).
"""

from __future__ import annotations

import argparse
import importlib
import inspect
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "shared_solar_data_warehouse_spark"
CHECK_WORKERS = 3
# A timed unit during which the hypervisor gave more than this share of
# the CPUs to other guests is measured again (at most MAX_DISCARDS times
# per run): the benchmark measures the engine, not its neighbours.
STEAL_LIMIT = 0.05
MAX_DISCARDS = 1
DRIVER_MEM = "1g"

sys.path.insert(0, HERE)

import probes  # noqa: E402
from tracer import Tracer  # noqa: E402
from workloads import SF, WORKLOADS, deck, pass_order  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    def __init__(self, workload, args, work: str):
        self.w = workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.snap_root = os.path.join(work, "snapshots")
        self.tracer = Tracer(self.traced, T0)
        self.mem = probes.MemorySampler()
        self.spark = None
        self.registry = None
        self.materialize = None
        self.scratch_dir = None
        self.expected: dict[str, int] = {}
        self.failures: list[dict] = []
        self.attempted = 0
        self.requests: list[dict] = []  # timed requests
        self.units: list[dict] = []  # timed decks / passes
        self.discarded: list[dict] = []  # timed units measured again
        self.cpus = len(os.sched_getaffinity(0))
        self.warmup: list[dict] = []
        self.setup_info: dict[str, float] = {}
        self.snapshots = 0
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._req_ids = iter(range(1, 1 << 62))

    # -- engine set-up ---------------------------------------------------

    def _confs(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            # A fixed-size heap: with -Xms below -Xmx, when G1 grows the
            # heap varied run to run and made peak RSS bimodal.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    def _contain_scratch(self) -> None:
        """Keep the engine's sink and stream scratch trees in the work dir.

        ``sources.io.scratch_dir`` roots them at a literal ``/tmp``, which
        would make a run write outside its checkout.  While it does, every
        package module's reference to it is rebound to a copy that keeps
        its layout (``<root>/sswh_spark_scratch/<basename>/<op>``) under
        the work dir's temp dir; once the program stops naming ``/tmp``
        (TMPDIR already points into the work dir), its own function is
        used unchanged."""
        io_mod = sys.modules[f"{PKG}.sources.io"]
        original = io_mod.scratch_dir
        self.scratch_dir = original
        if '"/tmp"' not in inspect.getsource(original):
            return
        root = os.path.join(self.work, "tmp", "sswh_spark_scratch")

        def scratch_dir(sf_dir: str, op_name: str) -> str:
            base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
            path = os.path.join(root, base, op_name)
            os.makedirs(path, exist_ok=True)
            return path

        mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for mod in mods:
            if getattr(mod, "scratch_dir", None) is original:
                mod.scratch_dir = scratch_dir
        stray = [m.__name__ for m in mods
                 if callable(getattr(m, "scratch_dir", None)) and m.scratch_dir is not scratch_dir]
        if stray:
            raise RuntimeError(f"scratch_dir bindings the benchmark cannot contain: {stray}")
        self.scratch_dir = scratch_dir

    def setup(self) -> None:
        """Cold set-up: import the package and load its op registry,
        then start the JVM and SparkContext."""
        t0 = time.perf_counter()
        self.registry = importlib.import_module(f"{PKG}.registry")
        self.registry.load_all_ops()
        t1 = time.perf_counter()
        self._contain_scratch()
        self.materialize = importlib.import_module(f"{PKG}.materialize")
        session = importlib.import_module(f"{PKG}.session")
        t2 = time.perf_counter()
        self.spark = session.get_session("perfbench", extra_confs=self._confs())
        t3 = time.perf_counter()
        self.setup_info = {"registry.load_s": t1 - t0, "session.start_s": t3 - t2}

    # -- snapshots ---------------------------------------------------------

    def stage_snapshot(self, base: str, label: str) -> str:
        """Copy the seeded base tables to a fresh, uniquely named dir."""
        snap = os.path.join(self.snap_root, f"sf-{self.w.name}-{self.seed}-{label}")
        shutil.copytree(base, snap)
        self.snapshots += 1
        return snap

    def drop_snapshot(self, snap: str) -> None:
        """Delete a snapshot and the engine's scratch tree for its
        basename (the parent of what ``scratch_dir`` returns for it); a
        reused basename would otherwise meet a dangling stream symlink."""
        shutil.rmtree(snap)
        shutil.rmtree(os.path.dirname(self.scratch_dir(snap, "perfbench")))

    # -- requests ----------------------------------------------------------

    def check(self, snap: str, workers: int) -> float:
        """DuckDB-oracle check of every op of the workload on ``snap``,
        spread over ``workers`` threads (one DuckDB connection each);
        returns its wall time."""
        start = time.perf_counter()
        mirror = importlib.import_module(f"{PKG}.mirror")

        def check_ops(names) -> list[dict]:
            con = mirror.duck_connect(snap)
            try:
                return [
                    mirror.run_op(self.spark, con, name, op.builder, op.oracle, snap)
                    for name in names
                    for op in [self.registry.REGISTRY[name]]
                ]
            finally:
                con.close()

        shares = [self.w.ops[k::workers] for k in range(workers)]
        with ThreadPoolExecutor(workers, thread_name_prefix="check") as pool:
            results = [r for rs in pool.map(check_ops, shares) for r in rs]
        for res in results:
            self.attempted += 1
            if res["status"] in ("PASS", "ROWS_ONLY"):
                self.expected[res["name"]] = res["spark_rows"]
            else:
                self.failures.append(
                    {"phase": "check", "op": res["name"], "status": res["status"],
                     "error": str(res.get("error", ""))[:300]}
                )
        return time.perf_counter() - start

    def request(self, name: str, snap: str, unit_id: int, parent, client: int) -> None:
        op = self.registry.REGISTRY[name]
        module = op.builder.__module__.rsplit(".", 1)[-1]
        sc = self.spark.sparkContext
        with self._lock:
            req_id = next(self._req_ids)
        group = f"perfbench-{req_id}"
        rec = {"op": name, "module": module, "unit": unit_id, "client": client}
        if self.traced:
            sc.setJobGroup(group, name)
        err = None
        start = time.perf_counter()
        with self.tracer.span("request", parent, op=name, module=module,
                              unit=unit_id, client=client) as span:
            try:
                with self.tracer.span("build", span, op=name, module=module):
                    df = op.builder(self.spark, snap)
                built = time.perf_counter()
                with self.tracer.span("collect", span, op=name, module=module):
                    pdf = df.toPandas()
                end = time.perf_counter()
                rec.update(build_s=built - start, collect_s=end - built, rows=len(pdf))
                if len(pdf) != self.expected.get(name):
                    err = f"rows {len(pdf)} != verified {self.expected.get(name)}"
            except Exception as exc:  # noqa: BLE001 — a failed request is a result
                end = time.perf_counter()
                err = f"{type(exc).__name__}: {exc}"[:300]
        rec["latency_s"] = end - start
        if self.traced:
            t = time.perf_counter()
            rec["jobs"], rec["stages"], rec["tasks"] = probes.job_group_counts(sc, group)
            if err is None:
                rec["mb"] = float(pdf.memory_usage(deep=True).sum()) / 2**20
            with self._lock:
                self.overhead_s += time.perf_counter() - t
        with self._lock:
            self.attempted += 1
            self.requests.append(rec)
            if err is not None:
                self.failures.append({"phase": "timed", "op": name, "error": err})

    # -- units -------------------------------------------------------------

    def run_deck(self, pool, cards, snap, unit_id) -> float:
        """One dashboard session over a deck: client ``c`` sends cards
        ``c, c + clients, ...`` back to back (closed loop); the deck ends
        when every client has its last answer."""
        n = self.w.clients

        def client(c: int, parent):
            for name in cards[c::n]:
                self.request(name, snap, unit_id, parent, c)

        with self.tracer.span("deck", self.run_span, unit=unit_id) as span:
            start = time.perf_counter()
            for f in [pool.submit(client, c, span) for c in range(n)]:
                f.result()
            return time.perf_counter() - start

    def run_pass(self, base, unit_id, ops=None) -> float:
        """One batch pass over a fresh snapshot: ``ops`` in order, or the
        oracle check when ``ops`` is None (staging and clean-up are
        outside the measured time)."""
        snap = self.stage_snapshot(base, f"p{unit_id}")
        try:
            with self.tracer.span("pass", self.run_span, unit=unit_id) as span:
                start = time.perf_counter()
                if ops is None:
                    return self.check(snap, CHECK_WORKERS)
                for name in ops:
                    self.request(name, snap, unit_id, span, 0)
                return time.perf_counter() - start
        finally:
            self.drop_snapshot(snap)

    def measure_unit(self, fn, **info) -> dict:
        before = probes.jvm_counters(self.spark)
        steal = probes.cpu_steal_s()
        builds = len(self.materialize.BUILD_SECONDS)
        elapsed = fn()
        steal = probes.cpu_steal_s() - steal
        after = probes.jvm_counters(self.spark)
        new_builds = list(self.materialize.BUILD_SECONDS.items())[builds:]
        return {**info, "s": elapsed, **probes.diff(after, before), "steal_s": steal,
                "memo_builds": len(new_builds),
                "memo_build_s": sum(v for _, v in new_builds)}

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        import datagen

        t_gen = time.perf_counter()
        base = datagen.write_snapshot(
            os.path.join(self.work, "base"), self.seed, SF
        )
        gen_s = time.perf_counter() - t_gen
        self.setup()
        batch = self.w.kind == "batch"
        # unit(label, k): the k-th deck or pass of the seeded sequence,
        # run under the unique id ``label``.
        if batch:
            def unit(label, k):
                return self.run_pass(base, label, pass_order(self.w, self.seed, k))
        else:
            snap = self.stage_snapshot(base, "warm")
            pool = ThreadPoolExecutor(self.w.clients, thread_name_prefix="client")

            def unit(label, k):
                return self.run_deck(pool, deck(self.w, self.seed, k), snap, label)
        self.run_span = None
        with self.tracer.span("run", None, workload=self.w.name) as run_span:
            self.run_span = run_span
            # The oracle check is the first warm-up unit; then whole units
            # of the workload's own mix (decks 0.. or passes 0..).
            if batch:
                check = (lambda: self.run_pass(base, "check"))
            else:
                check = (lambda: self.check(snap, CHECK_WORKERS))
            self.warmup.append(self.measure_unit(check, unit="check"))
            for k in range(self.w.warmup_units):
                self.warmup.append(self.measure_unit(lambda k=k: unit(k, k), unit=k))
            self.requests.clear()
            setup_s = time.perf_counter() - T0
            self.mem.start()
            timed_s = 0.0
            label = k = self.w.warmup_units
            while timed_s < self.seconds or len(self.units) < self.w.min_units:
                rec = self.measure_unit(lambda: unit(label, k), unit=label)
                label += 1
                stolen = rec["steal_s"] > STEAL_LIMIT * rec["s"] * self.cpus
                if stolen and len(self.discarded) < MAX_DISCARDS:
                    self.discarded.append(rec)  # measure deck / pass k again
                    self.requests = [r for r in self.requests if r["unit"] != rec["unit"]]
                    continue
                self.units.append(rec)
                timed_s += rec["s"]
                k += 1
            self.mem.stop()
        if not batch:
            pool.shutdown()
            self.drop_snapshot(snap)
        return {
            "gen_s": gen_s,
            "setup_s": setup_s,
            "timed_s": timed_s,
            "timed_counters": {
                k: sum(u[k] for u in self.units) for k in probes.COUNTERS
            },
        }

    def shutdown(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the reaper
                proc.kill()
                proc.wait()
        probes.reap_descendants()


# -- metrics ----------------------------------------------------------------


def end_to_end(b: Bench, info: dict) -> dict[str, tuple[float, str, int]]:
    units = [u["s"] for u in b.units]
    return {
        "setup_s": (info["setup_s"], "s", 1),
        "pass_s": (statistics.median(units), "s", len(units)),
        "peak_pss_mb": (b.mem.peak_mb, "MB", b.mem.samples),
    }


def per_layer(b: Bench, info: dict) -> dict[str, tuple[float, str, int]]:
    reqs = b.requests
    n = len(reqs)
    units = len(b.units)
    timed = info["timed_counters"]
    memo_n = len(b.materialize.BUILD_SECONDS)
    memo_s = sum(b.materialize.BUILD_SECONDS.values())
    ok = [r for r in reqs if "rows" in r]
    out = {
        "session.start_s": (b.setup_info["session.start_s"], "s", 1),
        "registry.load_s": (b.setup_info["registry.load_s"], "s", 1),
        "build_s": (sum(r.get("build_s", 0.0) for r in reqs) / units, "s", units),
        "collect_s": (sum(r.get("collect_s", 0.0) for r in reqs) / units, "s", units),
        "materialize.builds": (memo_n / b.snapshots, "count", b.snapshots),
        "materialize.build_s": (memo_s / b.snapshots, "s", b.snapshots),
        "spark.jobs": (sum(r.get("jobs", 0) for r in reqs) / n, "count", n),
        "spark.stages": (sum(r.get("stages", 0) for r in reqs) / n, "count", n),
        "spark.tasks": (sum(r.get("tasks", 0) for r in reqs) / n, "count", n),
        "codegen.compiles": (timed["codegen.compiles"] / n, "count", n),
        "jvm.jit_ms": (timed["jvm.jit_ms"] / n, "ms", n),
        "jvm.classes_loaded": (timed["jvm.classes_loaded"] / n, "count", n),
        "jvm.gc_ms": (timed["jvm.gc_ms"] / n, "ms", n),
        "result.rows": (sum(r["rows"] for r in ok) / max(1, len(ok)), "count", len(ok)),
        "result.mb": (sum(r.get("mb", 0.0) for r in ok) / max(1, len(ok)), "MB", len(ok)),
        "trace.overhead_ms": (1000.0 * b.overhead_s / n, "ms", n),
    }
    return out


def reported(b: Bench, info: dict) -> dict[str, tuple[float, str, int]]:
    """Figures the report and record carry beside the JSON-line metrics:
    throughput, request percentiles (p90 only with >= 100 samples, so
    that at least ten lie beyond it), the failure ratio, and in a traced
    run the per-module split (seconds per unit)."""
    lat = [r["latency_s"] for r in b.requests]
    out = {
        "throughput_rps": (len(lat) / info["timed_s"], "1/s", len(lat)),
        "request_p50_s": (statistics.median(lat), "s", len(lat)),
    }
    if len(lat) >= 100:
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[8]
        out["request_p90_s"] = (p90, "s", len(lat))
    for name in sorted({r["op"] for r in b.requests}):
        mine = [r["latency_s"] for r in b.requests if r["op"] == name]
        out[f"op.{name}.p50_s"] = (statistics.median(mine), "s", len(mine))
    out["failure_ratio"] = (len(b.failures) / b.attempted, "ratio", b.attempted)
    if b.traced:
        units = len(b.units)
        for module in sorted({r["module"] for r in b.requests}):
            mine = [r for r in b.requests if r["module"] == module]
            for part in ("build_s", "collect_s"):
                total = sum(r.get(part, 0.0) for r in mine)
                out[f"{module}.{part}"] = (total / units, "s", len(mine))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # Turn SIGTERM into SystemExit so the clean-up below still runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    bench = Bench(w, args, work)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(bench.cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # Every JVM, the spark-submit launcher included: no hsperfdata
        # files in /tmp, and JVM temp files inside the work dir.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    sys.path.insert(0, ROOT)
    try:
        info = bench.run()
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    metrics = (per_layer if args.trace else end_to_end)(bench, info)
    failed = len(bench.failures)

    def table(figures):
        return {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in figures.items()}

    record = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": bench.cpus, "clients": w.clients, "sf": SF,
        "driver_mem": DRIVER_MEM, "attempted": bench.attempted, "failed": failed,
        "metrics": table(metrics),
        "reported": table(reported(bench, info)),
        # A traced run's end-to-end figures, against an untraced run of
        # the same seed, give the tracing overhead.
        "end_to_end": table(end_to_end(bench, info)),
        "requests": len(bench.requests), "units": len(bench.units),
        "setup": bench.setup_info, "warmup": bench.warmup, "timed_units": bench.units,
        "discarded_units": bench.discarded,
        "failures": bench.failures[:20],
        **info,
    }
    stem = os.path.join(out_dir, f"{w.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        bench.tracer.dump(stem + "-spans.json")
    report(record)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


def report(rec: dict) -> None:
    err = sys.stderr
    print(f"perfbench {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"cpus={rec['cpus']} clients={rec['clients']} sf={rec['sf']} "
          f"requests={rec['requests']} units={rec['units']}", file=err)
    for name, m in {**rec["metrics"], **rec["reported"]}.items():
        print(f"  {name:24s} {m['value']:14.6f} {m['unit']:6s} n={m['samples']}", file=err)
    for f in rec["failures"]:
        print(f"  FAILED {f}", file=err)


if __name__ == "__main__":
    sys.exit(main())
