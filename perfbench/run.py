"""Benchmark entry point.

    python3 perfbench/run.py --workload {registry,lake_read,lake_write}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One process runs one workload as a
closed loop with one client:

1. generate the input tables (fixed content, see fixtures.py) under a
   per-run directory inside the checkout, removed at exit;
2. set up three times, each on a fresh Spark session (the first also
   launches the JVM), and report the median as ``setup_s``;
3. run one block of ops holding every shape (the cold block), then a
   fixed number of untimed warm-up blocks;
4. run whole blocks of ops until ``--seconds`` seconds have passed, and
   time each op;
5. check correctness untimed, and print one JSON line last.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
span wrappers of spans.py and prints the per-layer metrics instead.
Every other line of output is informational.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time

import fixtures
from spans import NullTracer, Tracer
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()
SETUP_REPEATS = 3
SCALE = 0.01  # lineitem ~60k rows
DRIVER_MEM = "4g"


class Context:
    def __init__(self, workload: str, seed: int) -> None:
        self.run_dir = os.path.join(
            ROOT, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}"
        )
        self.sf_dir = os.path.join(self.run_dir, "input")
        self.spark_local = os.path.join(self.run_dir, "spark-local")
        self.tmp = os.path.join(self.run_dir, "tmp")


def pin_environment(ctx: Context) -> dict[str, str]:
    """Environment the program reads; set before pyspark is imported."""
    for d in (ctx.sf_dir, ctx.spark_local, ctx.tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": ctx.spark_local,
        "TMPDIR": ctx.tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={ctx.tmp}",
        "TZ": "UTC",
    }
    os.environ.update(env)
    return env


def import_program() -> None:
    """Import the program from this checkout, or fail."""
    sys.path.insert(0, ROOT)
    import bench  # noqa: F401
    import ducklakexl_spark
    import tests.compare  # noqa: F401

    where = os.path.dirname(os.path.abspath(ducklakexl_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise RuntimeError(f"ducklakexl_spark imported from {where}, not {ROOT}")


# ------------------------------------------------------------------ probes


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its children, the JVM among
    them."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def disk_mb(dirs) -> float:
    total = 0
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total / 1e6


# ------------------------------------------------------------------ harness


class Session:
    """Starts and stops the SparkSession through the program's factory."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.spark = None
        self.start_s: list[float] = []

    def start(self):
        from ducklakexl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name="perfbench")
        self.start_s.append(time.perf_counter() - t0)
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — make sure it ends
                    proc.kill()
                    proc.wait(timeout=30)


def run(args) -> dict:
    ctx = Context(args.workload, args.seed)
    env = pin_environment(ctx)
    try:
        import_program()
        fixtures.write_tables(SCALE, ctx.sf_dir)
        tracer = Tracer() if args.trace else NullTracer()
        session = Session(tracer)
        try:
            return measure(args, ctx, env, tracer, session)
        finally:
            tracer.restore()
            session.close()
    finally:
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.run_dir))
        except OSError:
            pass  # another run's directory is still there


def measure(args, ctx, env, tracer, session) -> dict:
    rng = random.Random(args.seed)
    w = WORKLOADS[args.workload](ctx, rng, tracer)
    attempted = failed = 0
    jobs: dict[int, tuple[int, int]] = {}
    cold_by_kind: dict[str, float] = {}

    phases = {"start": time.perf_counter() - T0}
    setups = []
    for i in range(SETUP_REPEATS):
        tracer.set_op(("setup", i))
        t0 = time.perf_counter()
        w.setup(session.start(), i)
        setups.append(time.perf_counter() - t0)
    sc = session.spark.sparkContext
    phases["setup"] = time.perf_counter() - T0

    def one(op_id, kind) -> float:
        """Run one op; returns its latency, or None if it failed."""
        nonlocal attempted, failed
        attempted += 1
        run_op, check = w.op(kind)
        tracer.set_op(op_id)
        if tracer.enabled:
            sc.setJobGroup(f"perfbench-{op_id}", kind)
        snap = w.snapshot() if tracer.enabled else None
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                result = run_op()
        except Exception as exc:  # noqa: BLE001 — a failed op, keep going
            tracer.set_op(None)
            failed += 1
            print(f"op {op_id} {kind} failed: {type(exc).__name__}: "
                  f"{str(exc)[:300]}", flush=True)
            return None
        latency = time.perf_counter() - t0
        if snap is not None:
            tracer.count("commits", w.snapshot() - snap)
        tracer.set_op(None)
        if tracer.enabled and isinstance(op_id, int):
            jobs[op_id] = job_counts(sc, f"perfbench-{op_id}")
        if not check(result):
            # still a measured op: the latency stands, the failure counts
            failed += 1
            print(f"op {op_id} {kind}: wrong result", flush=True)
        return latency

    def block():
        kinds = list(w.block)
        rng.shuffle(kinds)
        return kinds

    for i, kind in enumerate(block()):
        lat = one(("cold", i), kind)
        if kind not in cold_by_kind and lat is not None:
            cold_by_kind[kind] = lat
    phases["cold"] = time.perf_counter() - T0
    warmup_block_s = []
    for b in range(w.warmup_blocks):
        t0 = time.perf_counter()
        for i, kind in enumerate(block()):
            one(("warmup", b, i), kind)
        warmup_block_s.append(time.perf_counter() - t0)
    phases["warmup"] = time.perf_counter() - T0

    samples: list[tuple[str, float]] = []
    block_s: list[float] = []
    steal0 = steal_s()
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    n = 0
    while time.perf_counter() < deadline:
        t0 = time.perf_counter()
        for kind in block():
            lat = one(n, kind)
            if lat is not None:
                samples.append((kind, lat))
            n += 1
        block_s.append(time.perf_counter() - t0)
    elapsed = time.perf_counter() - t_start
    timed_ops = list(range(n))

    rss = peak_rss_mb()
    disk = disk_mb(w.data_dirs())
    phases["timed"] = time.perf_counter() - T0
    failed += w.final_check()
    phases["check"] = time.perf_counter() - T0

    # from the median block: a slow spell of the host slows a few blocks,
    # not the median one
    ops_per_s = len(w.block) / statistics.median(block_s)
    by_kind: dict[str, list[float]] = {}
    for kind, lat in samples:
        by_kind.setdefault(kind, []).append(lat)
    lats = [lat for _k, lat in samples]
    medians = {k: statistics.median(v) for k, v in sorted(by_kind.items())}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "env": env,
        "scale": SCALE,
        "setups_s": setups,
        "session_start_s": session.start_s,
        "warmup_blocks": w.warmup_blocks,
        "timed_ops": n,
        "cold_s": sum(cold_by_kind.values()),
        "cold_by_kind_s": cold_by_kind,
        "p50_by_kind_s": medians,
        "p90_s": statistics.quantiles(lats, n=10, method="inclusive")[-1],
        "count_by_kind": {k: len(v) for k, v in sorted(by_kind.items())},
        "timed_s": elapsed,
        "cpu_steal_s": steal_s() - steal0,
        "latencies_s": samples,
        "peak_rss_mb": rss,
        "phase_end_s": phases,
        "warmup_block_s": warmup_block_s,
        "block_s": block_s,
    }
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "op_p50_s": (
            math.exp(statistics.fmean(math.log(m) for m in medians.values())),
            "s",
        ),
        "disk_mb": (disk, "MB"),
    }
    if tracer.enabled:
        metrics = layer_metrics(tracer, timed_ops, ops_per_s,
                                lats, jobs, session, detail)
    print(json.dumps(detail), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def job_counts(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(job_ids), tasks


def layer_metrics(tracer, ops, ops_per_s, lats, jobs, session, detail):
    """Per-layer metrics of a traced run; ``ops`` are the timed op ids."""
    n = max(len(ops), 1)
    total, self_t, calls = tracer.layer_times(ops)
    s_total, _, _ = tracer.layer_times(
        [("setup", i) for i in range(SETUP_REPEATS)]
    )
    cold_total, _, _ = tracer.layer_times(
        [o for o in set(tracer.ops) if isinstance(o, tuple) and o[0] == "cold"]
    )
    commits = tracer.count_total(ops, "commits")
    saves = tracer.count_total(ops, "catalog.saves")
    detail["layer_self_s_per_op"] = {k: v / n for k, v in sorted(self_t.items())}
    detail["layer_total_s_per_op"] = {k: v / n for k, v in sorted(total.items())}
    detail["layer_calls_per_op"] = {k: c / n for k, c in sorted(calls.items())}
    return {
        "session.start_s": (statistics.median(session.start_s), "s"),
        "queries.build_s": (cold_total.get("queries.build", 0.0), "s"),
        "spark.collect_s": (total.get("spark.collect", 0.0) / n, "s"),
        "spark.sql_s": (total.get("spark.sql", 0.0) / n, "s"),
        "spark.jobs_per_op": (sum(j for j, _t in jobs.values()) / n, "count"),
        "spark.tasks_per_op": (sum(t for _j, t in jobs.values()) / n, "count"),
        "engine.sql_s": (total.get("engine.sql", 0.0) / n, "s"),
        "engine.sql_self_s": (self_t.get("engine.sql", 0.0) / n, "s"),
        "engine.table_df_s": (total.get("engine.table_df", 0.0) / n, "s"),
        "engine.table_df_calls_per_op": (calls.get("engine.table_df", 0) / n, "count"),
        "catalog.save_s": (total.get("catalog.save", 0.0) / n, "s"),
        "catalog.saves_per_op": (saves / n, "count"),
        "catalog.mb_written_per_op": (
            tracer.count_total(ops, "catalog.bytes_written") / 1e6 / n, "MB"),
        "catalog.saves_per_commit": (saves / commits if commits else 0.0, "count"),
        "catalog.load_s": (s_total.get("catalog.load", 0.0) / SETUP_REPEATS, "s"),
        "sync.pull_s": (total.get("sync.pull", 0.0) / n, "s"),
        "sync.sheets_read_per_op": (
            tracer.count_total(ops, "sync.sheets_read") / n, "count"),
        "sync.push_s": (total.get("sync.push", 0.0) / n, "s"),
        "sync.sheets_written_per_op": (
            tracer.count_total(ops, "sync.sheets_written") / n, "count"),
        "sync.mb_written_per_op": (
            tracer.count_total(ops, "sync.bytes_written") / 1e6 / n, "MB"),
        "trace.ops_per_s": (ops_per_s, "1/s"),
        "trace.op_latency_s": (statistics.fmean(lats) if lats else 0.0, "s"),
        "trace.unattributed_s": (self_t.get("op", 0.0) / n, "s"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
