#!/usr/bin/env python3
"""Benchmark entry point for the fs2_osm_spark engine.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 4 --trace 0

Run from the repository root. One Python process, one Spark session on
local[<cores>], one closed-loop client: each pass starts when the previous
one has finished. A run generates the workload's inputs from the seed, sets
up three times (the median is `setup_s`), checks the engine's outputs, warms
up until the CPU cost of a pass stops falling, then times passes for
`--seconds`. Costs are CPU seconds of this process, the JVM and its Python
workers, JIT compilation left out; wall times go to the detail line.

`--trace 0` prints the end-to-end metrics; `--trace 1` traces every timed
pass and prints the per-layer metrics, the tracing overhead included. The
last stdout line is the result object; the line before it holds the run's
settings and raw timings. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
PLATEAU = 0.95  # warm-up ends once a pass costs no 5% less CPU than the best
DRIVER_MEM = "3g"

# the per-operation fields of the Spark layer (see spans.Tracer.spark_metrics)
SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "task_skew", "no_job_s",
)


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of every `end_to_end` or `per_layer` metric."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_env(work: Path) -> dict[str, str]:
    """Session settings, exported before the JVM starts so that Spark and
    its Python workers inherit them."""
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(work / "tmp"),
        # the launcher JVM would write its perf-data file to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True)
    os.environ.update(settings)
    return settings


def cpu_stat() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of this process, the JVM and every process
    under the JVM (the Python workers), as /proc reports them now. Workers
    that have exited count through their parent's reaped-children times."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process has just exited
            stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, todo = {os.getpid(), root_pid}, [root_pid]
    while todo:
        parent = todo.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                todo.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. The session keeps
    them alive (-XX:-UseDynamicNumberOfCompilerThreads), so none of their
    time leaves with an exited thread."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                line = f.read()
        except OSError:
            continue
        if "CompilerThre" in line[line.index("("):line.rindex(")")]:
            fields = line.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def work_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """(CPU seconds of the process tree less JIT compilation, JIT seconds):
    compiling the JVM's hot code takes seconds per pass while a run warms
    up, and varies with how much CPU the compiler threads got."""
    jit = jit_cpu_s(jvm_pid)
    return tree_cpu_s(jvm_pid) - jit, jit


def null_probe(spark) -> float:
    """Best of 2 of a fixed JVM arithmetic job with no I/O: it grows only
    when the host is contended."""
    from pyspark.sql import functions as F

    from fs2_osm_spark.functions.hex import hex_cell

    cores = spark.sparkContext.defaultParallelism
    lon = (F.col("id") % 1000003) / 1000003.0 * 8 + 7
    lat = (F.col("id") % 999983) / 999983.0 * 4 + 51
    best = float("inf")
    for _ in range(2):
        # a new DataFrame each time: collecting one twice reuses its result
        df = spark.range(0, 10_000_000, 1, cores).select(
            hex_cell(lon, lat, 8).alias("c")).agg(F.max("c"))
        t0 = time.perf_counter()
        df.collect()
        best = min(best, time.perf_counter() - t0)
    return best


def cached_bytes(spark) -> float:
    """Memory + disk held by cached RDDs right now."""
    rdds = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    return float(
        sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size()))
    )


@dataclass
class Ctx:
    spark: object
    seed: int
    cores: int
    tracer: object
    walls: dict  # op -> wall seconds of the current pass
    cpus: dict  # op -> CPU seconds of the current pass

    @contextmanager
    def op(self, name: str):
        """Times one engine operation of a pass; a span when tracing."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        with self.tracer.span(name):
            c0, t0 = work_cpu_s(jvm)[0], time.perf_counter()
            yield
            self.walls[name] = time.perf_counter() - t0
            self.cpus[name] = work_cpu_s(jvm)[0] - c0


@dataclass
class Pass:
    wall: float
    cpu: float  # CPU seconds of this process, the JVM and its Python workers
    jit: float  # CPU seconds of JIT compilation, not in `cpu`
    op_walls: dict
    op_cpus: dict
    res: dict


class Run:
    def __init__(self, args, work: Path, settings: dict):
        self.args, self.work, self.settings = args, work, settings
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def count(self, what: str, errs: list[str]) -> bool:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(f"{what}: {e}" for e in errs)
            for e in errs:
                print(f"[perfbench] FAILED {what}: {e}", file=sys.stderr)
        return not errs

    def guarded(self, what: str, fn):
        """Runs one operation; a raise counts as a failed operation."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — the run reports and goes on
            traceback.print_exc()
            self.count(what, [f"{type(e).__name__}: {e}"])
            return None

    def one_pass(self, wl, ctx, st, tag: str) -> Pass | None:
        ctx.walls, ctx.cpus = {}, {}
        jvm = ctx.spark.sparkContext._gateway.proc.pid
        (c0, j0), t0 = work_cpu_s(jvm), time.perf_counter()
        res = self.guarded(tag, lambda: wl.run_pass(ctx, st))
        wall = time.perf_counter() - t0
        c1, j1 = work_cpu_s(jvm)
        if res is None:
            return None
        if "want" not in st:
            st["want"] = {op: res[op] for op in wl.ops}
        self.count(tag, wl.check_pass(st, res))
        self.guarded(f"{tag} cleanup", lambda: wl.cleanup_pass(st, res))
        return Pass(wall, c1 - c0, j1 - j0, dict(ctx.walls), dict(ctx.cpus), res)

    def main(self, spark, session_s: float) -> dict:
        from spans import Tracer

        args = self.args
        tracer = Tracer(spark, enabled=False)
        ctx = Ctx(spark, args.seed, int(self.settings["SPARK_GRAFT_CPUS"]), tracer, {}, {})
        wl = WORKLOADS[args.workload]()

        # ---- inputs once, then the set-up, repeated; the last one is used ----
        jvm = spark.sparkContext._gateway.proc.pid
        t0 = time.perf_counter()
        inputs = wl.stage(ctx, str(self.work / "inputs"))
        stage_s = time.perf_counter() - t0
        setup_walls, setup_cpus = [], []
        for i in range(SETUP_REPS):
            c0, t0 = work_cpu_s(jvm)[0], time.perf_counter()
            st = {**inputs, **wl.setup(ctx, inputs, str(self.work / "setup" / f"rep{i}"))}
            setup_walls.append(time.perf_counter() - t0)
            setup_cpus.append(work_cpu_s(jvm)[0] - c0)
            if i:
                shutil.rmtree(self.work / "setup" / f"rep{i - 1}")
        t0 = time.perf_counter()
        self.count("check", self.guarded("check", lambda: wl.check(ctx, st)) or [])
        check_s = time.perf_counter() - t0

        # ---- warm-up until the CPU cost of a pass plateaus ----
        t0 = time.perf_counter()
        warm: list[Pass] = []
        least, most = wl.warmup_passes
        while len(warm) < most:
            p = self.one_pass(wl, ctx, st, "warm-up pass")
            if p is None:
                break
            warm.append(p)
            if len(warm) >= max(2, least) and p.cpu > PLATEAU * min(w.cpu for w in warm[:-1]):
                break
        warmup_s = time.perf_counter() - t0

        # ---- timed section: every pass traced in a traced run ----
        stat0 = cpu_stat()
        t0 = time.perf_counter()
        passes: list[Pass] = []
        traced: dict = {"tm": [], "spark": [], "trace_s": []}
        tracer.enabled = bool(args.trace)
        tries = 0
        while (time.perf_counter() - t0 < args.seconds
               or (len(passes) < wl.timed_passes and tries < wl.timed_passes + 2)):
            n0, self0 = len(tracer.spans), tracer.self_s
            p = self.one_pass(wl, ctx, st, "pass")
            tries += 1
            if p is None:
                continue
            passes.append(p)
            if args.trace:
                traced["trace_s"].append(tracer.self_s - self0)
                traced["tm"].append(p.res.get("tm"))
                traced["spark"].append(
                    {s.name: tracer.spark_metrics(s) for s in tracer.spans[n0:]}
                )
        tracer.enabled = False
        stat1 = cpu_stat()
        steal_pct = 100.0 * (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0])
        probe_s = null_probe(spark)
        rss_mb = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self")

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "settings": self.settings,
            "session_s": session_s,
            "stage_s": stage_s,
            "setup_wall_s": setup_walls,
            "setup_cpu_s": setup_cpus,
            "check_s": check_s,
            "warmup": [(w.wall, w.cpu, w.jit) for w in warm],
            "passes_wall_s": [p.wall for p in passes],
            "passes_cpu_s": [p.cpu for p in passes],
            "passes_jit_s": [p.jit for p in passes],
            "ops_wall_s": [p.op_walls for p in passes],
            "ops_cpu_s": [p.op_cpus for p in passes],
            "host": {"steal_pct": steal_pct, "null_probe_s": probe_s, "peak_rss_mb": rss_mb},
            "errors": self.errors,
        }
        if not passes:
            raise RuntimeError("no pass completed")
        if args.trace:
            metrics = self.layer_metrics(wl, ctx, st, traced, passes)
            metrics["setup.session_s"] = session_s
            metrics["setup.warmup_s"] = warmup_s
            metrics["host.steal_pct"] = steal_pct
            metrics["host.null_probe_s"] = probe_s
            metrics["host.peak_rss_mb"] = rss_mb
            units = metric_units("per_layer")
        else:
            metrics = {
                "setup_s": statistics.median(setup_cpus),
                "pass_cpu_s": statistics.median(p.cpu for p in passes),
            }
            units = metric_units("end_to_end")
        print(json.dumps({"detail": detail}))
        # a layer this workload never runs reads 0
        return {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}

    def layer_metrics(self, wl, ctx, st, traced, passes: list[Pass]) -> dict:
        m: dict[str, float] = {
            "cache.bytes_after": cached_bytes(ctx.spark),
            "trace.pass_s": statistics.median(p.wall for p in passes),
            "trace.pass_cpu_s": statistics.median(p.cpu for p in passes),
            "host.jit_cpu_s": statistics.median(p.jit for p in passes),
            "trace.overhead_s": statistics.median(traced["trace_s"]),
        }
        for op, name in wl.ops.items():
            m[name] = statistics.median(p.op_walls[op] for p in passes)
            m[name.removesuffix("_s") + "_cpu_s"] = statistics.median(p.op_cpus[op] for p in passes)
            for f in SPARK_FIELDS:
                m[f"spark.{op}.{f}"] = statistics.median(t[op][f] for t in traced["spark"])
        self.count("traced checks",
                   self.guarded("traced checks", lambda: wl.check_trace(ctx, st, traced)) or [])
        ctx.tracer.enabled = True
        probes = self.guarded("layer probes", lambda: wl.probe(ctx, st, traced)) or {}
        ctx.tracer.enabled = False
        m.update(probes)
        return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — never leave the JVM behind
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if not (ROOT / "fs2_osm_spark" / "__init__.py").is_file():
        print(f"[perfbench] engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work"
    shutil.rmtree(work, ignore_errors=True)
    settings = pin_env(work)
    sys.path.insert(0, str(ROOT))
    from fs2_osm_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run readable in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )
    # start the Python workers, so the first staging does not pay for it
    spark.range(0, 64, 1, int(settings["SPARK_GRAFT_CPUS"])).mapInPandas(
        lambda batches: batches, "id long"
    ).collect()
    session_s = time.perf_counter() - t0
    run = Run(args, work, settings)
    try:
        metrics = run.main(spark, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
