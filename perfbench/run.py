"""The repository's benchmark: one workload, one fresh process, one client.

Usage (from the repository root):

    python3 perfbench/run.py --workload sqlgen --seed 1 --seconds 15 --trace 0

Each run is a closed loop with one client: one statement at a time, on
``local[cpus]`` with ``cpus`` taken from the process's CPU affinity. The
run

1. points TMPDIR, ``spark.local.dir``, the JVM temp dir and the SQL
   warehouse at a fresh per-run directory under ``.perfbench/``;
2. sets up: starts the session, registers the sf0.1 tables, caches the
   star-schema tables the workload executes against, and runs a fixed
   number of warm-up statements so that timing starts after the JVM's
   JIT has done most of its work;
3. times whole passes over the workload's entries, in an order drawn
   from ``--seed``; the number of passes is ``--seconds`` divided by the
   workload's nominal pass time, rounded, so every seed does the same
   work;
4. checks every entry's output once, after the timed region (see
   ``statements.py`` for what each workload checks);
5. with ``--trace 1``, repeats the timed passes with the tracer on and
   reports the per-layer metrics (``tracing.PER_LAYER``) instead of the
   end-to-end ones;
6. measures the bytes left in its temp dir, removes the per-run
   directory and stops the JVM it started.

The last line of stdout is the result, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it describes the run: cpus, shuffle partitions, seed, warm-up count,
per-pass times and JVM counters, and the host's single-thread CPU
canary (a covariate; it never normalizes a metric).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver heap: far below the host's RAM, enough for sf0.1.
DRIVER_MEM = "3g"

# Warm-up statements per workload, fixed. Chosen from measured jvm.jit_s
# per pass (see perfbench/README.md): the first pass after start carries
# most of the JIT work; a run's time budget allows no longer warm-up.
WARMUP = {"sqlgen": 208, "execute": 15}

# Nominal seconds of one timed pass on local[4]: a run times
# round(--seconds / this) whole passes, at least one.
PASS_SECONDS = {"sqlgen": 7.5, "execute": 8.0}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WARMUP))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


class Jvm:
    """JIT, GC and heap counters from the driver JVM's MXBeans."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.compilation = mf.getCompilationMXBean()
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.memory = mf.getMemoryMXBean()

    def sample(self) -> tuple[float, float]:
        """(total JIT seconds, total GC seconds) so far."""
        jit = self.compilation.getTotalCompilationTime() / 1000
        gc = sum(max(0, g.getCollectionTime()) for g in self.gcs) / 1000
        return jit, gc

    def heap_used(self) -> int:
        return self.memory.getHeapMemoryUsage().getUsed()


class Run:
    """The statements of one run, in seed order, with per-pass counters."""

    def __init__(self, spark, workload, seed: int, tmp: str):
        self.workload, self.tmp = workload, tmp
        self.jvm = Jvm(spark)
        self.order = workload.entries()
        random.Random(seed).shuffle(self.order)
        self.passes: list[dict] = []
        self.failures: dict[str, str] = {}

    def one_pass(self, kind: str, trace, n: int | None = None) -> list[tuple]:
        """Run ``n`` statements (default: one whole pass) in seed order;
        return ``(entry, latency)`` per statement, latency None if it
        raised."""
        n = len(self.order) if n is None else n
        jit0, gc0 = self.jvm.sample()
        results = []
        wall = 0.0
        for i in range(n):
            name = self.order[i % len(self.order)]
            with trace.statement(name):
                t0 = time.perf_counter()
                try:
                    self.workload.run(name, trace)
                    latency = time.perf_counter() - t0
                except Exception as ex:  # noqa: BLE001 - a failed statement is counted, not fatal
                    self.failures.setdefault(name, f"{type(ex).__name__}: {str(ex)[:300]}")
                    latency = None
                wall += time.perf_counter() - t0
            results.append((name, latency))
        jit1, gc1 = self.jvm.sample()
        self.passes.append({
            "kind": kind, "statements": n, "wall_s": wall,
            "jit_s": jit1 - jit0, "gc_s": gc1 - gc0,
            "heap_used_bytes": self.jvm.heap_used(),
            "tmp_bytes": dir_bytes(self.tmp),
        })
        return results

    def timed(self, kind: str, passes: int, trace) -> tuple[list, float]:
        """Results and wall seconds of ``passes`` whole passes."""
        results: list = []
        for _ in range(passes):
            results += self.one_pass(kind, trace)
        return results, sum(p["wall_s"] for p in self.passes[-passes:])


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp and scratch location at ``run_dir``; return the
    session conf that does so inside the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    tempfile.tempdir = None
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def set_up(args, cpus: int, conf: dict, sf_dir: str, setup: dict):
    """Start the session, register the tables and cache those the
    workload caches; return the session. Each step's seconds go into
    ``setup``."""
    from datafusion_sqlgen_spark import get_spark, register_tables
    from perfbench.statements import WORKLOADS

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("OFF")
    setup["session.start_s"] = time.perf_counter() - t

    t = time.perf_counter()
    tables = register_tables(spark, sf_dir)
    setup["catalog.register_s"] = time.perf_counter() - t

    t = time.perf_counter()
    for name in WORKLOADS[args.workload].cached_tables:
        tables[name].persist()
        tables[name].count()
    setup["catalog.cache_fill_s"] = time.perf_counter() - t
    return spark


def measure(args, spark, sf_dir: str, tmp: str, setup: dict) -> tuple[dict, dict]:
    """Warm up, time, check and (with --trace 1) trace; return the
    result line and the run's description."""
    from perfbench import statements, tracing

    workload = statements.WORKLOADS[args.workload](spark, sf_dir)
    run = Run(spark, workload, args.seed, tmp)

    t = time.perf_counter()
    left = WARMUP[args.workload]
    while left > 0:
        n = min(left, len(run.order))
        run.one_pass("warmup", tracing.NO_TRACE, n)
        left -= n
    setup["setup.warmup_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - PROCESS_START

    passes = max(1, round(args.seconds / PASS_SECONDS[args.workload]))
    results, wall = run.timed("timed", passes, tracing.NO_TRACE)
    by_entry: dict[str, list] = {}
    for name, lat in results:
        by_entry.setdefault(name, []).append(None if lat is None else round(lat, 4))
    qps = len(results) / wall
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "queries_per_s": {"value": qps, "unit": "1/s"},
        "latency_p50_s": {
            "value": statistics.median(lat for _n, lat in results if lat is not None),
            "unit": "s",
        },
    }

    if args.trace:
        tracer = tracing.Tracer(spark, tracing.storage_held(spark.sparkContext))
        tracer.listen()
        try:
            traced, traced_wall = run.timed("traced", passes, tracer)
            tracer.drain()
        finally:
            tracer.unlisten()
        results += traced
        layer = {**tracer.metrics(passes), **setup}
        traced_passes = run.passes[-passes:]
        for key in ("jit_s", "gc_s", "heap_used_bytes"):
            layer[f"jvm.{key}"] = statistics.mean(p[key] for p in traced_passes)
        layer["sources.tmp_bytes_left"] = traced_passes[-1]["tmp_bytes"]
        layer["trace.overhead"] = (len(traced) / traced_wall) / qps
        metrics = {
            k: {"value": layer.get(k, 0.0), "unit": unit}
            for k, unit in tracing.PER_LAYER.items()
        }
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"))

    bad = set(workload.check())
    for name in bad:
        run.failures.setdefault(name, "output differs from the check")
    result = {
        "correct": not run.failures,
        "attempted": len(results),
        # a statement fails if it raised or if its entry's output is wrong
        "failed": sum(1 for name, lat in results if lat is None or name in bad),
        "metrics": metrics,
    }
    info = {
        "workload": args.workload, "seed": args.seed,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "warmup_statements": WARMUP[args.workload], "timed_passes": passes,
        "entries": len(run.order), "setup": setup, "passes": run.passes,
        "failures": run.failures, "latency_by_entry_s": by_entry,
    }
    return result, info


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Import the engine before anything touches the disk: outside a full
    # checkout this fails here, without a result.
    import bench
    import datafusion_sqlgen_spark  # noqa: F401

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    conf = isolate(run_dir)
    spark = None
    setup: dict[str, float] = {}
    try:
        spark = set_up(args, cpus, conf, bench.SF_DIR, setup)
        result, info = measure(args, spark, bench.SF_DIR, os.environ["TMPDIR"], setup)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    info.update({
        "cpus": cpus, "driver_mem": DRIVER_MEM,
        "sf_dir": os.path.basename(bench.SF_DIR.rstrip("/")),
        "canary_s": bench._machine_canary(),
    })
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


def stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
