"""Benchmark of the database_transportor_spark engine.

Run one workload from the root of a checkout::

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 18 --trace 0

or every workload, each in its own process, with ``--workload all``.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a separate traced
run with ``--trace 1``.  A fuller record (host, inputs, samples, phase
times) and the traced run's spans land in ``.perfbench/out/``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(STATE, "out")

#: driver heap for ``build_session``'s config: the largest input is a few
#: MB, so 2 GB is ample and fits a small shared host
DRIVER_MEMORY = "2g"


def program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "database_transportor_spark/__init__.py", "__spark_entry__.py",
        "tools/check_oracle.py"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Keep every scratch file the JVMs, Spark and Python make inside
    ``work`` (no JVM performance-counter file in the system temp dir)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def stop_jvm() -> None:
    """Shut the driver JVM down and wait for it: it exits when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


class Timer:
    seconds = 0.0


class Context:
    """What a workload needs from the harness: the session, the work
    directory, the seed, counters, and the tracer (None when untraced)."""

    def __init__(self, spark, work: str, seed: int):
        from pyspark import SparkContext

        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None
        self.counts: dict[str, float] = {}
        self.jvm_pid = SparkContext._gateway.proc.pid

    @contextmanager
    def op(self, name: str):
        """Times an operation's wall seconds."""
        t = Timer()
        with self.span(f"op.{name}"):
            t0 = time.perf_counter()
            try:
                yield t
            finally:
                t.seconds = time.perf_counter() - t0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def release_pins(self) -> int:
        # looked up at call time so a traced pass calls the wrapped one
        import database_transportor_spark as dbt

        return dbt.release_pins()


def make_session(work: str, trace: bool):
    from database_transportor_spark import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1000",
        })
    spark = build_session("perfbench", master=f"local[{cores()}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """What a new session pays before its first real job: a small engine
    transform (spec parse, grouped lookup join, shuffle) collected."""
    from pyspark.sql import functions as F

    from database_transportor_spark import DBT, MemoryCatalog

    src = spark.range(1000).select("id", (F.col("id") % 7).alias("k"))
    maps = {"t": {"original_table": "s", "columns": {
        "id": "id", "k": "k",
        "n": {"refers": {"search_source": "original", "search_table": "s",
                         "search_column": "k", "according_column": "k",
                         "processor": "count(*)"}, "default": 0}}}}
    DBT(maps, target=MemoryCatalog({}),
        original=MemoryCatalog({"s": src})).transform()["t"].collect()


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_info(spark) -> dict:
    import pyspark

    return {
        "nproc": cores(), "master": spark.sparkContext.master,
        "spark": spark.version, "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": platform.platform(),
        "driver_memory": DRIVER_MEMORY,
    }


def cold_start(work: str, trace: bool):
    """What a new user process pays before its first real job: package
    import, JVM boot, session start and warm-up.  Returns (session,
    seconds)."""
    t0 = time.perf_counter()
    spark = make_session(work, trace)
    warm_up(spark)
    return spark, time.perf_counter() - t0


class Measurement:
    """Operations run and failed, and the samples of the timed passes."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.latencies: list[float] = []
        #: items per second of each timed pass
        self.rates: list[float] = []
        # a traced run's latencies from traced and untraced passes, and
        # the root spans of its traced operations
        self.traced_lat: list[float] = []
        self.plain_lat: list[float] = []
        self.traced_ops: list = []

    def run(self, fn):
        """Run a pass; an exception counts as one failed operation."""
        try:
            ops = fn()
        except Exception:  # report it and go on with the next pass
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return None
        self.attempted += len(ops)
        self.failed += sum(not o.ok for o in ops)
        return ops


def measure(wl, ctx, seconds: float, tracer) -> Measurement:
    """Times ``round(seconds / wl.pass_s)`` whole passes, at least one.
    The count depends on ``seconds`` only, not on how fast passes go, so
    every run of a workload times the same operations at the same point
    of the JVM's warm-up, which goes on through the timed passes.  A
    traced run makes at least two and alternates traced and untraced
    passes: the traced ones give the spans, the pair the tracing
    overhead."""
    m = Measurement()
    n = max(round(seconds / wl.pass_s), 1 if tracer is None else 2)
    for n_pass in range(n):
        traced = tracer is not None and n_pass % 2 == 0
        if traced:
            first_span = len(tracer.spans)
            tracer.install()
            ctx.tracer = tracer
        try:
            ops = m.run(wl.run_pass)
        finally:
            if traced:
                tracer.uninstall()
                ctx.tracer = None
        if ops is None:
            continue
        m.rates.append(sum(o.items for o in ops)
                       / sum(o.seconds for o in ops))
        units = wl.units(ops)
        lat = [o.seconds for o in units]
        m.latencies.extend(lat)
        if tracer is not None:
            (m.traced_lat if traced else m.plain_lat).extend(lat)
        if traced:
            m.traced_ops.extend(
                s for s in tracer.spans[first_span:]
                if s.parent is None and s.name.startswith("op."))
    return m


def run_workload(args, work: str) -> tuple[dict, dict]:
    """Set up, warm up, measure; returns (result line, record)."""
    from perfbench.workloads import WORKLOADS

    trace = bool(args.trace)
    phases: dict[str, float] = {}
    spark, setup_s = cold_start(work, trace)
    try:
        phases["setup"] = setup_s
        ctx = Context(spark, work, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        input_stats = wl.prepare()
        phases["prepare"] = time.perf_counter() - t0

        warm = Measurement()
        t0 = time.perf_counter()
        warm.run(wl.warm)
        phases["warm"] = time.perf_counter() - t0

        tracer = None
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        t0 = time.perf_counter()
        m = measure(wl, ctx, args.seconds, tracer)
        phases["measure"] = time.perf_counter() - t0
        attempted = warm.attempted + m.attempted
        failed = warm.failed + m.failed

        peak = rss_mb(os.getpid()) + rss_mb(ctx.jvm_pid)
        if not trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(m.latencies), "s"),
                "items_per_s": (statistics.median(m.rates), "1/s"),
            }
        else:
            from perfbench import layers

            tracer.collect_jobs()
            metrics, check_failures = layers.per_layer(wl, ctx, tracer, m)
            # the coverage and plan-transparency checks
            attempted += 2
            failed += check_failures
            metrics["setup.jvm_boot_s"] = (setup_s, "s")
            metrics["driver.peak_rss_mb"] = (peak, "MB")
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(
                OUT, f"spans-{args.workload}-s{args.seed}.json"))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "host": host_info(spark), "inputs": input_stats, "item": wl.item,
            "peak_rss_mb": peak, "phases": phases,
            "latencies": m.latencies,
            "rates": m.rates,
            "counts": ctx.counts, "result": result,
        }
    finally:
        spark.stop()
    return result, record


def run_all(args) -> int:
    """Every workload, each in its own process; prints each metric
    qualified by its workload, then one combined result line."""
    from perfbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"{name}: exit {p.returncode}", file=sys.stderr)
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
            print(f"# {name}.{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)} or 'all'")
    work = os.path.join(STATE, f"work-{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        result, record = run_workload(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(
            OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("# " + json.dumps({k: record[k] for k in ("host", "inputs", "item")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
