#!/usr/bin/env python3
"""Benchmark harness for the engine: one closed-loop, single-client
workload per invocation, timed from outside the package.

    python3 perfbench/run.py --workload corpus|pipeline \
        --seed N --seconds S --trace 0|1

Run it from the repository root.  Each invocation:

1. pins its environment (core count, PYTHONPATH, a private working and
   Spark-local directory under ``perfbench/.work/``) and stamps it;
2. starts the engine once (``session.cold_s``);
3. generates the workload's inputs from ``--seed`` (untimed);
4. runs timed passes over the workload's operations until ``--seconds``
   have been measured, always at least one whole pass; the first pass
   is cold.  Every output is checked outside the timed region;
5. times ``SETUPS`` session setups (``get_spark`` + a fresh import of
   the query registry), whose median is ``setup_s``;
6. with ``--trace 1`` the JVM also writes Spark's event log, which
   ``trace.py`` turns into per-layer metrics and a span tree.

Informational lines go to stdout first; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  The full
record (environment stamp, every operation, every metric) is written to
``perfbench/results/<workload>-s<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("corpus", "pipeline")
#: Timed session setups per run; ``setup_s`` is their median.
SETUPS = 9

END_TO_END = {  # name -> unit, as in BENCHMARK.json
    "setup_s": "s", "cpu_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(work: str, trace: bool) -> dict:
    """Pin everything the engine reads from the environment; return the
    stamp recorded with the result."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    # -XX:-UsePerfData keeps the JVMs out of /tmp/hsperfdata_<user>.  JIT
    # compiler threads are kept for the JVM's life, so that the CPU time
    # they used can be told apart from the engine's (workloads.engine_cpu_s).
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
                 " -XX:-UseDynamicNumberOfCompilerThreads")
    submit = [f"--driver-java-options '{java_opts}'"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://{log_dir}"]
    os.environ.update({
        # Without it session.default_parallelism() falls back to 32.
        "SPARK_GRAFT_CPUS": str(cpus),
        # Python workers must import the engine package and perfbench.
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "TMPDIR": tmp,
        # spark-submit's own launcher JVM reads only this.
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    tempfile.tempdir = tmp
    os.chdir(work)
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    import pyspark

    return {
        "cores": cpus, "load_avg": list(os.getloadavg()),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "commit": commit or "unknown", "host": platform.node(),
    }


class Engine:
    """The SparkSession under test and the JVM that hosts it."""

    def __init__(self) -> None:
        self.spark = None
        self.registry = None

    def _purge(self) -> None:
        for name in list(sys.modules):
            if name == "__spark_entry__" or name.startswith("busdata_pipeline_spark"):
                del sys.modules[name]

    def setup(self) -> tuple[float, float]:
        """Build a session and import the registry; (start_s, import_s)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        self._purge()
        # Collections of the garbage left by earlier work, in Python and in
        # the JVM, would otherwise land inside the timed setup at points
        # that vary by run.
        gc.collect()
        if SparkContext._jvm is not None:
            SparkContext._jvm.java.lang.System.gc()
        t0 = time.perf_counter()
        from busdata_pipeline_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        import __spark_entry__

        self.registry = __spark_entry__
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        return t1 - t0, t2 - t1

    def compile_ms(self) -> dict[str, float]:
        """Cumulative JVM compile time: Spark's generated-code compiles
        (on the query's own thread) and HotSpot's JIT (background)."""
        jvm = self.spark._jvm
        codegen_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return {"codegen": codegen_ns / 1e6, "jit": float(jit.getTotalCompilationTime())}

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "busdata_pipeline_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace, workloads

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    engine = Engine()
    try:
        stamp = pin_env(work, bool(args.trace))
        start_s, import_s = engine.setup()
        cold_s = process_age_s()
        wl = workloads.make(args.workload, engine, work, args.seed)
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t
        ticks0 = cpu_ticks()
        run = wl.run(args.seconds)
        ticks1 = cpu_ticks()
        # Share of CPU time the hypervisor gave to other guests meanwhile.
        stamp["steal_pct"] = 100.0 * (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        rss = engine.jvm_peak_rss_mb()
        app_id = engine.spark.sparkContext.applicationId
        # Timed setups run last, in a JVM that has already built one
        # session, so they measure the session and the registry import
        # rather than class loading.
        setups = [engine.setup() for _ in range(SETUPS)]
        engine.close()
        lat = run.query_latencies(wl.names)
        layers, spans = {}, []
        if args.trace:
            log = trace.load_event_log(os.path.join(work, "eventlog"), app_id)
            layers, spans = trace.analyze(log, run, args.workload)
        layers.update(wl.layer_metrics(run))
        layers["session.start_s"] = statistics.median(s for s, _ in setups)
        layers["session.import_s"] = statistics.median(i for _, i in setups)
        layers["session.cold_s"] = cold_s
        layers["engine.jvm_peak_rss_mb"] = rss
        layers["plans.query_gmean_s"] = statistics.geometric_mean(lat)
        layers["workload.wall_s"] = run.wall_s()
    finally:
        engine.close()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": statistics.median(s + i for s, i in setups),
        "cpu_s": run.cpu_s(),
    }
    attempted, failed = run.attempted(), run.failed()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": stamp, "gen_s": gen_s,
        "cold_setup": {"start_s": start_s, "import_s": import_s, "total_s": cold_s},
        "setups": setups, "end_to_end": e2e, "per_layer": layers,
        "attempted": attempted, "failed": failed, "errors": run.errors(),
        "passes": len(run.passes), "compile_ms": run.compile_ms,
        "stages": wl.stage_seconds(run),
        "ops": [o.as_dict() for o in run.ops],
    }
    report(record, lat, spans)
    metrics = layers if args.trace else e2e
    units = trace.LAYER_UNITS if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": units[k]}
                    for k in units},
    }))
    return 0


def report(record: dict, lat: list[float], spans: list) -> None:
    """Human-readable lines, and the full record under results/."""
    from perfbench import trace

    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{record['workload']}-s{record['seed']}-trace{record['trace']}"
    env = record["env"]
    print(f"perfbench {record['workload']} seed={record['seed']} cores={env['cores']} "
          f"load={env['load_avg'][0]:.2f} spark={env['spark']} python={env['python']} "
          f"commit={env['commit'][:12]} inputs={record['gen_s']:.2f}s "
          f"steal={env['steal_pct']:.1f}%")
    n = len(lat)
    e2e = dict(record["end_to_end"])
    e2e["wall_s"] = record["per_layer"]["workload.wall_s"]
    e2e["error_rate"] = record["failed"] / max(record["attempted"], 1)
    e2e["query_gmean_s"] = record["per_layer"]["plans.query_gmean_s"]
    e2e["query_p50_s"] = statistics.median(lat)
    # p90 is meaningful only with >= 10 samples above it.
    e2e["query_p90_s"] = statistics.quantiles(lat, n=10)[-1] if n >= 100 else None
    e2e["jvm_peak_rss_mb"] = record["per_layer"]["engine.jvm_peak_rss_mb"]
    e2e.update(record["stages"])
    units = dict(END_TO_END, wall_s="s", error_rate="ratio", query_gmean_s="s", query_p50_s="s",
                 query_p90_s="s",
                 jvm_peak_rss_mb="MB", collect_s="s", subscribe_s="s", transform_s="s",
                 rows_per_s="rows/s")
    for k, unit in units.items():
        v = e2e.get(k)
        shown = "n/a" if v is None else f"{v:.4f}"
        print(f"  e2e {k:<16} {shown:>12} {unit}")
    print(f"  query samples={n} timed passes={record['passes']} attempted={record['attempted']} "
          f"failed={record['failed']}")
    print("  compile ms per timed pass: " + " ".join(
        f"{k}={v:.0f}" for k, v in record["compile_ms"].items()))
    for err in record["errors"][:10]:
        print(f"  error: {err}")
    if record["trace"]:
        untraced = os.path.join(out_dir, name.replace("trace1", "trace0") + ".json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            record["trace_overhead"] = {
                "wall_s": record["per_layer"]["workload.wall_s"]
                - base["per_layer"]["workload.wall_s"],
                "cpu_s": record["end_to_end"]["cpu_s"] - base["end_to_end"]["cpu_s"],
            }
            print("  tracing overhead (traced - untraced, same seed): " + " ".join(
                f"{k}={v:+.3f}s" for k, v in record["trace_overhead"].items()))
        for k in sorted(record["per_layer"]):
            print(f"  layer {k:<40} {record['per_layer'][k]:.4f}")
        record["spans"] = spans
        for line in trace.span_summary(spans):
            print("  " + line)
    with open(os.path.join(out_dir, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
