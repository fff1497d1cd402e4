"""The two workloads: what one pass runs, and how its outputs are checked.

Each operation is timed from outside the engine through its public
functions.  A query is timed from the call of its registry function
until its result is collected; Spark jobs are tagged with job group
``<op>:build`` while its DataFrame is constructed (eager checkpoints and
probes run here) and ``<op>:exec`` while it executes, so the event log
attributes every job to one phase of one operation.  Over the same
interval the CPU seconds of the engine's processes are counted
(``engine_cpu_s``).

Outputs are checked outside the timed region: every collected result
against its DuckDB oracle (tools/driver_hash.strict_compare), and the
flow's warehouses against the generator's counts.  A failed check
counts in ``failed``; it never drops the operation and never stops the
run.  Check jobs carry job group ``perfbench:check`` and stay out of
every metric.
"""

from __future__ import annotations

import functools
import glob
import math
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

from perfbench import gen

#: Operator-heavy corpus queries: iterative loops, eager checkpoints at
#: construction, shuffle-heavy kernels and the Python boundary.
CORPUS = [
    "td_minhash_near_dups", "td_dup_clusters", "td_setsim_prefix_join",
    "rel_entity_resolution", "td_incremental_minhash", "td_semdedup",
    "rel_pagerank_cosuppliers", "fn_udtf_doc_top_terms", "td_multimodal_resize",
]

#: The twins of the reference's analytic.sql questions, the flow's last step.
ANALYTIC_TWINS = [
    "bus_q1_count_day1", "bus_q2_count_day2", "bus_q3_avg_per_dow",
    "bus_q4_distinct_in_box", "bus_q5_join_timeslice", "bus_q5_period_counts",
    "bus_q6_max_value", "bus_q7_value_histogram", "bus_q8_longest_trip",
    "bus_q9_day_type_compare", "bus_q10_quadrants", "bus_q10_rush_vs_offpeak",
    "bus_q10_top5_fastest",
]

CHECK_GROUP = "perfbench:check"


@dataclass
class Op:
    """One operation.  ``start`` is wall-clock (epoch seconds, the clock
    Spark's event log uses); durations come from perf_counter."""

    name: str
    pass_no: int
    start: float
    build_s: float = 0.0
    exec_s: float = 0.0
    #: CPU seconds of the engine's processes over build and exec
    cpu_s: float = 0.0
    ok: bool = True
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.build_s + self.exec_s

    def as_dict(self) -> dict:
        return asdict(self)


@dataclass
class Run:
    #: timed seconds of each timed pass
    passes: list[float] = field(default_factory=list)
    #: CPU seconds of each timed pass (``engine_cpu_s``)
    cpu: list[float] = field(default_factory=list)
    #: operations of the timed passes
    ops: list[Op] = field(default_factory=list)
    #: JVM compile milliseconds ("codegen", "jit") per timed pass
    compile_ms: dict = field(default_factory=dict)
    #: untimed whole-flow checks: (name, ok, message)
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    #: per timed pass, what a workload keeps for its layer metrics
    extra: list[dict] = field(default_factory=list)

    def wall_s(self) -> float:
        return statistics.median(self.passes)

    def cpu_s(self) -> float:
        return statistics.median(self.cpu)

    def query_latencies(self, names: list[str]) -> list[float]:
        return [o.latency for o in self.ops if o.name in names]

    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    def failed(self) -> int:
        return (sum(not o.ok for o in self.ops)
                + sum(not ok for _, ok, _ in self.checks))

    def errors(self) -> list[str]:
        return ([f"{o.name} (pass {o.pass_no}): {o.error}"
                 for o in self.ops if not o.ok]
                + [f"{n}: {m}" for n, ok, m in self.checks if not ok])


def file_stats(path: str, suffix: str) -> tuple[int, int]:
    """(files, bytes) of data files under ``path`` ending in ``suffix``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _ticks(path: str) -> tuple[int, list[str]]:
    """(ppid, fields after the command name) of a ``stat`` file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), fields


def engine_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it (the JVM, its Python worker daemon and the workers,
    with the children each has reaped), less the JVM's JIT compiler
    threads.  The kernel leaves time stolen by the hypervisor out of these
    counters; the JIT is left out because how much it compiles within a
    pass depends on thread timing, not on the work the pass does."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                ppid, stats[int(pid)] = _ticks(f"/proc/{pid}/stat")
            except OSError:  # the process ended meanwhile
                continue
            children.setdefault(ppid, []).append(int(pid))
    ticks, frontier = 0, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        frontier.extend(children.get(pid, []))
        if pid not in stats:
            continue
        # Fields 14-17 of /proc/<pid>/stat: utime, stime, cutime, cstime.
        ticks += sum(int(x) for x in stats[pid][11:15])
        for tid in os.listdir(f"/proc/{pid}/task") if stats[pid][0] != "Z" else ():
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                ticks -= sum(int(x) for x in _ticks(f"/proc/{pid}/task/{tid}/stat")[1][11:13])
            except OSError:
                continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:300]


class QueryWorkload:
    """Registered queries over generated tables, each checked strictly
    against its DuckDB oracle."""

    def __init__(self, engine, work: str, seed: int, names: list[str]) -> None:
        self.engine = engine
        self.work = work
        self.seed = seed
        self.names = list(names)
        self.data = os.path.join(work, "tables")

    @property
    def spark(self):
        return self.engine.spark

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def prepare(self) -> None:
        import duckdb

        from busdata_pipeline_spark.sources.tables import TABLE_NAMES

        gen.write_tables(self.seed, self.data)
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(self.data, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def run(self, seconds: float) -> Run:
        """Closed loop, one client.  Whole passes run until ``seconds`` of
        timed work, without starting a pass likely to end past 1.5 x
        ``seconds``, and always at least one.  The first pass is cold:
        the engine runs these operations for the first time, as it does
        each time the reference flow's programs run."""
        run = Run()
        c0 = self.engine.compile_ms()
        measured, dur, k = 0.0, 0.0, 1
        while k == 1 or (measured < seconds and measured + dur <= 1.5 * seconds):
            dur = self.run_pass(k, run)
            run.passes.append(dur)
            run.cpu.append(sum(o.cpu_s for o in run.ops if o.pass_no == k))
            measured += dur
            k += 1
        c1 = self.engine.compile_ms()
        run.compile_ms = {kind: (c1[kind] - c0[kind]) / len(run.passes) for kind in c0}
        return run

    def run_pass(self, k: int, run: Run) -> float:
        """Pass ``k``; returns its timed seconds."""
        total = 0.0
        for name in self.names:
            op = self.run_query(name, k)
            run.ops.append(op)
            total += op.latency
        return total

    def run_query(self, name: str, k: int) -> Op:
        from driver_hash import strict_compare

        registry = self.engine.registry
        op = Op(name, k, time.time())
        try:
            self.group(f"{name}:build")
            c0, t0 = engine_cpu_s(), time.perf_counter()
            df = registry.queries()[name](self.spark, self.data)
            t1 = time.perf_counter()
            self.group(f"{name}:exec")
            rows = df.collect()
            op.build_s, op.exec_s = t1 - t0, time.perf_counter() - t1
            op.cpu_s = engine_cpu_s() - c0
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            op.ok, op.error = False, _err(exc)
            op.exec_s = time.time() - op.start
            return op
        finally:
            self.group(CHECK_GROUP)
        try:
            ok, msg = strict_compare(_Collected(df, rows), self.con,
                                     registry.oracle_sql()[name])
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, _err(exc)
        if not ok:
            op.ok, op.error = False, f"oracle mismatch: {msg}"
        return op

    def stage_seconds(self, run: Run) -> dict:
        return {}

    def layer_metrics(self, run: Run) -> dict:
        passes = len(run.passes)
        ops = [o for o in run.ops if o.name in self.names]
        out = {
            "plans.build_s": sum(o.build_s for o in ops) / passes,
            "plans.exec_s": sum(o.exec_s for o in ops) / passes,
            "engine.codegen_ms": run.compile_ms["codegen"],
            "engine.jit_ms": run.compile_ms["jit"],
        }
        for name in CORPUS:
            mine = [o for o in ops if o.name == name]
            if mine:
                out[f"query.{name}.build_s"] = statistics.median(o.build_s for o in mine)
                out[f"query.{name}.exec_s"] = statistics.median(o.exec_s for o in mine)
        return out


class _Collected:
    """The DataFrame surface strict_compare reads, over rows already
    collected inside the timed region, so nothing executes twice."""

    def __init__(self, df, rows) -> None:
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = rows

    def collect(self):
        return self._rows


class PipelineWorkload(QueryWorkload):
    """The reference flow: collect -> streaming subscribe -> per-day
    transform -> audit -> the analytic.sql twins.  Every pass writes a
    fresh warehouse and checkpoint (a reused checkpoint would turn the
    availableNow drain into a no-op) and must load every generated row."""

    STEPS = ("collect", "subscribe", "transform", "audit")
    BATCHES = 4

    def __init__(self, engine, work: str, seed: int) -> None:
        super().__init__(engine, work, seed, ANALYTIC_TWINS)

    def prepare(self) -> None:
        super().prepare()
        self.inputs = os.path.join(self.work, "inputs")
        self.crumbs = gen.Breadcrumbs(self.seed)
        self.crumbs.write(self.inputs)
        self.ids_path = os.path.join(self.inputs, "ids.txt")
        with open(self.ids_path, "w") as f:
            f.write("\n".join(str(v) for v in self.crumbs.vehicle_ids) + "\n\n")
        self.drop = os.path.join(self.inputs, "drop")
        self.files_per_trigger = math.ceil(len(os.listdir(self.drop)) / self.BATCHES)
        self.day_files = sorted(glob.glob(os.path.join(self.inputs, "days", "*.jsonl")))
        self.rows = sum(self.crumbs.rows_per_day.values())

    def run_pass(self, k: int, run: Run) -> float:
        d = os.path.join(self.work, f"pass{k}")
        paths = {n: os.path.join(d, n) for n in ("bronze", "wh_stream", "ckpt", "wh_batch")}
        extra: dict = {}
        steps = {
            "collect": lambda: self.collect(paths["bronze"]),
            "subscribe": lambda: self.subscribe(paths["wh_stream"], paths["ckpt"], extra),
            "transform": lambda: self.transform(paths["wh_batch"]),
            "audit": lambda: self.audit(paths, extra),
        }
        total = 0.0
        for step in self.STEPS:
            op = Op(step, k, time.time())
            try:
                self.group(f"{step}:exec")
                c0, t0 = engine_cpu_s(), time.perf_counter()
                steps[step]()
                op.exec_s = time.perf_counter() - t0
                op.cpu_s = engine_cpu_s() - c0
            except Exception as exc:  # noqa: BLE001 - counted, the run goes on
                op.ok, op.error = False, _err(exc)
                op.exec_s = time.time() - op.start
            finally:
                self.group(CHECK_GROUP)
            extra[f"{step}_s"] = op.exec_s
            run.ops.append(op)
            total += op.latency
        audit = run.ops[-1]
        if audit.ok:
            bad = {wh: c for wh, c in extra["audit"].items() if c != self.crumbs.rows_per_day}
            if bad:
                audit.ok = False
                audit.error = f"rows loaded {bad} != generated {self.crumbs.rows_per_day}"
        extra["query_s"] = super().run_pass(k, run)
        if k == 1:
            run.checks.extend(self.check_flow(paths))
        self.file_stats(paths, extra)
        run.extra.append(extra)
        return total + extra["query_s"]

    # -- the timed steps ----------------------------------------------------

    def collect(self, bronze: str) -> None:
        from busdata_pipeline_spark.session import default_parallelism
        from busdata_pipeline_spark.sources.collector import (
            fetch_breadcrumbs,
            read_vehicle_ids,
            write_bronze,
        )

        api = os.path.join(self.inputs, "api")
        fetched = fetch_breadcrumbs(read_vehicle_ids(self.spark, self.ids_path),
                                    functools.partial(gen.fetch_vehicle, api),
                                    parallelism=default_parallelism())
        write_bronze(fetched, bronze)

    def subscribe(self, wh: str, ckpt: str, extra: dict) -> None:
        import json

        from busdata_pipeline_spark.operators.warehouse import promote_stage
        from busdata_pipeline_spark.streaming.ingest import (
            stream_breadcrumbs,
            stream_into_warehouse,
        )

        t0 = time.perf_counter()
        stream = stream_breadcrumbs(self.spark, self.drop,
                                    max_files_per_trigger=self.files_per_trigger)
        q = stream_into_warehouse(stream, wh, ckpt, available_now=True, incremental=True)
        try:
            if not q.awaitTermination(150):
                raise TimeoutError("availableNow drain did not finish in 150 s")
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        t1 = time.perf_counter()
        promote_stage(self.spark, wh)
        extra["promote_s"] = time.perf_counter() - t1
        extra["drain_s"] = t1 - t0
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for p in q.recentProgress]
        progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        extra["batches"] = len(progress)
        extra["batch_s"] = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        extra["streamed_rows"] = sum(p["numInputRows"] for p in progress)

    def transform(self, wh: str) -> None:
        from busdata_pipeline_spark.operators.warehouse import load_day
        from busdata_pipeline_spark.sources.jsonl import read_breadcrumb_jsonl

        for path in self.day_files:
            load_day(read_breadcrumb_jsonl(self.spark, path), wh)

    def audit(self, paths: dict, extra: dict) -> None:
        from busdata_pipeline_spark.operators.warehouse import audit_day_count

        days = sorted(self.crumbs.rows_per_day)
        extra["audit"] = {
            wh: {day: audit_day_count(self.spark, paths[wh], day) for day in days}
            for wh in ("wh_stream", "wh_batch")
        }

    # -- untimed ------------------------------------------------------------

    def file_stats(self, paths: dict, extra: dict) -> None:
        from busdata_pipeline_spark.operators.warehouse import FACT, STAGE

        facts = [file_stats(os.path.join(paths[w], FACT), ".parquet")
                 for w in ("wh_stream", "wh_batch")]
        extra["fact_files"] = sum(n for n, _ in facts)
        extra["bytes_per_row"] = sum(b for _, b in facts) / (2 * self.rows)
        extra["stage_files"] = file_stats(os.path.join(paths["wh_stream"], STAGE),
                                          ".parquet")[0]
        extra["bronze_files"], extra["bronze_bytes"] = file_stats(paths["bronze"], ".json")

    def check_flow(self, paths: dict) -> list[tuple[str, bool, str]]:
        from busdata_pipeline_spark.operators.warehouse import read_dim, read_fact
        from busdata_pipeline_spark.sources.jsonl import corrupt_line_count

        def check(name: str, fn) -> tuple[str, bool, str]:
            try:
                ok, msg = fn()
            except Exception as exc:  # noqa: BLE001
                ok, msg = False, _err(exc)
            return name, ok, msg

        def corrupt():
            n_days = corrupt_line_count(self.spark, os.path.join(self.inputs, "days"))
            n_drop = corrupt_line_count(self.spark, self.drop)
            want = self.crumbs.MALFORMED
            return (n_days == want and n_drop == want,
                    f"corrupt lines days={n_days} drop={n_drop} injected={want}")

        def trips():
            whs = ("wh_stream", "wh_batch")
            distinct = {w: read_dim(self.spark, paths[w]).select("trip_id").distinct().count()
                        for w in whs}
            rows = {w: read_dim(self.spark, paths[w]).count() for w in whs}
            want = self.crumbs.trips_total
            return (rows == distinct and all(v == want for v in rows.values()),
                    f"trip dim rows={rows} distinct={distinct} generated={want}")

        def same_facts():
            s = read_fact(self.spark, paths["wh_stream"])
            b = read_fact(self.spark, paths["wh_batch"]).select(*s.columns)
            a, c = s.exceptAll(b).count(), b.exceptAll(s).count()
            return a == 0 and c == 0, f"stream-batch={a} batch-stream={c}"

        self.group(CHECK_GROUP)
        return [check("pipeline.corrupt_lines", corrupt),
                check("pipeline.trip_dim", trips),
                check("pipeline.stream_equals_batch", same_facts)]

    def stage_seconds(self, run: Run) -> dict:
        """Median seconds per flow step over the timed passes."""
        out = {f"{k}_s": statistics.median(e[f"{k}_s"] for e in run.extra)
               for k in ("collect", "subscribe", "transform", "query")}
        out["rows_per_s"] = self.rows / run.wall_s()
        return out

    def layer_metrics(self, run: Run) -> dict:
        ex = run.extra
        med = lambda k: statistics.median(e.get(k, 0.0) for e in ex)  # noqa: E731
        batch_s = [b for e in ex for b in e.get("batch_s", [])]
        return {
            **super().layer_metrics(run),
            "streaming.batches": med("batches"),
            "streaming.drain_s": med("drain_s"),
            "streaming.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
            "streaming.rows_per_s": med("streamed_rows") / max(med("drain_s"), 1e-9),
            "warehouse.promote_s": med("promote_s"),
            "warehouse.load_day_s": med("transform_s"),
            "warehouse.audit_s": med("audit_s"),
            "warehouse.fact_files": med("fact_files"),
            "warehouse.stage_files": med("stage_files"),
            "warehouse.bytes_per_row": med("bytes_per_row"),
            "collector.bronze_files": med("bronze_files"),
            "collector.bronze_bytes": med("bronze_bytes"),
            **{f"pipeline.{k}": v for k, v in self.stage_seconds(run).items()
               if k != "transform_s"},  # that is warehouse.load_day_s
        }


def make(name: str, engine, work: str, seed: int) -> QueryWorkload:
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    if name == "corpus":
        return QueryWorkload(engine, work, seed, CORPUS)
    return PipelineWorkload(engine, work, seed)
