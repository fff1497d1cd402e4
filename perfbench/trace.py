"""Per-layer metrics and spans from Spark's own event log.

A traced run (``--trace 1``) starts the JVM with ``spark.eventLog.enabled``
and ``spark.eventLog.compress=false``; Spark 4 writes a rolling
``eventlog_v2_<app>/events_<n>_<app>`` directory of JSON lines.  This
module reads it after the session stops and builds spans at five levels,
each with its parent:

    workload -> operation -> phase (build | exec) -> Spark job -> stage

Jobs are attributed to a phase by their ``spark.jobGroup.id`` property
(``<op>:build`` / ``<op>:exec``, set by workloads.py); jobs without one
(streaming micro-batches run on the query's own thread) fall back to the
phase whose interval contains their submission time.  Jobs of the
untimed output checks and of session setup belong to no phase and are
left out of every metric.  Counts are reported per pass.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

from perfbench.workloads import CHECK_GROUP, CORPUS

_COUNT = "count"
LAYER_UNITS = {
    "session.start_s": "s", "session.import_s": "s", "session.cold_s": "s",
    "plans.build_s": "s", "plans.exec_s": "s", "plans.query_gmean_s": "s",
    "plans.build_jobs": _COUNT, "plans.exec_jobs": _COUNT,
    **{f"query.{q}.{m}": ("s" if m.endswith("_s") else _COUNT)
       for q in CORPUS for m in ("build_s", "exec_s", "build_jobs")},
    "engine.jobs": _COUNT, "engine.stages": _COUNT, "engine.stages_skipped": _COUNT,
    "engine.tasks": _COUNT, "engine.tasks_failed": _COUNT,
    "engine.shuffle_read_bytes": "bytes", "engine.shuffle_write_bytes": "bytes",
    "engine.input_bytes": "bytes", "engine.output_bytes": "bytes",
    "engine.executor_run_ms": "ms", "engine.gc_ms": "ms", "engine.jvm_peak_rss_mb": "MB",
    "engine.codegen_ms": "ms", "engine.jit_ms": "ms",
    "python.nodes": _COUNT, "python.run_ms": "ms", "python.start_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "streaming.batches": _COUNT, "streaming.drain_s": "s",
    "streaming.batch_p50_s": "s", "streaming.rows_per_s": "rows/s",
    "warehouse.promote_s": "s", "warehouse.load_day_s": "s", "warehouse.audit_s": "s",
    "warehouse.fact_files": _COUNT, "warehouse.stage_files": _COUNT,
    "warehouse.bytes_per_row": "bytes",
    "collector.bronze_files": _COUNT, "collector.bronze_bytes": "bytes",
    "pipeline.collect_s": "s", "pipeline.subscribe_s": "s",
    "pipeline.query_s": "s", "pipeline.rows_per_s": "rows/s",
    "workload.wall_s": "s",
}

_PYTHON_ACCUMS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
#: Python-boundary exec nodes as they appear in the formatted physical
#: plan's tree (``Name (n)``).
_PYTHON_NODE = re.compile(
    r"\b(MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"FlatMapGroupsInArrow|AggregateInPandas|WindowInPandas|ArrowEvalPython|"
    r"BatchEvalPython|ArrowEvalPythonUDTF|BatchEvalPythonUDTF|"
    r"TransformWithStateInPandas|FlatMapGroupsInPandasWithState) \(\d+\)")


def load_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Every event of application ``app_id``, in order."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = files or glob.glob(os.path.join(log_dir, app_id + "*"))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class Span:
    __slots__ = ("id", "parent", "kind", "name", "start", "end")

    def __init__(self, sid, parent, kind, name, start, end):
        self.id, self.parent, self.kind, self.name = sid, parent, kind, name
        self.start, self.end = start, end

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration minus the part of the span's interval its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def analyze(events: list[dict], run, workload: str) -> tuple[dict, list[dict]]:
    """(per-layer metrics, spans as dicts with ``self_s``)."""
    spans: list[Span] = []

    def add(parent, kind, name, start, end) -> Span:
        s = Span(len(spans), parent, kind, name, start, end)
        spans.append(s)
        return s

    root = add(None, "workload", workload, min(o.start for o in run.ops),
               max(o.start + o.latency for o in run.ops))
    phases: list[tuple[Span, str]] = []  # (span, "<op>:<phase>")
    for o in run.ops:
        op = add(root.id, "operation", f"{o.name}#{o.pass_no}", o.start, o.start + o.latency)
        if o.build_s:
            phases.append((add(op.id, "phase", "build", o.start, o.start + o.build_s),
                           f"{o.name}:build"))
        phases.append((add(op.id, "phase", "exec", o.start + o.build_s, op.end),
                       f"{o.name}:exec"))

    def owner(group: str | None, t: float) -> tuple[Span, str] | None:
        if group == CHECK_GROUP:
            return None
        inside = [(s, g) for s, g in phases if s.start - 0.05 <= t <= s.end + 0.05]
        return next(((s, g) for s, g in inside if g == group), inside[0] if inside else None)

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_times: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    sql_nodes = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            hit = owner((e.get("Properties") or {}).get("spark.jobGroup.id"), t)
            if hit is not None:
                jobs[e["Job ID"]] = {"phase": hit, "start": t, "end": t,
                                     "stages": e["Stage IDs"]}
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_times[info["Stage ID"]] = (info.get("Submission Time", 0) / 1000.0,
                                             info.get("Completion Time", 0) / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            if owner(e.get("jobGroupId"), e["time"] / 1000.0) is not None:
                plan = e.get("physicalPlanDescription", "")
                sql_nodes += len(_PYTHON_NODE.findall(plan.split("\n\n\n")[0]))

    m: dict[str, float] = defaultdict(float)
    per_query: dict[str, int] = defaultdict(int)
    for jid, j in sorted(jobs.items()):
        phase_span, group = j["phase"]
        m["engine.jobs"] += 1
        m["plans.build_jobs" if group.endswith(":build") else "plans.exec_jobs"] += 1
        if group.endswith(":build"):
            per_query[group[: -len(":build")]] += 1
        job = add(phase_span.id, "job", f"job {jid}", j["start"], j["end"])
        for sid in j["stages"]:
            if stage_job.get(sid) != jid:
                continue
            if sid not in stage_times:
                m["engine.stages_skipped"] += 1
                continue
            m["engine.stages"] += 1
            lo, hi = stage_times[sid]
            add(job.id, "stage", f"stage {sid}", lo, hi)
            for t in tasks.get(sid, []):
                _task_metrics(t, m)
    m["python.nodes"] = sql_nodes

    passes = len(run.passes)
    out = {k: v / passes for k, v in m.items()}
    for k in LAYER_UNITS:
        if k.startswith(("engine.", "python.")) or k in ("plans.build_jobs", "plans.exec_jobs"):
            out.setdefault(k, 0.0)
    for q in CORPUS:
        out[f"query.{q}.build_jobs"] = per_query.get(q, 0) / passes
    selfs = self_times(spans)
    return out, [dict(s.as_dict(), self_s=selfs[s.id]) for s in spans]


def _task_metrics(t: dict, m: dict) -> None:
    m["engine.tasks"] += 1
    if t.get("Task End Reason", {}).get("Reason") != "Success":
        m["engine.tasks_failed"] += 1
    tm = t.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics", {})
    m["engine.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    m["engine.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    m["engine.input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    m["engine.output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
    m["engine.executor_run_ms"] += tm.get("Executor Run Time", 0)
    m["engine.gc_ms"] += tm.get("JVM GC Time", 0)
    for a in t.get("Task Info", {}).get("Accumulables", []):
        key = _PYTHON_ACCUMS.get(a.get("Name"))
        if key is not None:
            m[key] += float(a.get("Update") or 0)


def span_summary(spans: list[dict], top: int = 12) -> list[str]:
    """The workload span, then the slowest operations with the self time
    of each level beneath them, summed over passes."""
    if not spans:
        return []
    by_id = {s["id"]: s for s in spans}
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["kind"] == "workload":
            continue
        op = s
        while op["kind"] != "operation":
            op = by_id[op["parent"]]
        key = op["name"].split("#")[0]
        label = s["name"] if s["kind"] == "phase" else s["kind"]
        agg[key][label] += s["self_s"]
        if s["kind"] == "operation":
            agg[key]["total"] += s["end"] - s["start"]
    root = spans[0]
    lines = [f"span workload {root['name']}: {root['end'] - root['start']:.3f}s "
             f"self {root['self_s']:.3f}s (time between operations)",
             f"{'operation':<32}{'total':>8}{'op':>8}{'build':>8}{'exec':>8}"
             f"{'job':>8}{'stage':>8}   (self seconds, summed over passes)"]
    for key, v in sorted(agg.items(), key=lambda kv: -kv[1]["total"])[:top]:
        lines.append(f"{key:<32}" + "".join(
            f"{v.get(c, 0.0):8.3f}" for c in ("total", "operation", "build", "exec", "job", "stage")))
    return lines
