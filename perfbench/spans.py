"""Traced-run instrumentation: spans around engine entry points, Spark
job attribution through the job group, and the event-log parser that
turns both into per-layer metrics.

Spans live in memory. Each span sets the Spark job group (and job
description) to its own id while it is open, so every Spark job launched
inside the call, including eager side jobs, is attributed to the
innermost open span. After the session stops, the event log is parsed
into job, stage, task, shuffle, spill, GC, input and exchange figures per
span. A layer's self time is its span minus the part covered by its
children; the self times of one job's spans sum to that job's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"

# engine entry points wrapped in the traced run, as "<module>.<function>"
PROJECT_SPANS = ("project.get_offline_features", "project.compute_snapshot")
OPERATOR_SPANS = ("graph.pagerank", "graph.connected_components", "graph.kcore_peel",
                  "dedup.duplicate_components", "pq.pq_topk",
                  "clustering.semantic_dedup_pairs")
SKEW_SPAN = "point_in_time.choose_pit_strategy"
SINK_SPAN = "materialization.write"
WRITE_SPANS = ("exec.write", SINK_SPAN)
PHASES = ("analysis", "optimization", "planning")

# Per-layer metrics every workload reports (BENCHMARK.json per_layer).
# Every time here is nonzero on every listed workload; a count or size
# may be zero where the layer does nothing (no files behind pit_join's
# noop sink). The rest of job_metrics (times of layers a workload never
# enters, per-operator figures) are printed on a separate line and kept
# in the spans file.
PER_LAYER = (
    "project.build_s", "point_in_time.skew_sample_jobs",
    "materialization.write_s", "materialization.files", "materialization.bytes",
    "materialization.bytes_per_row", "exec.write_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.skipped_stage_ratio",
    "spark.driver_idle_s", "spark.task_s", "spark.core_busy_ratio", "spark.gc_s",
    "spark.exchanges", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.input_bytes",
    "self.bench_s", "self.project_s", "self.materialization_s",
    "trace.job_s", "trace.overhead_ratio")

# Read from millisecond counters that often stay still for a whole job
# (a young collection every other job, a 9 ms planning phase): these are
# averaged over the traced jobs, the rest take the median.
MEAN_OVER_JOBS = ("spark.gc_s",) + tuple(f"catalyst.{p}_ms" for p in PHASES)

# the layer that owns a span, for self-time accounting
LAYERS = {"project": "project", "point_in_time": "point_in_time",
          "materialization": "materialization", "graph": "operators",
          "dedup": "operators", "pq": "operators", "clustering": "operators",
          "exec": "exec_write", "job": "bench", "setup": "bench"}


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans = []
        self._stack = []
        self._undo = []

    @contextlib.contextmanager
    def span(self, name, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        if rec["parent"] is None:
            attrs["gc_ms_start"] = self._gc_ms()
        self.spans.append(rec)
        self._stack.append(sid)
        prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
        self.sc.setLocalProperty(GROUP_KEY, f"pb{sid}")
        self.sc.setLocalProperty(DESC_KEY, name)
        try:
            yield rec
        finally:
            self.sc.setLocalProperty(GROUP_KEY, prev[0])
            self.sc.setLocalProperty(DESC_KEY, prev[1])
            self._stack.pop()
            rec["end"] = time.time()
            if rec["parent"] is None:
                attrs["gc_ms_end"] = self._gc_ms()

    def _gc_ms(self) -> int:
        """Collection time of the driver JVM so far; in local mode the
        executors run in the same JVM."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def wrap(self, owner, attr: str, name: str, frame_arg: int = None):
        """Replace ``owner.attr`` by a wrapper that opens span ``name``;
        ``frame_arg`` names the positional argument holding the frame a
        sink writes, kept for the Catalyst phase readout."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            attrs = {"frame": args[frame_arg]} if frame_arg is not None else {}
            with self.span(name, **attrs):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def install(self):
        import feathr_spark as fs
        from feathr_spark.operators import clustering, dedup, graph, point_in_time, pq
        mods = {"graph": graph, "dedup": dedup, "pq": pq, "clustering": clustering}
        for name in PROJECT_SPANS + ("project.materialize_features",):
            self.wrap(fs.FeathrProject, name.split(".")[1], name)
        self.wrap(point_in_time, "choose_pit_strategy", SKEW_SPAN)
        self.wrap(fs.GenericSink, "write", SINK_SPAN, frame_arg=1)
        for name in OPERATOR_SPANS:
            mod, fn = name.split(".")
            self.wrap(mods[mod], fn, name)

    def uninstall(self):
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def tree(self, root_id: int):
        """The span ids under ``root_id`` (inclusive), parents first."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        out, todo = [], [root_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(kids[sid])
        return out, kids

    def self_times(self, root_id: int) -> dict:
        """Self seconds per span id: duration minus the union of its
        children's intervals."""
        ids, kids = self.tree(root_id)
        out = {}
        for sid in ids:
            s = self.spans[sid]
            covered = _union_length((max(self.spans[c]["start"], s["start"]),
                                     min(self.spans[c]["end"], s["end"]))
                                    for c in kids[sid])
            out[sid] = _dur(s) - covered
        return out


def catalyst_phases_ms(frame) -> dict:
    """Catalyst analysis / optimization / planning milliseconds recorded
    by the frame's QueryExecution tracker (planning is forced here if the
    frame itself was never planned; the write plans its own copy)."""
    qe = frame._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _count_exchanges(info) -> int:
    """Shuffle Exchange nodes in a SparkPlanInfo tree, not descending
    into ReusedExchange references or cached-relation bodies."""
    name = info.get("nodeName", "")
    if name == "ReusedExchange" or name.startswith("InMemoryTableScan"):
        return 0
    return int(name == "Exchange") + sum(_count_exchanges(c) for c in info.get("children", []))


def parse_event_log(path: str) -> dict:
    """Aggregate a Spark event log by job group (= span id)."""
    jobs = {}
    stage_group = {}
    stage_stats = defaultdict(lambda: defaultdict(float))
    plans = {}
    listed_stages = defaultdict(set)
    run_stages = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get(GROUP_KEY), "start": ev["Submission Time"] / 1000,
                    "end": None, "exec": props.get("spark.sql.execution.id")}
                listed_stages[ev["Job ID"]].update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get(GROUP_KEY)
                run_stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stage_stats[ev["Stage ID"]]
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[str(ev["executionId"])] = ev["sparkPlanInfo"]
    return {"jobs": jobs, "stage_group": stage_group, "stage_stats": stage_stats,
            "exchanges": {k: _count_exchanges(v) for k, v in plans.items()},
            "listed_stages": listed_stages, "run_stages": run_stages}


def _dur(s) -> float:
    return s["end"] - s["start"]


def _union_length(intervals) -> float:
    """Total length covered by (lo, hi) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_metrics(tracer: Tracer, root_id: int, log: dict, cores: int, extra: dict) -> dict:
    """Per-layer metrics of one traced job (the span tree under root_id)."""
    ids, _ = tracer.tree(root_id)
    groups = {f"pb{i}" for i in ids}
    root = tracer.spans[root_id]
    wall = _dur(root)
    by_name = defaultdict(list)
    for i in ids:
        by_name[tracer.spans[i]["name"]].append(tracer.spans[i])

    def span_jobs(name):
        g = {f"pb{i}" for s in by_name[name] for i in tracer.tree(s["id"])[0]}
        return sum(1 for j in log["jobs"].values() if j["group"] in g)

    def under_write(s):
        while s["parent"] is not None:
            s = tracer.spans[s["parent"]]
            if s["name"] in WRITE_SPANS:
                return True
        return False

    m = {"project.build_s": sum(_dur(s) for n in PROJECT_SPANS for s in by_name[n]),
         "materialization.write_s": sum(_dur(s) for s in by_name[SINK_SPAN]),
         "materialization.files": extra.get("files", 0),
         "materialization.bytes": extra.get("bytes", 0),
         "materialization.bytes_per_row": extra.get("bytes", 0) / extra["rows"],
         "exec.write_s": sum(_dur(s) for n in WRITE_SPANS for s in by_name[n]
                             if not under_write(s))}
    for n in OPERATOR_SPANS:
        m[f"{n}.build_s"] = sum(_dur(s) for s in by_name[n])
        m[f"{n}.jobs"] = span_jobs(n)
    for p in PHASES:
        m[f"catalyst.{p}_ms"] = sum(tracer.spans[i]["attrs"].get("phases_ms", {}).get(p, 0.0)
                                   for i in ids)

    jobs = {k: j for k, j in log["jobs"].items() if j["group"] in groups}
    stages = [sid for sid, g in log["stage_group"].items() if g in groups]
    listed = set().union(*(log["listed_stages"][k] for k in jobs))
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.skipped_stage_ratio"] = (len(listed - log["run_stages"]) / len(listed)
                                      if listed else 0.0)
    busy = _union_length((max(j["start"], root["start"]), min(j["end"] or root["end"], root["end"]))
                         for j in jobs.values())
    m["spark.driver_idle_s"] = max(wall - busy, 0.0)
    m["spark.gc_s"] = (root["attrs"]["gc_ms_end"] - root["attrs"]["gc_ms_start"]) / 1000
    for key in ("tasks", "task_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "input_bytes"):
        m[f"spark.{key}"] = sum(log["stage_stats"][sid][key] for sid in stages)
    m["spark.core_busy_ratio"] = m["spark.task_s"] / (cores * wall)
    execs = {j["exec"] for j in jobs.values() if j["exec"] is not None}
    m["spark.exchanges"] = sum(log["exchanges"].get(e, 0) for e in execs)

    selfs = tracer.self_times(root_id)
    layer = defaultdict(float)
    for sid, v in selfs.items():
        layer[LAYERS[tracer.spans[sid]["name"].split(".")[0]]] += v
    for name in sorted(set(LAYERS.values())):
        m[f"self.{name}_s"] = layer[name]
    m["self_gap_s"] = abs(sum(selfs.values()) - wall)
    m["trace.job_s"] = wall
    return m


def skew_sample(tracer: Tracer, log: dict) -> tuple:
    """(seconds, Spark jobs) inside the PIT skew sample over the traced run."""
    spans = [s for s in tracer.spans if s["name"] == SKEW_SPAN]
    groups = {f"pb{i}" for s in spans for i in tracer.tree(s["id"])[0]}
    return (sum(_dur(s) for s in spans),
            sum(1 for j in log["jobs"].values() if j["group"] in groups))


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if name.endswith("bytes_per_row"):
        return "B/row"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("ratio"):
        return "ratio"
    return "count"
