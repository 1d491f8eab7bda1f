"""Tracing for the ``--trace 1`` run, entirely from the benchmark's side.

1. ``Tracer.install`` wraps the public functions of the layer modules
   that ``main.run_pipeline`` calls.  Each wrapper records a span (name,
   wall-clock start/end, parent span) and sets the Spark job description
   to the span name, so the Spark jobs and SQL executions it triggers
   carry the layer's name.
2. ``EventLog`` reads Spark's own event log (written outside the
   checkout) and attributes operator metrics (MapInArrow Python time and
   bytes, exchange and write metrics, spills, task counts, job
   intervals) to those names.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import json
import os
import statistics
import time

# (module, attribute, span name): the layer entry points run_pipeline
# reaches.  Functions imported into main are wrapped where main looks
# them up; grain_counts is imported inside run_pipeline, so it is
# wrapped in its own module.  _input_bytes is main's own input listing,
# ~3 s of a cold run.
TARGETS = [
    ("logparse_spark.main", "_input_bytes", "main.input_bytes"),
    ("logparse_spark.main", "resolve_n_buckets", "main.resolve_n_buckets"),
    ("logparse_spark.main", "with_bucket", "route.with_bucket"),
    ("logparse_spark.main", "parse_sequences", "engine.parse_sequences"),
    ("logparse_spark.main", "nodes_dim", "datagen.nodes_dim"),
    ("logparse_spark.main", "rules_dim", "enrich.rules_dim"),
    ("logparse_spark.main", "enrich", "enrich.enrich"),
    ("logparse_spark.main", "observed", "manifests.observed"),
    ("logparse_spark.main", "route", "route.call"),
    ("logparse_spark.main", "write_metrics", "aggregate.write_metrics"),
    ("logparse_spark.main", "write_manifests", "manifests.write"),
    ("logparse_spark.main", "partition_manifests", "manifests.partition_manifests"),
    ("logparse_spark.operators.aggregate", "grain_counts", "aggregate.grain_counts"),
]
LEDGER_METHODS = [("pending", "ledger.pending"), ("commit", "ledger.commit")]


class Tracer:
    """Spans kept in memory; read them after the traced iterations."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.missing: list[str] = []  # targets the program no longer has
        self._stack: list[int] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span; Spark jobs started inside carry `name` as their
        job description."""
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        import importlib

        from logparse_spark.ledger import Ledger

        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr, None)
            if orig is None:
                self.missing.append(f"{mod_name}.{attr}")
                continue
            setattr(mod, attr, self._wrap(orig, name))
            self._undo.append((mod, attr, orig))
        for attr, name in LEDGER_METHODS:
            orig = getattr(Ledger, attr)
            wrapped = self._wrap(orig, name)
            if attr == "pending":
                wrapped = self._pending_with_collect(wrapped)
            setattr(Ledger, attr, wrapped)
            self._undo.append((Ledger, attr, orig))

    def _pending_with_collect(self, pending):
        """run_pipeline collects pending()'s frame itself; time that
        collect too, as span ``ledger.pending.collect``."""
        tracer = self

        @functools.wraps(pending)
        def wrapper(*args, **kwargs):
            df = pending(*args, **kwargs)
            collect = df.collect

            def timed_collect():
                with tracer.span("ledger.pending.collect") as sp:
                    rows = collect()
                    sp["rows"] = len(rows)
                return rows

            df.collect = timed_collect
            return df
        return wrapper

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)


def span_summary(spans: list[dict], root_idx: int) -> dict:
    """Durations by span name inside the root span, and the share of the
    root's wall time its direct children cover."""
    root = spans[root_idx]
    wall = root["end"] - root["start"]
    by_name: dict[str, float] = collections.defaultdict(float)
    children = 0.0
    inside = {root_idx}
    extra: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s["parent"] in inside:
            inside.add(i)
            d = s["end"] - s["start"]
            by_name[s["name"]] += d
            if s["parent"] == root_idx:
                children += d
            if "rows" in s:
                extra[s["name"] + ".rows"] = s["rows"]
    return {"wall": wall, "by_name": dict(by_name), "coverage": children / wall,
            **extra}


def _number(v) -> float | None:
    """Accumulator values are logged as numbers or as decimal strings."""
    if isinstance(v, (int, float)):
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


class EventLog:
    """Operator and task metrics from one Spark event log file."""

    def __init__(self, events_dir: str):
        files = [f for f in glob.glob(os.path.join(events_dir, "*"))
                 if not os.path.basename(f).startswith(".")]
        if len(files) != 1:
            raise ValueError(f"expected one event log in {events_dir}, found {files}")
        self.execs: dict[int, dict] = {}
        self.accs: dict[int, tuple[int, str, str, str]] = {}  # id -> (exec, node, metric, type)
        self.acc_sum: dict[int, float] = collections.defaultdict(float)
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, eid: int, info: dict) -> None:
        nodes = []
        stack = [info]
        while stack:
            n = stack.pop()
            nodes.append(n["nodeName"])
            for m in n.get("metrics", []):
                self.accs[m["accumulatorId"]] = (eid, n["nodeName"], m["name"], m["metricType"])
            stack.extend(n.get("children", []))
        self.execs[eid]["nodes"] = nodes

    def _event(self, ev: dict) -> None:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            eid = ev["executionId"]
            self.execs[eid] = {"desc": ev.get("description", ""), "start": ev["time"] / 1e3}
            self._plan(eid, ev["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            if ev["executionId"] in self.execs:
                self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                self.acc_sum[acc_id] += _number(value) or 0
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1e3, "end": None,
                "exec": int(eid) if eid is not None else None,
                "desc": props.get("spark.job.description"),
            }
            for sid in ev["Stage IDs"]:
                self.stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            accs: dict[str, float] = collections.defaultdict(float)
            for acc in info.get("Accumulables", []):
                v = _number(acc.get("Update"))
                if v is None:
                    continue
                self.acc_sum[acc["ID"]] += v
                if not str(acc.get("Name", "")).startswith("internal."):
                    accs[acc["Name"]] += v
            self.tasks.append({
                "stage": ev["Stage ID"],
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                "spill": tm.get("Disk Bytes Spilled", 0),
                "accs": accs,
            })

    # --- queries over a time window [t0, t1] (wall-clock seconds) --------

    def exec_ids(self, t0: float, t1: float, desc: str | None = None) -> list[int]:
        return [e for e, x in self.execs.items()
                if t0 <= x["start"] <= t1 and (desc is None or x["desc"] == desc)]

    def plan_metric(self, eids: list[int], node_sub: str, name: str) -> float:
        """Sum of one SQL metric over plan nodes whose name contains
        `node_sub`, in seconds for timings, raw otherwise."""
        eids = set(eids)
        total = 0.0
        for acc_id, (eid, node, mname, mtype) in self.accs.items():
            if eid in eids and node_sub in node and mname == name:
                v = self.acc_sum.get(acc_id, 0)
                total += v / 1e9 if mtype == "nsTiming" else (
                    v / 1e3 if mtype == "timing" else v)
        return total

    def task_metric(self, eids: list[int], name: str, scale: float = 1.0) -> float:
        """Sum of one SQL metric, by name, over the tasks of the jobs of
        `eids`, times `scale`.  Unlike plan_metric this also sees
        operators inside a cached relation, whose plan the execution
        events do not describe."""
        return scale * sum(t["accs"].get(name, 0.0)
                           for ts in self.stage_tasks(eids).values() for t in ts)

    def node_count(self, eids: list[int], names: tuple[str, ...]) -> int:
        return sum(1 for e in eids for n in self.execs[e]["nodes"] if n in names)

    def stage_tasks(self, eids: list[int]) -> dict[int, list[dict]]:
        jobs = {j for j, x in self.jobs.items() if x["exec"] in set(eids)}
        by_stage: dict[int, list[dict]] = collections.defaultdict(list)
        for t in self.tasks:
            if self.stage_job.get(t["stage"]) in jobs:
                by_stage[t["stage"]].append(t)
        return by_stage

    def busy_s(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which at least one job ran."""
        ivs = sorted((max(t0, x["start"]), min(t1, x["end"] or t1))
                     for x in self.jobs.values()
                     if x["start"] < t1 and (x["end"] or t1) > t0)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def layer_metrics(log: EventLog, summary: dict, t0: float, t1: float) -> dict:
    """Per-layer numbers of one traced run_pipeline call."""
    by = summary["by_name"]
    all_ids = log.exec_ids(t0, t1)
    route_ids = log.exec_ids(t0, t1, "route.call")
    stages = log.stage_tasks(route_ids)
    # the write runs in the last stage of the route execution
    write = stages[max(stages)] if stages else []
    durs = sorted(t["dur"] for t in write)
    med = statistics.median(durs) if durs else 0.0
    return {
        # the pipeline's only Python operator is the MapInArrow parse
        "engine.python_s": log.task_metric(all_ids, "time to run Python workers", 1e-3),
        "engine.bytes_to_python": log.task_metric(all_ids, "data sent to Python workers"),
        "engine.bytes_from_python": log.task_metric(all_ids, "data returned from Python workers"),
        "route.call_s": by.get("route.call", 0.0),
        "route.shuffle_bytes": log.task_metric(route_ids, "shuffle bytes written"),
        "route.shuffle_write_s": log.task_metric(route_ids, "shuffle write time", 1e-9),
        "route.task_commit_s": log.task_metric(route_ids, "task commit time", 1e-3),
        "route.job_commit_s": log.plan_metric(route_ids, "", "job commit time"),
        "route.write_tasks": len(write),
        "route.write_task_skew": (durs[-1] / med) if med > 0 else 0.0,
        "route.spill_bytes": sum(t["spill"] for ts in stages.values() for t in ts),
        "enrich.broadcast_joins": log.node_count(route_ids, ("BroadcastHashJoin",)),
        "enrich.shuffle_joins": log.node_count(
            route_ids, ("SortMergeJoin", "ShuffledHashJoin")),
        "ledger.pending_s": by.get("ledger.pending", 0.0) + by.get("ledger.pending.collect", 0.0),
        "ledger.pending_partitions": summary.get("ledger.pending.collect.rows", 0),
        "ledger.commit_s": by.get("ledger.commit", 0.0),
        "aggregate.write_metrics_s": by.get("aggregate.write_metrics", 0.0),
        "manifests.write_s": by.get("manifests.write", 0.0),
        "main.driver_idle_s": (t1 - t0) - log.busy_s(t0, t1),
        "trace.coverage_frac": summary["coverage"],
    }
