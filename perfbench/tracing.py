"""Tracing for the benchmark's traced runs.

Spans are recorded by the benchmark itself, around each call into a
package layer's public function and around each action.  Every span sets
the Spark job group before the call, so the jobs it causes are tagged
with the span id in the event log.  Because Spark is lazy, a span around
a plan-building call measures plan construction; the work itself is in
the jobs tagged with the span of the action that ran them.

The event log is Spark's own, uncompressed, parsed with ``json`` and
rolled up span -> job -> stage (task metrics) and span -> SQL execution
-> plan node (SQL metrics)."""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field


class Tracer:
    """In-memory span recorder.  Disabled (the default) it records
    nothing and touches no Spark state, so untraced runs pay nothing."""

    def __init__(self) -> None:
        self.sc = None
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self._stack: list[int] = []
        self._next = 1

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def enable(self, sc) -> None:
        self.sc = sc

    def disable(self) -> None:
        if self.sc is not None:
            self._tag(None)
        self.sc = None

    def _tag(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{sid}", f"perfbench span {sid}")

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "layer": layer,
            "name": name,
            "parent": parent,
            "trace": self.trace_id,
            "start": time.time(),
        }
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(parent)
            self.spans.append(rec)

    def write(self, path: str, layers: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"layers": layers, "spans": sorted(self.spans, key=lambda s: s["id"])}, fh)


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: sum over its spans of duration minus the part of the
    span covered by child spans."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += (s["end"] - s["start"]) - union_s(kids[s["id"]])
    return out


@dataclass
class Stage:
    scopes: set = field(default_factory=set)
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    acc: Counter = field(default_factory=Counter)


@dataclass
class Job:
    group: str | None
    execution: int | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)


class EventLog:
    """Roll-up of the event log of one Spark application."""

    def __init__(self, directory: str) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = defaultdict(Stage)
        self.stage_job: dict[int, int] = {}
        #: accumulator id -> (plan node name, metric name)
        self.acc_meta: dict[int, tuple[str, str]] = {}
        self.driver_acc: dict[int, Counter] = defaultdict(Counter)
        self.plans: dict[int, list[dict]] = defaultdict(list)
        # one application (the traced SparkContext); its log may be
        # rolled over several files, parsed in order
        files = []
        for dirpath, _dirs, names in os.walk(directory):
            files += [os.path.join(dirpath, n) for n in names if n.startswith(("events_", "local-"))]
        files.sort(key=lambda p: [int(t) if t.isdigit() else t for t in os.path.basename(p).split("_")])
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(
                group=props.get("spark.jobGroup.id"),
                execution=int(ex) if ex is not None else None,
                start=e["Submission Time"] / 1000,
                stages=list(e["Stage IDs"]),
            )
            self.jobs[e["Job ID"]] = job
            for s in job.stages:
                self.stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            st = self.stages[e["Stage Info"]["Stage ID"]]
            for rdd in e["Stage Info"].get("RDD Info", []):
                if rdd.get("Scope"):
                    st.scopes.add(json.loads(rdd["Scope"])["name"])
        elif kind == "SparkListenerTaskEnd":
            st = self.stages[e["Stage ID"]]
            m = e.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1000
            st.gc_s += m.get("JVM GC Time", 0) / 1000
            st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    st.acc[a["ID"]] += int(a["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            plan = e["sparkPlanInfo"]
            self.plans[e["executionId"]].append(plan)
            self._plan_meta(plan)
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self.acc_meta[m["accumulatorId"]] = ("?", m["name"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc, v in e["accumUpdates"]:
                self.driver_acc[e["executionId"]][acc] += v

    def _plan_meta(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_meta[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for c in node.get("children", []):
            self._plan_meta(c)

    # -- queries -----------------------------------------------------------

    def jobs_of(self, span_ids) -> list[int]:
        groups = {f"pb-{s}" for s in span_ids}
        return [j for j, job in self.jobs.items() if job.group in groups]

    def stages_of(self, jobs) -> list[int]:
        js = set(jobs)
        return [s for s, j in self.stage_job.items() if j in js and s in self.stages]

    def stage_sum(self, stages, attr: str) -> float:
        return sum(getattr(self.stages[s], attr) for s in stages)

    def sql(self, jobs, node: str, metric: str, accs: set | None = None) -> int:
        """Sum of SQL metric ``metric`` over plan nodes whose name starts
        with ``node`` (or over the accumulator ids ``accs``), from the
        tasks of ``jobs`` and from driver-side updates of their SQL
        executions."""

        def want(acc: int) -> bool:
            if accs is not None:
                return acc in accs
            meta = self.acc_meta.get(acc)
            return meta is not None and meta[0].startswith(node) and meta[1] == metric

        total = 0
        for s in self.stages_of(jobs):
            total += sum(v for a, v in self.stages[s].acc.items() if want(a))
        for ex in {self.jobs[j].execution for j in jobs} - {None}:
            total += sum(v for a, v in self.driver_acc[ex].items() if want(a))
        return total

    def filter_above(self, jobs, leaf: str) -> set:
        """Accumulator ids of "number of output rows" on the Filter
        nearest above each ``leaf`` node in the plans of ``jobs``."""
        out: set = set()

        def walk(n: dict, filt: int | None) -> None:
            if n["nodeName"] == "Filter":
                filt = next(
                    (m["accumulatorId"] for m in n.get("metrics", []) if m["name"] == "number of output rows"),
                    filt,
                )
            elif n["nodeName"].startswith(("Exchange", "ShuffleQueryStage", "BroadcastExchange")):
                filt = None
            if n["nodeName"].startswith(leaf) and filt is not None:
                out.add(filt)
            for c in n.get("children", []):
                walk(c, filt)

        for ex in {self.jobs[j].execution for j in jobs} - {None}:
            for plan in self.plans[ex]:
                walk(plan, None)
        return out

    def job_wall(self, jobs) -> float:
        return union_s((self.jobs[j].start, self.jobs[j].end) for j in jobs)
