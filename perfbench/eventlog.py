"""Per-layer metrics from a Spark event log.

The benchmark runs each public call's build and execute phases under
their own job group (``perfbench|<iteration>|<call>|<phase>``). This
module reads the event log the traced run wrote, attributes jobs, stages,
tasks and SQL metrics to those groups, and folds them with the spans the
benchmark recorded into one value per metric: the median over the traced
iterations.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
ROWS = "number of output rows"


def _walk(node, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk(c, out)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


class EventLog:
    def __init__(self, path: str):
        self.jobs = {}          # job id -> [group, submit ms, end ms]
        self.stage_group = {}   # stage id -> group
        self.tasks = defaultdict(list)  # stage id -> task records
        self.acc_node = {}      # accumulator id -> (plan node, metric name)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[e["Job ID"]] = [group, e["Submission Time"], None]
            for sid in e["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]][2] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            accs = {a["ID"]: _int(a.get("Update"))
                    for a in info.get("Accumulables", [])
                    if a.get("Metadata") == "sql"}
            self.tasks[e["Stage ID"]].append({
                "dur": info["Finish Time"] - info["Launch Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "sw": sw.get("Shuffle Bytes Written", 0),
                "sr": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "accs": accs,
            })
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk(e["sparkPlanInfo"], self.acc_node)

    def groups(self) -> dict:
        """group -> {jobs: [(submit, end)], tasks: {stage id: [task]}}"""
        out = defaultdict(lambda: {"jobs": [], "tasks": {}})
        for group, t0, t1 in self.jobs.values():
            if group is not None:
                out[group]["jobs"].append((t0, t1 if t1 is not None else t0))
        for sid, tasks in self.tasks.items():
            group = self.stage_group.get(sid)
            if group is not None:
                out[group]["tasks"][sid] = tasks
        return out


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals (ms) clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total / 1000.0


def _call_metrics(log: EventLog, groups: dict, spans: dict,
                  rows_out: int) -> dict:
    """Metrics of one call in one iteration; ``spans`` maps phase ->
    (t0, t1) in epoch seconds."""
    build, execute = (groups.get(p, {"jobs": [], "tasks": {}})
                      for p in ("build", "exec"))
    stages = {**build["tasks"], **execute["tasks"]}
    tasks = [t for ts in stages.values() for t in ts]
    lo = min(t0 for t0, _ in spans.values()) * 1000.0
    hi = max(t1 for _, t1 in spans.values()) * 1000.0
    wall = (hi - lo) / 1000.0
    busy = _union_s(build["jobs"] + execute["jobs"], lo, hi)

    def acc_sum(pred):
        return sum(v for t in tasks for i, v in t["accs"].items()
                   if i in log.acc_node and pred(*log.acc_node[i]) and v > 0)

    skew = 1.0
    if stages:
        slowest = max(stages.values(), key=lambda ts: max(t["dur"]
                                                          for t in ts))
        durs = [t["dur"] for t in slowest]
        skew = max(durs) / max(statistics.median(durs), 1.0)
    return {
        "build_s": spans["build"][1] - spans["build"][0],
        "build_jobs": len(build["jobs"]),
        "exec_s": spans["exec"][1] - spans["exec"][0],
        "jobs": len(execute["jobs"]),
        "task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "python_s": acc_sum(lambda n, m: m == PY_RUN) / 1000.0,
        "shuffle_write_bytes": sum(t["sw"] for t in tasks),
        "shuffle_read_bytes": sum(t["sr"] for t in tasks),
        "arrow_bytes_to_python": acc_sum(lambda n, m: m == PY_SENT),
        "arrow_bytes_from_python": acc_sum(lambda n, m: m == PY_RECEIVED),
        "driver_gap_s": max(wall - busy, 0.0),
        "task_skew": skew,
        "rows_out": rows_out,
        "join_rows": acc_sum(lambda n, m: "Join" in n and m == ROWS),
        "cogroup_rows": acc_sum(
            lambda n, m: n.startswith("FlatMapCoGroups") and m == ROWS),
    }


def per_layer(path: str, spans: list, rows_out: list) -> tuple:
    """Medians over iterations of every metric, per call and for the
    whole iteration. ``spans`` holds (iteration, call, phase, t0, t1);
    ``rows_out`` maps iteration -> call -> rows the call returned.

    Returns ``(calls, totals)``: ``calls`` maps ``<call>.<metric>`` to its
    median; ``totals`` maps ``<metric>`` to the median over iterations of
    its sum over the iteration's calls (of its maximum, for
    ``task_skew``)."""
    log = EventLog(path)
    groups = log.groups()
    by_call = defaultdict(dict)  # (iteration, call) -> phase -> (t0, t1)
    for it, call, phase, t0, t1 in spans:
        by_call[(it, call)][phase] = (t0, t1)
    samples = defaultdict(list)
    per_it = defaultdict(lambda: defaultdict(list))  # it -> metric -> values
    for (it, call), ph in by_call.items():
        g = {p: groups.get(f"perfbench|{it}|{call}|{p}",
                           {"jobs": [], "tasks": {}}) for p in ph}
        rows = rows_out.get(it, {}).get(call, 0)
        for k, v in _call_metrics(log, g, ph, rows).items():
            samples[f"{call}.{k}"].append(v)
            per_it[it][k].append(v)
    totals = defaultdict(list)
    for metrics in per_it.values():
        for k, vs in metrics.items():
            totals[k].append(max(vs) if k == "task_skew" else sum(vs))
    return ({k: statistics.median(v) for k, v in samples.items()},
            {k: statistics.median(v) for k, v in totals.items()})


def find_log(events_dir: str) -> str:
    names = [n for n in os.listdir(events_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, "
                           f"found {names}")
    return os.path.join(events_dir, names[0])
