"""Reader for Spark's uncompressed JSON event log.

The benchmark enables the log through session conf (``spark.eventLog.*``)
in its own process and through ``PYSPARK_SUBMIT_ARGS`` for the CLI
subprocess.  Jobs run one at a time, so a layer call is attributed the jobs
submitted between its start and end (epoch ms); the job group set around
each call labels the same jobs for anyone reading the log by hand.

From the jobs of a window the reader sums task metrics (executor CPU, GC,
spill, shuffle bytes, per-stage task-time skew) and the SQL metrics of the
plan nodes those jobs ran (Python worker time and Arrow bytes of each
``MapInPandas`` / ``ArrowEvalPython`` node).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_PY_NODES = ("MapInPandas", "ArrowEvalPython", "MapInArrow", "FlatMapGroupsInPandas")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def load(log_dir: str) -> list:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if os.path.isfile(path) and not name.startswith("appstatus"):
            with open(path, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _metric_scale(metric_type: str) -> float:
    # SQL timing metrics are recorded in ms ("timing") or ns ("nsTiming")
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(metric_type, 1.0)


class EventLog:
    def __init__(self, events: list):
        self.jobs = {}         # job id -> (submit ms, execution id, stage ids)
        self.stage_tasks = {}  # stage id -> [task end event]
        self.accum = {}        # accumulator id -> summed task updates
        self.plans = {}        # execution id -> latest plan info
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = (e["Submission Time"],
                                          None if ex is None else int(ex),
                                          e["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(e["Stage ID"], []).append(e)
                for acc in e["Task Info"].get("Accumulables", ()):
                    try:
                        upd = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0.0) + upd
            elif kind in (_SQL_START, _SQL_AQE):
                self.plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
                for acc_id, val in e["accumUpdates"]:
                    self.accum[acc_id] = self.accum.get(acc_id, 0.0) + float(val)

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        return cls(load(log_dir))

    def window(self, t0: float | None = None, t1: float | None = None) -> "Window":
        """Jobs submitted in [t0, t1] (epoch seconds); all jobs if None."""
        lo = -1 if t0 is None else t0 * 1000
        hi = float("inf") if t1 is None else t1 * 1000
        return Window(self, [j for j, (ts, _, _) in self.jobs.items() if lo <= ts <= hi])


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class Window:
    def __init__(self, log: EventLog, job_ids: list):
        self.log = log
        self.job_ids = job_ids
        self.stages = sorted({s for j in job_ids for s in log.jobs[j][2]})
        self.executions = sorted({log.jobs[j][1] for j in job_ids
                                  if log.jobs[j][1] is not None})

    def tasks(self):
        for s in self.stages:
            yield from self.log.stage_tasks.get(s, ())

    def task_sum(self, *path) -> float:
        total = 0.0
        for t in self.tasks():
            v = t.get("Task Metrics") or {}
            for key in path:
                v = v.get(key, {}) if isinstance(v, dict) else {}
            total += v if isinstance(v, (int, float)) else 0
        return total

    def nodes(self, names=None):
        """Plan nodes of this window's SQL executions (deduplicated by
        their accumulators, so a node re-planned by AQE counts once)."""
        seen = set()
        for ex in self.executions:
            plan = self.log.plans.get(ex)
            if plan is None:
                continue
            for node in _walk(plan):
                if names and node["nodeName"] not in names:
                    continue
                key = tuple(sorted(m["accumulatorId"] for m in node["metrics"]))
                if key in seen:
                    continue
                seen.add(key)
                yield node

    def node_metric(self, node, name: str) -> float:
        for m in node["metrics"]:
            if m["name"] == name:
                return self.log.accum.get(m["accumulatorId"], 0.0) * _metric_scale(
                    m.get("metricType", "sum"))
        return 0.0

    def python(self, kind: str | None = None) -> dict:
        """Python-node totals: worker run/boot seconds and Arrow bytes.
        ``kind`` = "triples" keeps nodes that emit triples (the fused
        path), "annotate" keeps the others."""
        out = {"run_s": 0.0, "boot_s": 0.0, "bytes_in": 0.0, "bytes_out": 0.0,
               "nodes": 0}
        for node in self.nodes(_PY_NODES):
            if self.node_metric(node, "number of output rows") <= 0:
                continue  # planned but never executed (e.g. read from cache)
            is_triples = "subj#" in node["simpleString"]
            if kind == "triples" and not is_triples:
                continue
            if kind == "annotate" and (is_triples or node["nodeName"] != "MapInPandas"):
                continue
            out["nodes"] += 1
            out["run_s"] += self.node_metric(node, "time to run Python workers")
            out["boot_s"] += (self.node_metric(node, "time to start Python workers")
                              + self.node_metric(node, "time to initialize Python workers"))
            out["bytes_in"] += self.node_metric(node, "data sent to Python workers")
            out["bytes_out"] += self.node_metric(node, "data returned from Python workers")
        return out

    def spark_totals(self) -> dict:
        skews = []
        for s in self.stages:
            times = [t["Task Metrics"]["Executor Run Time"]
                     for t in self.log.stage_tasks.get(s, ()) if t.get("Task Metrics")]
            if len(times) >= 2 and statistics.median(times) > 0:
                skews.append(max(times) / statistics.median(times))
        return {
            "executor_cpu_s": self.task_sum("Executor CPU Time") / 1e9,
            "gc_s": self.task_sum("JVM GC Time") / 1e3,
            "spill_bytes": self.task_sum("Memory Bytes Spilled")
            + self.task_sum("Disk Bytes Spilled"),
            "shuffle_bytes": self.task_sum("Shuffle Write Metrics", "Shuffle Bytes Written"),
            "task_skew": max(skews) if skews else 1.0,
        }
