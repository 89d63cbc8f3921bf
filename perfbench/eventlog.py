"""Spark event-log parsing: engine counters per job description.

The traced run tags every layer call with ``setJobDescription``; Spark
copies the description into each job's properties, and each job lists
its stages and SQL execution. This module reads one uncompressed,
non-rolling event log and attributes

* task metrics from ``SparkListenerStageCompleted`` (shuffle bytes,
  spill, executor CPU, GC, stage and task counts), and
* SQL plan nodes and their metrics from the last plan Spark reported
  for each execution (``SQLExecutionStart`` or the final
  ``SQLAdaptiveExecutionUpdate``)

to the description that was set when the job ran.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_MB = 1024 * 1024


@dataclass
class EventLog:
    stage_desc: dict = field(default_factory=dict)  # stage id -> description
    exec_desc: dict = field(default_factory=dict)  # sql execution id -> description
    stages: dict = field(default_factory=dict)  # stage id -> completed stage info
    plans: dict = field(default_factory=dict)  # sql execution id -> last plan
    accums: dict = field(default_factory=dict)  # accumulator id -> last value

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                log.add(json.loads(line))
        return log

    def add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description", "")
            for sid in ev["Stage IDs"]:
                self.stage_desc[sid] = desc
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                self.exec_desc.setdefault(int(eid), desc)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[info["Stage ID"]] = info
            for acc in info.get("Accumulables", []):
                self.accums[acc["ID"]] = acc["Value"]
        elif kind in (_SQL_START, _SQL_UPDATE):
            self.plans[ev["executionId"]] = ev["sparkPlanInfo"]

    def _value(self, acc_id) -> float:
        try:
            return float(self.accums.get(acc_id, 0))
        except (TypeError, ValueError):
            return 0.0

    def task_totals(self, desc: str) -> dict:
        """Task-metric totals over the completed stages of the jobs that
        ran under ``desc``."""
        out = defaultdict(float)
        for sid, info in self.stages.items():
            if self.stage_desc.get(sid) != desc:
                continue
            if info.get("Failure Reason"):
                continue
            out["stages"] += 1
            out["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name") or ""
                if name.startswith("internal.metrics."):
                    out[name[len("internal.metrics."):]] += float(acc["Value"])
        return {
            "spark.shuffle_write_mb": out["shuffle.write.bytesWritten"] / _MB,
            "spark.shuffle_read_mb": (
                out["shuffle.read.localBytesRead"] + out["shuffle.read.remoteBytesRead"]
            ) / _MB,
            "spark.spill_mb": (out["memoryBytesSpilled"] + out["diskBytesSpilled"]) / _MB,
            "spark.executor_cpu_s": out["executorCpuTime"] / 1e9,
            "spark.gc_s": out["jvmGCTime"] / 1e3,
            "spark.stages": out["stages"],
            "spark.tasks": out["tasks"],
        }

    def nodes(self, desc: str):
        """Every distinct plan node of the executions that ran under
        ``desc``, as ``(node name, {metric name: value})``. A node seen in
        several plans (a reused stage, a cached relation) is yielded once,
        keyed by its metric accumulators."""
        seen = set()
        for eid, plan in self.plans.items():
            if self.exec_desc.get(eid) != desc:
                continue
            stack = [plan]
            while stack:
                node = stack.pop()
                stack.extend(node.get("children", []))
                metrics = node.get("metrics", [])
                key = (node["nodeName"], tuple(m["accumulatorId"] for m in metrics))
                if not metrics or key in seen:
                    continue
                seen.add(key)
                yield node["nodeName"], {
                    m["name"]: self._value(m["accumulatorId"]) for m in metrics
                }

    def plan_counts(self, desc: str) -> dict:
        names = [name for name, _ in self.nodes(desc)]
        return {
            "plan.exchanges": sum(1 for n in names if n == "Exchange"),
            "plan.arrow_eval_nodes": sum(1 for n in names if n == "ArrowEvalPython"),
        }

    def arrow_rows_in(self, desc: str) -> float:
        """Rows through the ArrowEvalPython nodes (a scalar pandas UDF
        emits one row per input row)."""
        return sum(
            m.get("number of output rows", 0.0)
            for name, m in self.nodes(desc) if name == "ArrowEvalPython"
        )

    def max_join_rows(self, desc: str) -> float:
        """The largest output-row count of any join node."""
        return max(
            (m.get("number of output rows", 0.0)
             for name, m in self.nodes(desc) if "Join" in name),
            default=0.0,
        )
