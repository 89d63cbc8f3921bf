"""Event-log attribution on a hand-made log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import EventLog  # noqa: E402

SQL = "org.apache.spark.sql.execution.ui."


def _node(name, metrics=(), children=()):
    return {"nodeName": name, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i, "metricType": "sum"}
                        for n, i in metrics]}


def _stage(sid, tasks, accs):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": tasks,
        "Accumulables": [{"ID": 1000 + i, "Name": n, "Value": v}
                         for i, (n, v) in enumerate(accs)]}}


def _log():
    exchange = _node("Exchange", [("shuffle records written", 1)])
    arrow = _node("ArrowEvalPython", [("number of output rows", 2)], [exchange])
    join = _node("BroadcastHashJoin", [("number of output rows", 3)], [arrow])
    # the same exchange seen again through a reused stage is one node
    plan = _node("AdaptiveSparkPlan", children=[
        join, _node("ShuffleQueryStage", children=[exchange])])
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "scoring",
                        "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.job.description": "other",
                        "spark.sql.execution.id": "8"}},
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": _node("AdaptiveSparkPlan")},
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": plan},
        _stage(0, 4, [("internal.metrics.shuffle.write.bytesWritten", 2 * 1024 * 1024),
                      ("internal.metrics.executorCpuTime", 3e9),
                      ("number of output rows", 0)]),
        _stage(1, 2, [("internal.metrics.jvmGCTime", 500)]),
        _stage(2, 8, [("internal.metrics.executorCpuTime", 9e9)]),
    ]
    log = EventLog()
    for ev in events:
        log.add(ev)
    log.accums.update({1: 40, 2: 123, 3: 999})
    return log


def test_task_totals_are_per_description():
    t = _log().task_totals("scoring")
    assert t["spark.stages"] == 2 and t["spark.tasks"] == 6
    assert t["spark.shuffle_write_mb"] == 2.0
    assert t["spark.executor_cpu_s"] == 3.0
    assert t["spark.gc_s"] == 0.5


def test_plan_nodes_use_the_last_plan_once_each():
    log = _log()
    assert log.plan_counts("scoring") == {"plan.exchanges": 1,
                                          "plan.arrow_eval_nodes": 1}
    assert log.arrow_rows_in("scoring") == 123
    assert log.max_join_rows("scoring") == 999
    assert log.plan_counts("other") == {"plan.exchanges": 0,
                                        "plan.arrow_eval_nodes": 0}
