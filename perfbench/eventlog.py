"""Spark event-log parser: per-layer counts for the jobs of chosen job groups.

The traced run gives every op phase its own job group (``pb:<op>:<phase>``)
and turns Spark's event log on. After the run this module reads the log
(one JSON event per line) and sums, over the jobs whose group passes a
filter:

- task metrics (run time, CPU, GC, shuffle, spill, scan and result bytes);
- SQL metrics, named by the plan node that owns them (aggregation build,
  sort, hash-join build, broadcast build, Python UDF time and bytes,
  written files and bytes).

SQL metrics reach the log two ways: executor-side ones as stage
accumulables, driver-side ones (broadcast build, written files) as
``SparkListenerDriverAccumUpdates``. Both are keyed by accumulator id, and
the plan trees in ``SparkListenerSQLExecutionStart`` and its adaptive
updates say which node and metric each id belongs to.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Callable, Iterable

_SQL = "org.apache.spark.sql.execution.ui."

#: (node-name prefix, metric display name) -> layer metric key. A node
#: prefix of "" matches any node.
SQL_METRICS: dict[tuple[str, str], str] = {
    ("HashAggregate", "time in aggregation build"): "agg_build",
    ("ObjectHashAggregate", "time in aggregation build"): "agg_build",
    ("Sort", "sort time"): "sort",
    ("ShuffledHashJoin", "time to build hash map"): "join_build",
    ("BroadcastExchange", "time to build"): "broadcast_build",
    ("", "time to run Python workers"): "python",
    ("", "time to start Python workers"): "python_boot",
    ("", "time to initialize Python workers"): "python_init",
    ("", "data sent to Python workers"): "python_sent",
    ("", "data returned from Python workers"): "python_recv",
    ("", "number of written files"): "write_files",
    ("", "written output"): "write_bytes",
}

#: node names of Python evaluation operators; their "number of output
#: rows" is the rows the Python workers returned
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "WindowInPandas",
    "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
)


def _metric_key(node: str, name: str) -> str | None:
    for (prefix, metric), key in SQL_METRICS.items():
        if metric == name and node.startswith(prefix):
            return key
    if name == "number of output rows" and node.startswith(PYTHON_NODES):
        return "python_rows_out"
    return None


def _walk_plan(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (node, m["name"], m.get("metricType", "sum"))
    for child in info.get("children", ()):
        _walk_plan(child, out)


def _scaled(value: float, metric_type: str) -> float:
    """SQL metric value in base units: seconds for timings, bytes for
    sizes, plain counts otherwise."""
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return value


class EventLog:
    """Parsed event log of one Spark application."""

    def __init__(self, lines: Iterable[str]):
        self.job_group: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.job_execution: dict[int, int | None] = {}
        self.stage_tasks: dict[int, int] = {}
        self.stage_accums: dict[int, list[tuple[int, float]]] = defaultdict(list)
        self.task_metrics: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.driver_accums: dict[int, list[tuple[int, float]]] = defaultdict(list)
        self.accum_info: dict[int, tuple[str, str, str]] = {}
        for line in lines:
            line = line.strip()
            if line:
                self._event(json.loads(line))

    @classmethod
    def from_file(cls, path: str) -> "EventLog":
        with open(path) as fh:
            return cls(fh)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id")
            self.job_stages[jid] = list(ev.get("Stage IDs", ()))
            eid = props.get("spark.sql.execution.id")
            self.job_execution[jid] = int(eid) if eid not in (None, "") else None
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            self.stage_tasks[sid] = self.stage_tasks.get(sid, 0) + info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", ()):
                try:
                    self.stage_accums[sid].append((acc["ID"], float(acc["Value"])))
                except (KeyError, TypeError, ValueError):
                    continue  # non-numeric accumulables (e.g. collections)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            acc = self.task_metrics[ev["Stage ID"]]
            acc["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            acc["result_bytes"] += tm.get("Result Size", 0)
            acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            im = tm.get("Input Metrics") or {}
            acc["scan_bytes"] += im.get("Bytes Read", 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo") or {}, self.accum_info)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            eid = ev.get("executionId")
            for acc_id, value in ev.get("accumUpdates", ()):
                self.driver_accums[eid].append((acc_id, float(value)))

    def totals(self, keep: Callable[[str | None], bool]) -> dict[str, float]:
        """Sum every recorded quantity over the jobs whose group ``keep``
        accepts. Keys: ``jobs``, ``stages``, ``tasks``, the task-metric
        keys, and the SQL metric keys of :data:`SQL_METRICS` (seconds,
        bytes or counts)."""
        out: dict[str, float] = defaultdict(float)
        stages: set[int] = set()
        executions: set[int] = set()
        for jid, group in self.job_group.items():
            if not keep(group):
                continue
            out["jobs"] += 1
            stages.update(self.job_stages.get(jid, ()))
            if self.job_execution.get(jid) is not None:
                executions.add(self.job_execution[jid])
        accums: list[tuple[int, float]] = []
        for sid in stages:
            if sid not in self.stage_tasks:
                continue  # skipped stage: its map output was reused
            out["stages"] += 1
            out["tasks"] += self.stage_tasks[sid]
            for k, v in self.task_metrics.get(sid, {}).items():
                out[k] += v
            accums.extend(self.stage_accums.get(sid, ()))
        for eid in executions:
            accums.extend(self.driver_accums.get(eid, ()))
        for acc_id, value in accums:
            info = self.accum_info.get(acc_id)
            if info is None:
                continue
            key = _metric_key(info[0], info[1])
            if key is not None:
                out[key] += _scaled(value, info[2])
        return dict(out)

    def group_jobs(self, keep: Callable[[str | None], bool]) -> dict[str, int]:
        """Job count per job group accepted by ``keep``."""
        out: dict[str, int] = defaultdict(int)
        for group in self.job_group.values():
            if keep(group):
                out[group] += 1
        return dict(out)
