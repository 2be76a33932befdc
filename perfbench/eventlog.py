"""Spark event-log reader: per-action stage metrics attributed by job group.

The traced run sets a job group around every call into a layer
(``SparkContext.setJobGroup``). Spark copies it into the properties of
each job the call submits, including the extra jobs adaptive execution
submits for its query stages, so the log alone says which layer every
task belongs to. One call can run several actions (``run_extract``
writes the output, then appends the manifest); each action is one SQL
execution, so within a group actions are ordered by execution id.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Action:
    """One SQL execution: its wall interval and the tasks of its jobs."""

    start_ms: float = 0.0
    end_ms: float = 0.0
    tasks: list = field(default_factory=list)  # (stage id, duration ms, metrics)

    def total(self, *path: str) -> float:
        out = 0.0
        for _, _, m in self.tasks:
            for key in path[:-1]:
                m = m.get(key) or {}
            out += m.get(path[-1], 0) or 0
        return out

    def stats(self, cores: int) -> dict:
        """Executor run/CPU/GC time, shuffle and spill bytes, task count and
        the share of slot time no task used over the action's wall."""
        busy_ms = sum(d for _, d, _ in self.tasks)
        wall_ms = self.end_ms - self.start_ms
        return {
            "run_s": self.total("Executor Run Time") / 1e3,
            "cpu_s": self.total("Executor CPU Time") / 1e9,
            "gc_s": self.total("JVM GC Time") / 1e3,
            "shuffle_read_bytes": self.total("Shuffle Read Metrics", "Remote Bytes Read")
            + self.total("Shuffle Read Metrics", "Local Bytes Read"),
            "shuffle_write_bytes": self.total("Shuffle Write Metrics", "Shuffle Bytes Written"),
            "spill_bytes": self.total("Memory Bytes Spilled") + self.total("Disk Bytes Spilled"),
            "tasks": len(self.tasks),
            "slot_idle_frac": 1.0 - busy_ms / (cores * wall_ms) if wall_ms > 0 else 0.0,
        }

    def task_max_over_median(self) -> float:
        """Straggler ratio of the action's last stage (post-shuffle work)."""
        if not self.tasks:
            return 0.0
        last = max(sid for sid, _, _ in self.tasks)
        times = [d for sid, d, _ in self.tasks if sid == last]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0


class EventLog:
    """SQL executions of a finished application, grouped by job group."""

    def __init__(self, paths: list[str]):
        execs: dict[int, Action] = {}
        exec_group: dict[int, str] = {}
        stage_exec: dict[int, int] = {}
        for ev in _events(paths):
            kind = ev.get("Event")
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                execs.setdefault(ev["executionId"], Action()).start_ms = ev["time"]
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                execs.setdefault(ev["executionId"], Action()).end_ms = ev["time"]
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group, eid = props.get("spark.jobGroup.id"), props.get("spark.sql.execution.id")
                if group is None or eid is None:
                    continue
                exec_group[int(eid)] = group
                for sid in ev.get("Stage IDs", []):
                    stage_exec[sid] = int(eid)
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_exec:
                info = ev.get("Task Info") or {}
                execs.setdefault(stage_exec[ev["Stage ID"]], Action()).tasks.append(
                    (ev["Stage ID"], info.get("Finish Time", 0) - info.get("Launch Time", 0),
                     ev.get("Task Metrics") or {}))
        self.groups: dict[str, list[Action]] = {}
        for eid in sorted(exec_group):
            self.groups.setdefault(exec_group[eid], []).append(execs[eid])

    def actions(self, group: str) -> list[Action]:
        """The SQL executions that ran under ``group``, in order."""
        return self.groups.get(group, [])


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def find_log(event_dir: str) -> list[str]:
    """The event files of the one finished application in ``event_dir``:
    a single file, or the numbered parts of a rolling (v2) log."""
    apps = [p for p in glob.glob(os.path.join(event_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {apps}")
    if not os.path.isdir(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
