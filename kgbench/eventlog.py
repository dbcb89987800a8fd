"""Stage metrics per job group, read from Spark's own JSON event log.

Standard library only.  The session must write an uncompressed, non-rolling
log (``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``); a rolling log directory of plain files is read too.  Read the log
after ``SparkContext.stop()``, which flushes it.

A job's group is the ``spark.jobGroup.id`` property set by
``SparkContext.setJobGroup``; stages belong to the group of the job that
submitted them, and task metrics are summed per stage.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

KERNEL_OPERATOR = "MapInArrow"


@dataclass
class GroupMetrics:
    jobs: int = 0
    kernel_stages: int = 0       # stages running the MapInArrow operator
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    memory_spill_bytes: int = 0
    disk_spill_bytes: int = 0
    executor_cpu_ns: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    stage_ids: set[int] = field(default_factory=set)  # stages that ran

    @property
    def stages(self) -> int:
        return len(self.stage_ids)

    @property
    def executor_cpu_s(self) -> float:
        return self.executor_cpu_ns / 1e9

    @property
    def executor_run_s(self) -> float:
        return self.executor_run_ms / 1e3

    @property
    def gc_s(self) -> float:
        return self.gc_ms / 1e3


def _log_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("*") if p.is_file() and not p.name.startswith("."))


def read_events(path: str | Path):
    """Yield every event (a dict) of the log file or log directory."""
    for f in _log_files(Path(path)):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _is_kernel_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope and KERNEL_OPERATOR in json.loads(scope).get("name", ""):
            return True
    return False


def rollup(path: str | Path) -> dict[str | None, GroupMetrics]:
    """{job group (None for ungrouped jobs): metrics}."""
    groups: dict[str | None, GroupMetrics] = {}
    stage_group: dict[int, str | None] = {}
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            m = groups.setdefault(g, GroupMetrics())
            m.jobs += 1
            for s in ev.get("Stage IDs", []):
                stage_group.setdefault(s, g)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            m = groups.setdefault(stage_group.get(sid), GroupMetrics())
            if sid not in m.stage_ids:  # a retried attempt counts once
                m.stage_ids.add(sid)
                m.kernel_stages += _is_kernel_stage(info)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            m = groups.setdefault(stage_group.get(ev["Stage ID"]), GroupMetrics())
            m.tasks += 1
            sr = tm.get("Shuffle Read Metrics", {})
            m.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m.memory_spill_bytes += tm.get("Memory Bytes Spilled", 0)
            m.disk_spill_bytes += tm.get("Disk Bytes Spilled", 0)
            m.executor_cpu_ns += tm.get("Executor CPU Time", 0)
            m.executor_run_ms += tm.get("Executor Run Time", 0)
            m.gc_ms += tm.get("JVM GC Time", 0)
    return groups

