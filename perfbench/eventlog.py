"""Spark event-log reader: per-job-group stage, task, shuffle, spill and GC
totals.

The traced run turns on ``spark.eventLog.enabled`` and wraps every layer
call in ``sc.setJobGroup("<workload>:<module>.<fn>")``.  Each stage carries
its job group in the properties of its ``SparkListenerStageSubmitted``
record, so every task record can be charged to the span that launched it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    input_records: int = 0
    output_bytes: int = 0
    # stage id -> task durations (s), for the skew figure
    task_times: dict[int, list[float]] = field(default_factory=dict)

    @property
    def task_skew(self) -> float:
        """max / median task time of the stage that took the most task time
        (1.0 when the group ran no multi-task stage)."""
        stages = [ts for ts in self.task_times.values() if len(ts) > 1]
        if not stages:
            return 1.0
        heaviest = max(stages, key=sum)
        med = statistics.median(heaviest)
        return max(heaviest) / med if med > 0 else 1.0


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Parse every (uncompressed, non-rolling) event log under ``log_dir``
    and return job group -> totals.  Work outside any group is charged to
    the group ``""``."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = _group_of(ev.get("Properties")) or ""
                    groups.setdefault(g, GroupStats()).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = _group_of(ev.get("Properties")) or ""
                    stage_group[sid] = g
                    groups.setdefault(g, GroupStats()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    _add_task(groups, stage_group, ev)
    return groups


def _add_task(groups: dict[str, GroupStats], stage_group: dict[int, str], ev: dict) -> None:
    sid = ev["Stage ID"]
    st = groups.setdefault(stage_group.get(sid, ""), GroupStats())
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    if info.get("Finish Time") and info.get("Launch Time"):
        dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
        st.task_times.setdefault(sid, []).append(dur)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
    st.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
