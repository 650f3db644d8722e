"""Spark event-log parser: per-tag job, stage and task accounting.

Jobs carry the ``setJobDescription`` tag the recorder set
(``<pass>|<layer>:<name>``); stages and tasks are attributed to the tag
of the job that ran them. The log must be written uncompressed
(``spark.eventLog.compress=false``) and unrolled
(``spark.eventLog.rolling.enabled=false``), so it is one JSON-lines
file.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class TagStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_s: float = 0.0
    scan_rows: int = 0
    # stage id -> task run times (s), for the skew ratio
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """Max over median task time in the stage with the most run time."""
        if not self.stage_tasks:
            return 0.0
        times = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def parse(log_dir: str) -> dict[str, TagStats]:
    """Stats keyed by job description tag (untagged jobs under '')."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log file in {log_dir}, got {files}")
    stage_tag: dict[int, str] = {}
    stats: dict[str, TagStats] = defaultdict(TagStats)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get("spark.job.description") or ""
                stats[tag].jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_tag[sid] = tag
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stats[stage_tag.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stats[stage_tag.get(sid, "")]
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1e3
                st.tasks += 1
                st.executor_run_s += run_s
                st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                read = (m.get("Input Metrics") or {}).get("Records Read", 0)
                if read:
                    # Row-based file scans (CSV, JSON) carry no scan-time
                    # SQL metric: count the run time of the reading tasks.
                    st.scan_s += run_s
                    st.scan_rows += read
                st.stage_tasks[sid].append(run_s)
    return stats


def merge(parts: list[TagStats]) -> TagStats:
    out = TagStats()
    for p in parts:
        for k, v in p.__dict__.items():
            if k == "stage_tasks":
                for sid, times in v.items():
                    out.stage_tasks[sid].extend(times)
            else:
                setattr(out, k, getattr(out, k) + v)
    return out
