"""Per-job-group totals from a Spark event log.

The traced run turns on Spark's own event log (uncompressed, one JSON
object per line) and tags every operation with ``setJobGroup`` before its
builder runs. This module folds the log into one :class:`GroupStats` per
job group: the wall-clock interval of every job, and the stage and task
totals that the executor reported for them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (start, end) s
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse(lines) -> dict[str, GroupStats]:
    """Fold event-log ``lines`` (JSON strings) into stats per job group.

    Jobs without a group are filed under ``""``. A job still open when the
    log ends is dropped: its interval is unknown.
    """
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                stats = groups.setdefault(job_group[jid], GroupStats())
                stats.jobs.append((job_start.pop(jid), ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups.setdefault(stage_group.get(sid, ""), GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            stats = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats())
            stats.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                stats.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            stats.run_s += m.get("Executor Run Time", 0) / 1000.0
            stats.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            stats.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            stats.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            stats.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            stats.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return groups
