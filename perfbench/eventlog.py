"""Reader for Spark's uncompressed JSON event log.

With ``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(the UI may stay off) the log carries each job's properties, including its
job group, and each task's metrics.  :func:`read_groups` folds them into
per-job-group totals; :func:`peak_cached_bytes` reads the block updates,
logged when ``spark.eventLog.logBlockUpdates.enabled=true``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def log_files(path: str) -> list[str]:
    """The files of one application's log: ``path`` itself, or for a
    rolling (``eventlog_v2_*``) directory its ``events_<n>_*`` parts in
    order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def events(path: str):
    for part in log_files(path):
        with open(part) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def read_groups(path: str) -> dict[str | None, GroupTotals]:
    """Job group id (None when unset) -> totals of the jobs in that group
    and the tasks of the stages those jobs ran.

    A stage is charged to the first job that lists it; later jobs that list
    it again skip it (its shuffle output is reused), so its tasks ran under
    the first.  ``shuffle_bytes`` counts shuffle bytes written and
    ``spill_bytes`` the on-disk size of spills."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupTotals] = defaultdict(GroupTotals)
    for ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid)
            tot = out[group]
            tot.stages.add(sid)
            tot.tasks += 1
            m = ev.get("Task Metrics") or {}
            tot.task_s += m.get("Executor Run Time", 0) / 1e3
            tot.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            tot.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(out)



def peak_cached_bytes(path: str) -> int:
    """Largest memory + disk size the cached RDD blocks reached together."""
    blocks: dict[str, int] = {}
    total = peak = 0
    for ev in events(path):
        if ev.get("Event") != "SparkListenerBlockUpdated":
            continue
        info = ev["Block Updated Info"]
        block = info["Block ID"]
        if not block.startswith("rdd_"):
            continue
        size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
        total += size - blocks.get(block, 0)
        blocks[block] = size
        peak = max(peak, total)
    return peak
