"""Task metrics per job group from an uncompressed Spark event log.

Each ``SparkListenerJobStart`` names its job group (``spark.jobGroup.id``,
set with ``SparkContext.setJobGroup``) and its stage IDs; each
``SparkListenerTaskEnd`` carries its stage ID and task metrics. Jobs run one
at a time here, so a stage's tasks belong to the group of the latest job
that listed the stage.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, fields

MB = 2**20


@dataclass
class Group:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # tasks of the final stage of the group's last job: the parallelism at
    # which the group's result rows were produced
    final_stage_tasks: int = 0

    def _combine(self, other: Group, sign: int) -> Group:
        # final_stage_tasks belongs to one group and does not add up
        return Group(**{f.name: getattr(self, f.name) + sign * getattr(other, f.name)
                        for f in fields(self) if f.name != "final_stage_tasks"})

    def __add__(self, other: Group) -> Group:
        return self._combine(other, 1)

    def __sub__(self, other: Group) -> Group:
        return self._combine(other, -1)


def parse(lines) -> dict[str | None, Group]:
    """Job-group id (None for untagged jobs) -> summed task metrics."""
    stage_group: dict[int, str | None] = {}
    stage_tasks: dict[int, int] = {}
    final_stage: dict[str | None, int] = {}  # of each group's last job
    groups: dict[str | None, Group] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups.setdefault(gid, Group()).jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = gid
            # a job's result stage is created after its parents: highest id
            final_stage[gid] = max(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(ev["Stage ID"]), Group())
            g.tasks += 1
            if (ev.get("Task Info") or {}).get("Failed") or (
                    ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            stage_tasks[ev["Stage ID"]] = stage_tasks.get(ev["Stage ID"], 0) + 1
            g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
    for gid, sid in final_stage.items():
        groups[gid].final_stage_tasks = stage_tasks.get(sid, 0)
    return groups


def read_dir(path: str) -> dict[str | None, Group]:
    """Parse the event log of the one application logged under ``path``.
    Stage IDs restart per application, so only one may be there."""
    apps = os.listdir(path)
    if len(apps) != 1:
        raise ValueError(f"expected one application event log, found {apps}")
    with open(os.path.join(path, apps[0])) as fh:
        return parse(fh)
