"""Per-job-group totals from an uncompressed, non-rolling Spark event log.

The traced run tags every layer's jobs with ``SparkContext.setJobGroup``;
Spark copies the group into the properties of each job and stage it
submits, so tasks are attributed to a layer through their stage.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric names of the Arrow/pandas UDF operators (values in ms / bytes)
PY_RUN_MS = "time to run Python workers"
PY_SENT_B = "data sent to Python workers"
PY_RETURNED_B = "data returned from Python workers"


@dataclass
class GroupTotals:
    jobs: int = 0
    job_spans_ms: list = field(default_factory=list)   # [(submit, complete)]
    tasks: int = 0
    task_ms: int = 0
    task_cpu_ns: int = 0
    fetch_wait_ms: int = 0
    python_ms: int = 0
    python_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0
    # stage id -> per-task executor run times (ms)
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    def busy_ms(self, start_ms: float, end_ms: float) -> float:
        """Length of the union of this group's job spans inside a window."""
        spans = sorted(
            (max(s, start_ms), min(e, end_ms)) for s, e in self.job_spans_ms
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def task_skew(self) -> float:
        """max / median task run time in the stage with the most task time."""
        if not self.stage_task_ms:
            return 1.0
        times = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def _acc_total(accumulables: list, name: str) -> int:
    total = 0
    for a in accumulables:
        if a.get("Name") == name and a.get("Update") is not None:
            total += int(a["Update"])
    return total


def parse(lines) -> dict[str, GroupTotals]:
    """-> {job group id: totals}; jobs without a group are keyed by None."""
    groups: dict = defaultdict(GroupTotals)
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, int] = {}
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = grp
            job_submit[ev["Job ID"]] = ev["Submission Time"]
            groups[grp].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, grp)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            groups[job_group.get(jid)].job_spans_ms.append(
                (job_submit[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props:
                stage_group[info["Stage ID"]] = props["spark.jobGroup.id"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            g = groups[stage_group.get(ev["Stage ID"])]
            accs = ev["Task Info"].get("Accumulables", [])
            g.tasks += 1
            g.task_ms += m["Executor Run Time"]
            g.task_cpu_ns += m["Executor CPU Time"]
            g.fetch_wait_ms += m["Shuffle Read Metrics"]["Fetch Wait Time"]
            g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            g.spill_disk_bytes += m["Disk Bytes Spilled"]
            g.python_ms += _acc_total(accs, PY_RUN_MS)
            g.python_bytes += _acc_total(accs, PY_SENT_B) + _acc_total(accs, PY_RETURNED_B)
            g.stage_task_ms[ev["Stage ID"]].append(m["Executor Run Time"])
    return dict(groups)


def parse_file(path: str) -> dict[str, GroupTotals]:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def layer_metrics(g: GroupTotals | None, windows: list[tuple[float, float]]) -> dict:
    """One traced layer's numbers: ``g`` is its job group's totals and
    ``windows`` the (start, end) epoch-ms spans the layer ran in."""
    g = g or GroupTotals()
    wall_ms = sum(e - s for s, e in windows)
    busy_ms = sum(g.busy_ms(s, e) for s, e in windows)
    return {
        "wall_s": wall_ms / 1e3,
        "jobs": g.jobs,
        "driver_gap_s": (wall_ms - busy_ms) / 1e3,
        "task_s": g.task_ms / 1e3,
        "task_cpu_s": g.task_cpu_ns / 1e9,
        "fetch_wait_s": g.fetch_wait_ms / 1e3,
        "python_s": g.python_ms / 1e3,
        "python_mb": g.python_bytes / 1e6,
        "shuffle_mb": g.shuffle_write_bytes / 1e6,
        "spill_mb": g.spill_disk_bytes / 1e6,
        "task_skew": g.task_skew(),
    }
