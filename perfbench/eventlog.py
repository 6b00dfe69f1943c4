"""Reader for Spark's JSON event log (``spark.eventLog.compress=false``).

Sums task metrics and the Python SQL metrics per job group. Spark 4.1
writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory; a
single-file log is read too.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: Python SQL metric names (PythonSQLMetrics) → our short names
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
#: the Python timing metrics are ``timing`` SQL metrics, in milliseconds

def log_files(path: str) -> list[str]:
    """Event files under ``path`` (a log directory, a rolling log
    directory or one file), in write order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.startswith("eventlog_v2_") and os.path.isdir(full):
            parts = [p for p in os.listdir(full) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(full, p) for p in parts)
        elif os.path.isfile(full) and not name.endswith(".inprogress"):
            out.append(full)
    return out


def read_events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


class GroupStats:
    def __init__(self) -> None:
        self.sums: dict[str, float] = defaultdict(float)
        self.stage_sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.jobs: set[int] = set()
        self.stages: dict[int, tuple[float, float]] = {}  # id → (submit, done) s
        self.task_runs: dict[int, list[float]] = defaultdict(list)  # stage → run s

    def stages_where(self, key: str) -> set[int]:
        """Stages whose tasks reported a nonzero ``key``."""
        return {sid for sid, s in self.stage_sums.items() if s.get(key)}

    def sum_over(self, key: str, stages: set[int]) -> float:
        return sum(self.stage_sums[sid].get(key, 0.0) for sid in stages)

    def task_skew(self) -> float:
        """max / median task run time in the group's heaviest stage."""
        if not self.task_runs:
            return 0.0
        runs = max(self.task_runs.values(), key=sum)
        srt = sorted(runs)
        med = srt[len(srt) // 2]
        return srt[-1] / med if med > 0 else 0.0

    def stage_wall_s(self, only=None) -> float:
        spans = [s for sid, s in self.stages.items() if only is None or sid in only]
        return union_s(spans)


def merged(groups: dict[str, GroupStats], match) -> GroupStats:
    """One :class:`GroupStats` over every group whose name ``match`` accepts."""
    out = GroupStats()
    for name, g in groups.items():
        if name == "*" or not match(name):
            continue
        for k, v in g.sums.items():
            out.sums[k] += v
        for sid, sums in g.stage_sums.items():
            for k, v in sums.items():
                out.stage_sums[sid][k] += v
        out.jobs |= g.jobs
        out.stages.update(g.stages)
        for sid, runs in g.task_runs.items():
            out.task_runs[sid].extend(runs)
    return out


def union_s(spans) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def summarize(path: str) -> dict[str, GroupStats]:
    """Job group → :class:`GroupStats`; the key ``"*"`` holds the whole
    application and ``""`` the jobs run outside any group."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)

    for ev in read_events(path):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for name in (g, "*"):
                groups[name].jobs.add(ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if "Submission Time" in info and "Completion Time" in info:
                span = (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                for name in (stage_group.get(sid, ""), "*"):
                    groups[name].stages[sid] = span
        elif kind == "SparkListenerTaskEnd":
            _add_task(ev, groups, stage_group)
    return groups


def _add_task(ev, groups, stage_group) -> None:
    sid = ev["Stage ID"]
    m = ev.get("Task Metrics") or {}
    vals = {
        "tasks": 1,
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sum(
            (m.get("Shuffle Read Metrics") or {}).get(k, 0)
            for k in ("Remote Bytes Read", "Local Bytes Read")
        ),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        short = PY_METRICS.get(acc.get("Name"))
        if short is None or "Update" not in acc:
            continue
        v = float(acc["Update"])
        vals[short] = vals.get(short, 0) + (v / 1e3 if short.endswith("_s") else v)
    for name in (stage_group.get(sid, ""), "*"):
        g = groups[name]
        for k, v in vals.items():
            g.sums[k] += v
            g.stage_sums[sid][k] += v
        g.task_runs[sid].append(vals["run_s"])
