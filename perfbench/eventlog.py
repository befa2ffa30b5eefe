"""Per-layer numbers from Spark's own event log.

The traced child runs with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (Spark 4 compresses with zstd by default,
and reading that would need a Python zstd module).  Spark 4.1 writes a rolling directory
``eventlog_v2_<app>/events_<n>_<app>``.  Jobs are attributed to a face and
pass by their job group ``<face>:<pass>:<build|action>``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

# SQL metric (task accumulable) name -> per-layer metric, and its scale.
# Timings in SQL metrics are reported in ms, sizes in bytes.
_ACCUM = {
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
    "scan time": ("sources.scan_s", 1e-3),
}


def _event_files(log_dir: str, app_id: str) -> list[str]:
    base = log_dir.removeprefix("file:")
    rolling = sorted(
        glob.glob(os.path.join(base, f"eventlog_v2_{app_id}*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    return rolling or sorted(glob.glob(os.path.join(base, f"{app_id}*")))


class FaceStats:
    """Accumulates task and job numbers of one (face, pass)."""

    def __init__(self) -> None:
        self.v: dict[str, float] = defaultdict(float)
        self.jobs: list[tuple[float, float]] = []  # (submit ms, end ms)
        self.build_jobs = 0
        self.first_action_job_ms: float | None = None
        self.stages: dict[int, list[float]] = defaultdict(list)  # stage -> task run ms


def parse(log_dir: str, app_id: str) -> dict[tuple[str, str], FaceStats]:
    """Return FaceStats keyed by (face, pass) for every tagged job."""
    stage_owner: dict[int, FaceStats] = {}
    job_owner: dict[int, tuple[FaceStats, float]] = {}
    stats: dict[tuple[str, str], FaceStats] = defaultdict(FaceStats)
    for path in _event_files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    parts = group.split(":")
                    if len(parts) != 3:
                        continue
                    fs = stats[(parts[0], parts[1])]
                    job_owner[ev["Job ID"]] = (fs, ev["Submission Time"])
                    if parts[2] == "build":
                        fs.build_jobs += 1
                    elif fs.first_action_job_ms is None:
                        fs.first_action_job_ms = ev["Submission Time"]
                    fs.v["executor.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = fs
                elif kind == "SparkListenerJobEnd":
                    owner = job_owner.pop(ev["Job ID"], None)
                    if owner:
                        owner[0].jobs.append((owner[1], ev["Completion Time"]))
                elif kind == "SparkListenerStageCompleted":
                    fs = stage_owner.get(ev["Stage Info"]["Stage ID"])
                    if fs is not None and ev["Stage Info"].get("Number of Tasks", 0) > 0:
                        fs.v["executor.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    fs = stage_owner.get(ev["Stage ID"])
                    if fs is not None:
                        _task(fs, ev)
    return stats


def _task(fs: FaceStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    v = fs.v
    run_ms = m.get("Executor Run Time", 0)
    v["executor.tasks"] += 1
    v["executor.run_s"] += run_ms / 1e3
    v["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    v["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    v["executor.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    v["executor.peak_mem_bytes"] = max(v["executor.peak_mem_bytes"], m.get("Peak Execution Memory", 0))
    inp = m.get("Input Metrics") or {}
    v["sources.scan_bytes"] += inp.get("Bytes Read", 0)
    v["sources.scan_rows"] += inp.get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    v["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    v["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    v["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    v["sinks.write_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    if inp.get("Records Read", 0) == 0 and sr.get("Total Records Read", 0) == 0:
        v["executor.empty_tasks"] += 1
    fs.stages[ev["Stage ID"]].append(run_ms)
    for acc in info.get("Accumulables", []):
        hit = _ACCUM.get(acc.get("Name"))
        if hit and acc.get("Update") is not None:
            try:
                v[hit[0]] += float(acc["Update"]) * hit[1]
            except (TypeError, ValueError):
                pass


def covered_ms(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of the intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
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


def straggler_parts(fs: FaceStats) -> tuple[float, float]:
    """(Σ stage max task time, Σ stage median task time), in ms."""
    mx = sum(max(t) for t in fs.stages.values() if t)
    med = sum(statistics.median(t) for t in fs.stages.values() if t)
    return mx, med
