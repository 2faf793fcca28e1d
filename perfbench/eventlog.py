"""Spark event log → per-job-group counters.

The benchmark tags every operation with ``sc.setJobGroup``; this module
reads the application's event log and sums, per job group, the jobs,
stages and tasks it ran and what those tasks did (run and CPU time, GC,
input, shuffle, spill, Python worker traffic).

Spark 4 writes a rolling log by default: a directory
``eventlog_v2_<app id>/`` holding ``events_<n>_<app id>`` parts; older
layouts write one ``<app id>`` file. Either is read here, but only
uncompressed — Spark compresses the log (zstd) unless
``spark.eventLog.compress=false``, and a compressed log is refused
with that hint rather than misread.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

COMPRESSED = (".zstd", ".lz4", ".lzf", ".snappy", ".zst")
GROUP_KEY = "spark.jobGroup.id"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"


def log_files(log_dir: str) -> list[str]:
    """The event-log files of the single application under ``log_dir``,
    in write order."""
    apps = sorted(os.listdir(log_dir))
    if len(apps) != 1:
        raise ValueError(f"{log_dir}: expected one application log, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        parts.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
        files = [os.path.join(path, n) for n in parts]
    else:
        files = [path]
    for f in files:
        if f.endswith(COMPRESSED):
            raise ValueError(
                f"{f}: compressed event log; start the session with "
                "spark.eventLog.compress=false"
            )
    return files


def read_events(files: Iterable[str]) -> Iterator[dict]:
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class GroupStats:
    """Everything the log attributes to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_spans_ms: list[tuple[int, int]] = field(default_factory=list)
    task_ms: list[int] = field(default_factory=list)  # launch → finish
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_recv_bytes: int = 0
    py_run_ms: int = 0
    py_stage_run_ms: int = 0  # run time of tasks that fed Python workers


def _accum(task_info: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in task_info.get("Accumulables", ()):
        name = a.get("Name")
        if name in (PY_SENT, PY_RECV, PY_RUN_MS):
            out[name] = out.get(name, 0) + int(a.get("Update") or 0)
    return out


def by_group(events: Iterable[dict]) -> dict[str | None, GroupStats]:
    """Sum the log per job group (``None`` for work outside any group)."""
    groups: dict[str | None, GroupStats] = {}
    job_open: dict[int, tuple[str | None, int]] = {}
    stage_group: dict[tuple[int, int], str | None] = {}

    def stats(g: str | None) -> GroupStats:
        return groups.setdefault(g, GroupStats())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            stats(g).jobs += 1
            job_open[e["Job ID"]] = (g, e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            g, t0 = job_open.pop(e["Job ID"], (None, None))
            if t0 is not None:
                stats(g).job_spans_ms.append((t0, e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_group[key] = (e.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stats(stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))).stages += 1
        elif kind == "SparkListenerTaskEnd":
            s = stats(stage_group.get((e["Stage ID"], e["Stage Attempt ID"])))
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            s.tasks += 1
            s.task_ms.append(info["Finish Time"] - info["Launch Time"])
            s.run_ms += m.get("Executor Run Time", 0)
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            s.input_bytes += inp.get("Bytes Read", 0)
            s.input_records += inp.get("Records Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            py = _accum(info)
            s.py_sent_bytes += py.get(PY_SENT, 0)
            s.py_recv_bytes += py.get(PY_RECV, 0)
            s.py_run_ms += py.get(PY_RUN_MS, 0)
            if py.get(PY_SENT, 0):
                s.py_stage_run_ms += m.get("Executor Run Time", 0)
    return groups


def covered_ms(spans: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, cur_end = 0, lo
    for a, b in sorted(spans):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
