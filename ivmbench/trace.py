"""Spans around the benchmark's calls into each layer, and Spark event-log
attribution to those spans.

A span is a name, a kind, wall-clock start and end, and the span that caused
it. Spans are kept in memory and written as JSON lines when the run ends.
Spark jobs are attributed from the event log: a job belongs to the innermost
span that contains its submission time; its tasks' run time, shuffle and
spill bytes follow it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def _stat(path: str) -> tuple[str, int]:
    """Command name and user + system clock ticks from a ``/proc`` stat file."""
    with open(path) as f:
        text = f.read()
    head, _, tail = text.rpartition(")")
    fields = tail.split()
    return head.partition("(")[2], int(fields[11]) + int(fields[12])


class CpuClock:
    """CPU seconds (user + system) used so far by this process and by the
    JVMs added with ``watch``, read from ``/proc``. Time the machine gives to
    other guests or processes is not counted, so on a shared machine the
    clock follows the work done more closely than wall time does."""

    def __init__(self) -> None:
        self.pids: list[int] = []
        self.tick = os.sysconf("SC_CLK_TCK")
        self.jit_ticks: dict[str, int] = {}  # compiler thread -> last reading

    def watch(self, pid: int) -> None:
        if pid not in self.pids:
            self.pids.append(pid)

    def _jit_ticks(self) -> int:
        """Ticks of the JVMs' JIT compiler threads. A compiler thread that
        has exited keeps its last reading."""
        for pid in self.pids:
            for task in glob.glob(f"/proc/{pid}/task/*/stat"):
                try:
                    name, ticks = _stat(task)
                except (FileNotFoundError, ProcessLookupError):
                    continue  # the thread exited
                if "CompilerThre" in name:
                    self.jit_ticks[task] = ticks
        return sum(self.jit_ticks.values())

    def read(self) -> tuple[float, float]:
        """(CPU seconds in all, of which JIT compilation) so far."""
        t = os.times()
        ticks = sum(_stat(f"/proc/{pid}/stat")[1] for pid in self.pids)
        return t.user + t.system + ticks / self.tick, self._jit_ticks() / self.tick


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cpu = CpuClock()

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        """Time one call. The yielded dict takes extra attributes; ``s`` is
        the span's duration in seconds, ``cpu_s`` the CPU seconds used
        during it and ``jit_s`` the part of those the JVM spent compiling
        (``CpuClock``), once the block exits."""
        rec = {"id": len(self.spans), "name": name, "kind": kind, **attrs}
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start_ms"] = time.time() * 1000
        (c0, j0), t0 = self.cpu.read(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            c1, j1 = self.cpu.read()
            rec["cpu_s"], rec["jit_s"] = c1 - c0, j1 - j0
            rec["end_ms"] = time.time() * 1000
            self._stack.pop()

    def of_kind(self, kind: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == kind]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """``get_spark(extra_conf=...)`` that turns on an uncompressed event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_jobs(log_dir: str) -> list[dict]:
    """Every job in the event logs under ``log_dir`` with its submission
    time and the summed metrics of its tasks."""
    jobs = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        # one file per application, or (Spark 4) a directory of rolled
        # ``events_<n>_<app>`` files
        files = [app] if os.path.isfile(app) else sorted(
            glob.glob(os.path.join(app, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        stage_job: dict[int, dict] = {}
        for line in _lines(files):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = {
                    "submit_ms": ev["Submission Time"],
                    "tasks": 0,
                    "task_s": 0.0,
                    "shuffle_write_bytes": 0,
                    "shuffle_read_bytes": 0,
                    "spill_bytes": 0,
                }
                jobs.append(job)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                job = stage_job[ev["Stage ID"]]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                job["tasks"] += 1
                job["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000
                sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
                job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return jobs


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """Span id -> the jobs submitted while it was the innermost open span."""
    out: dict[int, list[dict]] = defaultdict(list)
    for job in jobs:
        best = None
        for s in spans:
            if s["start_ms"] <= job["submit_ms"] <= s.get("end_ms", float("inf")):
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        if best is not None:
            out[best["id"]].append(job)
    return out


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it."""
    ids, out = {root["id"]}, [root]
    for s in spans[root["id"] + 1 :]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def log_errors(path: str) -> int:
    """Count of ``ERROR`` lines in a driver log."""
    if not os.path.exists(path):
        return 0
    with open(path, errors="replace") as f:
        return sum(1 for line in f if " ERROR " in line)
