"""Measurement helpers: spans, percentiles, /proc readers and the Spark
event-log digest the traced run uses for its per-layer numbers."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager


def tail_pct(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it (0 when ``n`` < 11 leaves no such percentile above zero)."""
    return max(0, math.floor(100 * (1 - 10 / n))) if n else 0


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


class Spans:
    """In-memory spans (name, start, end, parent) on the monotonic clock;
    written out once, at the end of the run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = len(self.items)
        rec = {"id": sid, "name": name, "parent": parent, "start": time.monotonic(), "end": None}
        self.items.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        sid = len(self.items)
        self.items.append({"id": sid, "name": name, "parent": parent, "start": start, "end": end})
        return sid

    def self_times(self) -> dict[str, float]:
        """Seconds per span name (the part before ``:``), each span's
        duration minus the part of it that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.items:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.items:
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            layer = s["name"].split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from the parent links in /proc
    (a JVM forks from worker threads, so ``task/<pid>/children`` misses them)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``pid`` (default: this process) and every live descendant. Time stolen
    by the hypervisor is not charged to processes, so this moves far less
    with host contention than wall time does."""
    pid = os.getpid() if pid is None else pid
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, dict]:
    """Summed VmHWM of the driver JVM and the Python workers it forked
    (every descendant of this process; the benchmark's own interpreter is
    left out). Returns (MB, {kind: MB})."""
    parts: dict[str, float] = {}
    for p in descendants(os.getpid()):
        kb = vm_hwm_kb(p)
        cmd = cmdline(p)
        kind = "jvm" if "java" in cmd.split(" ", 1)[0] else "python" if "python" in cmd else "other"
        parts[kind] = parts.get(kind, 0.0) + kb / 1024
    return sum(v for k, v in parts.items() if k != "other"), parts


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return d[7] / total if total > 0 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def event_log_digest(path: str, keep_job) -> dict:
    """Sum the scheduler and task metrics of the jobs ``keep_job(props,
    submit_s)`` selects from one uncompressed Spark event log.

    ``scheduler.stages`` counts stages that ran a task (skipped stages are
    left out); ``scheduler.launch_wait_s`` is, per job, the first task launch
    minus the job's submission. Times in the log are epoch milliseconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    m = dict.fromkeys(
        ["executor.run_s", "executor.cpu_s", "executor.gc_s", "shuffle.fetch_wait_s"], 0.0
    )
    m.update(dict.fromkeys(
        ["scheduler.tasks", "shuffle.write_bytes", "shuffle.read_bytes", "spill.disk_bytes",
         "parquet.input_bytes", "parquet.input_rows", "arrow.to_python_bytes",
         "arrow.from_python_bytes"], 0))
    first_launch: dict[int, int] = {}
    stages_run: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if keep_job(props, ev["Submission Time"] / 1000):
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"]}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                stages_run.add(ev["Stage ID"])
                launch = info["Launch Time"]
                first_launch[job] = min(first_launch.get(job, launch), launch)
                m["scheduler.tasks"] += 1
                m["executor.run_s"] += tm.get("Executor Run Time", 0) / 1000
                m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1000
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000
                m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["shuffle.write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
                im = tm.get("Input Metrics") or {}
                m["parquet.input_bytes"] += im.get("Bytes Read", 0)
                m["parquet.input_rows"] += im.get("Records Read", 0)
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") == _PY_SENT:
                        m["arrow.to_python_bytes"] += int(acc.get("Update") or 0)
                    elif acc.get("Name") == _PY_RECV:
                        m["arrow.from_python_bytes"] += int(acc.get("Update") or 0)
    m["scheduler.jobs"] = len(jobs)
    m["scheduler.stages"] = len(stages_run)
    m["scheduler.launch_wait_s"] = sum(
        (first_launch[j] - jobs[j]["submit"]) / 1000 for j in jobs if j in first_launch
    )
    return m
