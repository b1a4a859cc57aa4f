"""Spans, Spark task metrics and host counters for the store benchmark.

Spans are recorded by the benchmark around its calls into the program; the
program itself is not instrumented. In a traced run the benchmark's Spark
session writes an uncompressed event log, which ``read_event_log`` parses
after the session stops; each task and job is attributed to the innermost
span whose time window holds its finish (task) or submission (job) time.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end (epoch seconds), parent index,
    and free-form attributes."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def innermost(self, t: float) -> dict | None:
        """The most deeply nested span open at time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
                best = s
        return best


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(tasks, jobs) from the event log(s) under ``log_dir``, in plain dicts
    with times in epoch seconds and bytes/seconds as numbers."""
    tasks, jobs = [], []
    # one file per application, or (rolling logs) a directory of events_* files
    files = [f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    inp = m.get("Input Metrics", {})
                    out = m.get("Output Metrics", {})
                    tasks.append({
                        "finish": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input_bytes": inp.get("Bytes Read", 0),
                        "input_rows": inp.get("Records Read", 0),
                        "output_bytes": out.get("Bytes Written", 0),
                    })
                elif kind == "SparkListenerJobStart":
                    jobs.append({"submit": e["Submission Time"] / 1000.0})
    return tasks, jobs


def attribute(tracer: Tracer, tasks: list[dict], jobs: list[dict]) -> dict:
    """Per span name: task count and sums of task metrics, and job count."""
    agg: dict[str, dict] = {}
    for t in tasks:
        s = tracer.innermost(t["finish"])
        if s is None:
            continue
        a = agg.setdefault(s["name"], {"tasks": 0, "jobs": 0})
        a["tasks"] += 1
        for k, v in t.items():
            if k != "finish":
                a[k] = a.get(k, 0) + v
    for j in jobs:
        s = tracer.innermost(j["submit"])
        if s is not None:
            agg.setdefault(s["name"], {"tasks": 0, "jobs": 0})["jobs"] += 1
    return agg


def cpu_times() -> tuple[float, float]:
    """(steal, busy) seconds of the whole host from /proc/stat; busy is user,
    nice and system time."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return v[7] / tick, (v[0] + v[1] + v[2]) / tick


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the Spark JVM it started."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return mb


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root`` (Spark's
    checksum and marker files excluded)."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def write_jsonl(path: str, tracer: Tracer, counts: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps({"type": "span", **s}) + "\n")
        for k, v in sorted(counts.items()):
            fh.write(json.dumps({"type": "count", "name": k, "value": v}) + "\n")
