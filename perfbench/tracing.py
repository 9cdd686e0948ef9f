"""Spans, self times, Spark event-log and JVM GC-log reading, and RSS sampling.

Spans are recorded by the benchmark around its own calls into the
program; nothing here reaches into ``sparkocr``. A span is
``(name, start, end, parent, run_id)`` with times from
``time.perf_counter``; spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute check per span."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the part of each span's
    interval covered by its direct children."""
    covered = [0.0] * len(spans)
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for idx, ivs in children.items():
        ivs.sort()
        tot, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    tot += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            tot += cur_e - cur_s
        covered[idx] = tot
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + (
            s["end"] - s["start"] - covered[i])
    return out


# ---------------------------------------------------------------------------
# Spark local event log

def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of application ``app_id`` under ``log_dir``:
    the single file of the classic format, or the ``events_<n>_*``
    files of the rolling format (Spark 4's default), in order."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        return [single]
    roll = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    names = [n for n in os.listdir(roll) if n.startswith("events_")]
    names.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(roll, n) for n in names]


def read_event_log(paths: list[str]) -> dict[str, dict]:
    """Aggregate a Spark JSON event log per job tag: the job group when
    set, else the job description.

    Returns ``{description: {"jobs", "records_read",
    "shuffle_write_bytes", "spill_bytes", "task_skew"}}``. Spill counts
    memory and disk bytes spilled. ``task_skew`` is the slowest task's
    duration over the median task's, in the stage with the most tasks
    (ties: the first such stage). Untagged jobs are grouped under
    ``""``."""
    job_desc: dict[int, str] = {}
    stage_desc: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = (props.get("spark.jobGroup.id")
                            or props.get("spark.job.description") or "")
                    job_desc[ev["Job ID"]] = desc
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "dur": info.get("Finish Time", 0)
                        - info.get("Launch Time", 0),
                        "records": (m.get("Input Metrics") or {}).get(
                            "Records Read", 0),
                        "shuffle_w": (m.get("Shuffle Write Metrics")
                                      or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    out: dict[str, dict] = {}
    for desc in set(job_desc.values()):
        out[desc] = {"jobs": sum(1 for d in job_desc.values() if d == desc),
                     "records_read": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "task_skew": 1.0, "_widest": 0}
    for sid, ts in sorted(tasks.items()):
        agg = out.get(stage_desc.get(sid, ""))
        if agg is None:
            continue
        agg["records_read"] += sum(t["records"] for t in ts)
        agg["shuffle_write_bytes"] += sum(t["shuffle_w"] for t in ts)
        agg["spill_bytes"] += sum(t["spill"] for t in ts)
        if len(ts) > agg["_widest"]:
            durs = [max(t["dur"], 1) for t in ts]
            agg["_widest"] = len(ts)
            agg["task_skew"] = max(durs) / statistics.median(durs)
    for agg in out.values():
        agg.pop("_widest")
    return out


# ---------------------------------------------------------------------------
# resident memory of the JVM this process started and of the Python
# daemon and workers below it, read from /proc

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows its ")"
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_processes(pid: int) -> tuple[list[int], list[int]]:
    """The JVM (a child of ``pid``), and the Python daemon and workers
    below it. Other processes the JVM forks (shell helpers) are left
    out: between fork and exec they carry the JVM's command line and
    report its whole RSS."""
    kids = _children_map()
    jvms = kids.get(pid, [])
    pys, todo = [], [c for j in jvms for c in kids.get(j, [])]
    while todo:
        p = todo.pop()
        if "pyspark.daemon" in _cmdline(p):
            pys.append(p)
            todo.extend(kids.get(p, []))
    return jvms, pys


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


SAMPLE_S = 0.05    # RSS sampling interval
RESCAN_EVERY = 10  # samples between rescans of the process tree


class RssSampler:
    """Samples, on a background thread, the RSS of the JVM this process
    started and the summed RSS of the Python daemon and workers below
    it (:func:`spark_processes`); ``peak_jvm`` and ``peak_python`` are
    the largest values seen while running."""

    def __init__(self):
        self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        jvms: list[int] = []
        pys: list[int] = []
        tick = 0
        while not self._stop.is_set():
            if tick % RESCAN_EVERY == 0:
                jvms, pys = spark_processes(os.getpid())
            tick += 1
            self.peak_jvm = max(self.peak_jvm,
                                sum(rss_bytes(p) for p in jvms))
            self.peak_python = max(self.peak_python,
                                   sum(rss_bytes(p) for p in pys))
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_pool_peaks(spark) -> dict[str, int]:
    """Peak used bytes of each of the driver JVM's memory pools since
    it started, from its ``MemoryPoolMXBean``s, keyed ``<type>:<name>``
    (type ``Heap memory`` for the G1 generations, ``Non-heap memory``
    for metaspace and the code cache)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {f"{p.getType().toString()}:{p.getName()}":
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans() if p.isValid()}


# heap occupancy before and after one collection, as ``-Xlog:gc`` writes
# it on JDK 17: "... Pause Young (Normal) (G1 Evacuation Pause)
# 612M->210M(1024M) 12.345ms"
_GC_LINE = re.compile(r" (\d+)M->(\d+)M\(\d+M\)")


class GcLog:
    """Reader of the JVM's ``-Xlog:gc`` file: the largest heap occupancy
    left after a collection since the last :meth:`mark`, in bytes."""

    def __init__(self, path: str):
        self.path = path
        self._offset = 0

    def mark(self) -> None:
        self._offset = os.path.getsize(self.path)

    def peak_after_gc(self) -> int:
        with open(self.path) as f:
            f.seek(self._offset)
            after = [int(m.group(2)) for m in _GC_LINE.finditer(f.read())]
        return max(after, default=0) * 2**20
