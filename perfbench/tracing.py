"""Measurement plumbing for the benchmark: spans, memory of the Python
processes and the JVM, Spark event-log totals and host readings.

Nothing here touches the engine; it only records what the benchmark
does around the engine's public calls.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once at exit. A disabled tracer records nothing, so the untraced run
    pays no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, run_id: str,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run_id": run_id})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, run_id: str):
        """Time the body; the yielded dict gets the span id (or None)."""
        info: dict = {"id": None}
        start = time.perf_counter()
        if self.enabled:
            info["id"] = self.add(name, start, start, run_id)
            self._stack.append(info["id"])
        try:
            yield info
        finally:
            end = time.perf_counter()
            info["seconds"] = end - start
            if self.enabled:
                self._stack.pop()
                self.spans[info["id"]]["end"] = end

    def self_times(self, run_ids: set[str]) -> dict[str, float]:
        """Per span name, over the spans of ``run_ids``: total duration
        minus the time its direct children cover (children never overlap
        here: one driver thread)."""
        spans = [s for s in self.spans if s["run_id"] in run_ids]
        covered: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - covered[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by ppid, rss pages by pid) for every process in /proc,
    JVMs left out (their RSS follows the heap size, see
    :func:`jvm_peak_bytes`)."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(d)
        children[int(fields[1])].append(pid)
        if stat[stat.find("(") + 1:stat.rfind(")")] != "java":
            rss[pid] = int(fields[21])
    return children, rss


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants but the JVM: the
    Python driver and the JVM's Python workers."""
    children, rss = _proc_table()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Background thread tracking the peak of :func:`tree_rss_bytes`."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_readings() -> dict:
    """Load average and the time of a fixed pure-Python loop: recorded
    beside each run so that a slow run can be told apart from a busy
    machine. Never used to gate or correct a result."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    calib = time.perf_counter() - t0
    return {"loadavg": list(os.getloadavg()), "calibration_loop_s": calib,
            "cpus": os.cpu_count()}


def jvm_peak_bytes(spark) -> int:
    """Peak use of the JVM's memory pools since it started, summed over
    the pools: old generation, survivor space and the non-heap pools
    (metaspace, code cache). Eden is left out: G1 fills it to the
    young-generation size it picked from the heap size before every
    collection, so its peak follows the heap size, not the program."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if "Eden" not in p.getName())


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the one local-mode JVM (driver and
    executor). Per-task ``JVM GC Time`` in the event log repeats the same
    pauses once per concurrent task in local mode, so it overcounts."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def event_log_totals(log_dir: str, groups: set[str]) -> dict:
    """Shuffle and spill totals of the tasks whose job ran in one of the
    given job groups, read from the Spark event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    totals = defaultdict(float)
    # one file per application, or a directory of rolled "events_*" parts
    # beside an empty status file and checksums
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    m = ev.get("Task Metrics") or {}
                    totals["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    totals["shuffle_fetch_wait_ms"] += (
                        m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
                    )
                    totals["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    return dict(totals)
