"""Run-time instruments for the benchmark: spans, the process-tree RSS
sampler, Spark event-log aggregation and child-process cleanup."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans (name, start, end, parent) around the benchmark's
    calls into each layer.  Disabled, ``span`` only yields; the
    timestamps the benchmark itself needs come from ``time`` directly."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        Path(path).write_text(json.dumps(self.spans, indent=1))


# ------------------------------------------------------------ processes


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> dict[int, str]:
    """{pid: start time} of every live descendant of ``root``; the start
    time tells a pid apart from a later process that reuses it."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            kids.setdefault(int(st[1]), []).append((int(d), st[19]))
    out, todo = {}, [root]
    while todo:
        for pid, start in kids.get(todo.pop(), []):
            out[pid] = start
            todo.append(pid)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Python driver, the JVM and Spark's Python workers), sampled on a
    background thread.  Remembers every descendant it saw so the run
    can wait for all of them to end."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kids = descendants(os.getpid())
        self.seen.update(kids)
        self.peak = max(self.peak, sum(map(_rss_bytes, [os.getpid(), *kids])))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self._sample()
        return self.peak / 2**20


def _alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    if st is None or st[19] != start:
        return False
    if st[0] == "Z":
        try:  # our own exited child: reap it
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    deadline = time.monotonic() + timeout
    while True:
        alive = {p: s for p, s in procs.items() if _alive(p, s)}
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def stop_spark(spark, sampler: RssSampler, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until every process this run started has ended; kill what
    is still there after ``timeout``."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = {**sampler.seen, **descendants(os.getpid())}
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in _wait_gone(procs, timeout):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(procs, timeout)


def end_children(timeout: float = 10.0) -> None:
    """Stop what this run started and is still there: multiprocessing's
    resource tracker, which a spawn pool starts and which otherwise ends
    only after this process has exited, and any other descendant (killed
    after ``timeout``).  Waits until each has ended."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()  # finished pools' semaphores unregister while it still runs
    resource_tracker._resource_tracker._stop()
    procs = descendants(os.getpid())
    for pid in _wait_gone(procs, timeout):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(procs, timeout)


# ------------------------------------------------------------ event log

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application log under log_dir (single-file logs,
    or the ``events_*`` files of a rolling ``eventlog_v2_*`` dir)."""
    events = []
    files = [p for p in Path(log_dir).rglob("*") if p.is_file()]
    for f in sorted(p for p in files if p.parent == Path(log_dir) or p.name.startswith("events_")):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def spark_stats(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Spark work whose start falls inside any (start, end) window, in
    epoch seconds: jobs by submission, stages by submission, tasks by
    launch.  Time windows, not job groups: the engine's concurrent table
    writes run on pool threads that do not inherit a job group."""

    def inside(ms) -> bool:
        if ms is None:
            return False
        t = ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    out = dict.fromkeys(SPARK_KEYS, 0.0)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time")):
            out["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            if inside(info.get("Submission Time")):
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if not inside(ev.get("Task Info", {}).get("Launch Time")):
                continue
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return out
