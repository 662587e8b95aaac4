"""Measurement helpers: spans, process-tree RSS, Spark event-log counters
and the host record."""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory; ``dump``
    writes them out at the end of the run. A disabled tracer records
    nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def around(self, op: int, *targets: tuple[object, str]):
        """While the block runs, wrap each ``(module, function name)`` in
        a span named after the function. The program looks these names
        up on their modules at call time, so its own call path runs
        unchanged, with spans."""
        if not self.enabled:
            yield
            return
        saved = [(module, name, getattr(module, name)) for module, name in targets]
        for module, name, fn in saved:
            setattr(module, name, self._wrap(name, op, fn))
        try:
            yield
        finally:
            for module, name, fn in saved:
                setattr(module, name, fn)

    def _wrap(self, name: str, op: int, fn):
        def traced(*args, **kwargs):
            with self.span(name, op):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --- memory ---------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory of ``root`` and all its descendants (driver, JVM,
    Python workers), from /proc, split into the JVM and the rest."""
    kids = _children()
    todo = [root]
    pages = {"jvm": 0, "python": 0}
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1])
            with open(f"/proc/{pid}/comm") as fh:
                kind = "jvm" if fh.read().strip() == "java" else "python"
        except OSError:
            continue
        pages[kind] += rss
    page = os.sysconf("SC_PAGE_SIZE") / 2**20
    return {k: v * page for k, v in pages.items()}


class RssSampler:
    """Peak process-tree RSS (total, JVM, Python), sampled on a thread
    every PERIOD_S seconds."""

    PERIOD_S = 0.25

    def __init__(self):
        self.peaks = {"total": 0.0, "jvm": 0.0, "python": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> float:
        return self.peaks["total"]

    def _sample(self) -> None:
        rss = tree_rss_mb(os.getpid())
        rss["total"] = rss["jvm"] + rss["python"]
        for k, v in rss.items():
            self.peaks[k] = max(self.peaks[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# --- Spark event log ------------------------------------------------------
def read_event_log(log_dir: str) -> list[dict]:
    """Task, stage and job records of the newest application log in
    ``log_dir`` (the SparkContext must be stopped first so the log is
    complete). A stage is ``cached`` when one of its RDDs is persisted."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if not logs:
        return []
    newest = max(logs, key=os.path.getmtime)
    out = []
    with open(newest) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out.append(
                    {
                        "kind": "task",
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1000,
                        "end": info["Finish Time"] / 1000,
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                out.append(
                    {
                        "kind": "stage",
                        "stage": info["Stage ID"],
                        "start": info["Submission Time"] / 1000,
                        "end": info["Completion Time"] / 1000,
                        "tasks": info["Number of Tasks"],
                        "cached": any(
                            r["Storage Level"]["Use Memory"] or r["Storage Level"]["Use Disk"]
                            for r in info["RDD Info"]
                        ),
                    }
                )
            elif kind == "SparkListenerJobStart":
                out.append({"kind": "job", "start": ev["Submission Time"] / 1000})
    return out


def spark_counters(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Jobs, tasks, shuffle and spill bytes of the records that start
    inside any of ``windows``; exec_over_wall = executor run time over
    the windows' wall time."""

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    tasks = [e for e in events if e["kind"] == "task" and inside(e["start"])]
    wall = sum(b - a for a, b in windows)
    return {
        "jobs": sum(1 for e in events if e["kind"] == "job" and inside(e["start"])),
        "tasks": len(tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "exec_over_wall": sum(t["run_ms"] for t in tasks) / 1000 / wall if wall else 0.0,
    }


def first_cached_stage(events: list[dict], window: tuple[float, float]) -> dict | None:
    """The first stage submitted inside ``window`` that has a persisted
    RDD: the stage that computes a ``persist()``ed frame (later stages
    read it from the cache)."""
    a, b = window
    stages = [e for e in events if e["kind"] == "stage" and e["cached"] and a <= e["start"] <= b]
    return min(stages, key=lambda e: e["start"], default=None)


def task_max_over_median(events: list[dict], stage: int) -> float:
    """Slowest over median task duration of one stage."""
    xs = [e["end"] - e["start"] for e in events if e["kind"] == "task" and e["stage"] == stage]
    if not xs:
        return 0.0
    med = statistics.median(xs)
    return max(xs) / med if med > 0 else 0.0


# --- host -------------------------------------------------------------------
def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def host_record(seed: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_start": loadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "seed": seed,
        "reference_corpus": False,
    }
