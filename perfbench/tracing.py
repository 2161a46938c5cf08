"""Measurement helpers: spans around the program's public functions,
Spark's own event log, streaming progress, process-tree memory and
machine diagnostics.

Spans are recorded only in a traced run (`--trace 1`); the untraced run
measures end-to-end numbers with none of this installed except the
memory sampler and the /proc readings, which touch no program code.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from contextlib import contextmanager


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ------------------------------------------------------------ spans

class Tracer:
    """In-memory spans: (name, start, end, parent). Times are epoch
    seconds so they line up with the event log's job timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({"name": name, "start": start, "end": end,
                                   "parent": parent})

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr with a wrapper that records a span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def total(self, name: str, lo: float, hi: float) -> float:
        """Summed duration of spans called `name` that start inside
        [lo, hi] (spans on worker threads overlap, so this can exceed
        hi - lo)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and lo <= s["start"] <= hi)


# ------------------------------------------------------------ event log

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
}


# the scan node's SQL metric. The task counter input.bytesRead stays near 0
# for Spark 4's vectorized parquet reader (1,345 B for a full read of a
# 2.2 MB file), so input bytes are the sizes of the files the scans read.
_SCAN_BYTES = "size of files read"


class EventLog:
    """Jobs, completed stages and SQL scan sizes parsed from Spark's JSON
    event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.scan_accs: set[int] = set()  # accumulator ids of _SCAN_BYTES
        self.exec_bytes: dict[int, int] = {}  # SQL execution id -> scanned bytes
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if os.path.isfile(path):
                self._read(path)

    def _read(self, path: str) -> None:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    self.jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                        "group": props.get("spark.jobGroup.id"),
                        "sql": int(sql) if sql is not None else None,
                    }
                elif "sparkPlanInfo" in ev:  # SQL execution start / AQE update
                    self._scan_accs(ev["sparkPlanInfo"])
                elif str(kind).endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in ev.get("accumUpdates", []):
                        if acc in self.scan_accs:
                            e = ev["executionId"]
                            self.exec_bytes[e] = self.exec_bytes.get(e, 0) + int(value)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = {v: 0 for v in _ACC.values()}
                    for a in info.get("Accumulables", []):
                        key = _ACC.get(a.get("Name"))
                        if key:
                            m[key] += int(float(a.get("Value", 0)))
                    self.stages[info["Stage ID"]] = m

    def _scan_accs(self, node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") == _SCAN_BYTES:
                self.scan_accs.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._scan_accs(child)

    def select(self, *, group: str | None = None, lo: float = 0.0,
               hi: float = float("inf")) -> list[int]:
        """Job ids carrying job group `group`, or else submitted in
        [lo, hi] (jobs the program submits from its own threads carry no
        group, so they are attributed by time window)."""
        if group is not None:
            return [j for j, v in self.jobs.items() if v["group"] == group]
        return [j for j, v in self.jobs.items() if lo <= v["submit"] <= hi]

    def totals(self, job_ids) -> dict:
        out = {v: 0 for v in _ACC.values()}
        out["jobs"] = 0
        seen = set()
        execs = set()
        for j in job_ids:
            out["jobs"] += 1
            execs.add(self.jobs[j]["sql"])
            for s in self.jobs[j]["stages"]:
                if s in self.stages and s not in seen:
                    seen.add(s)
                    for k, v in self.stages[s].items():
                        out[k] += v
        out["input_bytes"] = sum(self.exec_bytes.get(e, 0) for e in execs if e is not None)
        return out


def event_log_conf(log_dir: str) -> list[str]:
    os.makedirs(log_dir, exist_ok=True)
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false"]


# ------------------------------------------------------------ streaming progress

def progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.items: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.items.append({
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "dur": dict(p.durationMs),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Listener()


# ------------------------------------------------------------ processes

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, user + system CPU seconds) for every process."""
    out: dict[int, tuple[int, float]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(stat.split("/")[2])] = (int(fields[1]),
                                        (int(fields[11]) + int(fields[12])) / _TICK)
    return out


def _tree(root: int, stats: dict[int, tuple[int, float]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants(root: int) -> list[int]:
    return _tree(root, _stats())


def tree_cpu_s(exclude=()) -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), leaving out the pids in `exclude`."""
    stats = _stats()
    me = os.getpid()
    pids = [me] + [p for p in _tree(me, stats) if p not in exclude]
    return sum(stats[p][1] for p in pids if p in stats)


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once in the sum, where resident size would count them
    once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak summed proportional set size of this process's descendants
    (the JVM and its Python workers), sampled every `period` seconds;
    pids in `exclude` (the fake endpoint) are left out."""

    def __init__(self, exclude=(), period: float = 0.25) -> None:
        self.exclude = set(exclude)
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants(me) if p not in self.exclude)
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ machine

def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def machine_diagnostics(cpu0: list[int], load0: float, parallelism: int) -> dict:
    cpu1 = cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d[:8]) or 1  # user..steal; guest time is already in user
    return {
        "steal_share": round(d[7] / total, 4) if len(d) > 7 else None,
        "busy_share": round(1 - (d[3] + d[4]) / total, 4),
        "loadavg_start": load0,
        "loadavg_end": loadavg(),
        "default_parallelism": parallelism,
        "nproc": len(os.sched_getaffinity(0)),
    }
