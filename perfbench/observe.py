"""What the benchmark observes from outside the program: host readings
from ``/proc``, the peak RSS of the Spark process tree, spans recorded
around calls into the package's public functions, and Spark task
metrics from the event log folded into those spans."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


# ---------------------------------------------------------------- host

def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024**2
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows the closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with shared pages split
    among their sharers, so the forked Python workers sum correctly."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak summed resident memory (PSS) of every descendant of this
    process (the driver JVM and its Python workers) while the ``with``
    block runs."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        rss = sum(_pss_kb(p) for p in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "MemSampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# --------------------------------------------------------------- spans

# span times: the monotonic clock, shifted to the epoch so that spans line
# up with the event log's task times; a wall-clock step mid-run (NTP, a
# paused VM) must not stretch or shrink a span
_EPOCH = time.time() - time.perf_counter()


def now() -> float:
    return _EPOCH + time.perf_counter()


class Tracer:
    """In-memory spans around calls into the package.

    ``wrap`` replaces a module function or class method with a timing
    wrapper; ``restore`` puts every original back.  Parents are tracked
    per thread, so spans of the engine's background speculation thread
    are roots of their own."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "op": self.op,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = now()
        try:
            yield rec
        finally:
            rec["end"] = now()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._wrapped.append((owner, attr, original))

    def restore(self) -> None:
        while self._wrapped:
            owner, attr, original = self._wrapped.pop()
            setattr(owner, attr, original)

    def of(self, name: str, op: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and "end" in s and (op is None or s["op"] == op)]

    def total(self, name: str, op: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.of(name, op))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (children are clipped to the parent)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path) -> None:
        selfs = self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs.get(s["id"])},
                                   default=str) + "\n")


# ----------------------------------------------------------- event log

def eventlog_conf(log_dir: Path) -> dict:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_eventlog(log_dir: Path) -> tuple[list[dict], list[float]]:
    """(tasks, job submission times) from the one uncompressed event log
    in ``log_dir``; read after the SparkContext has stopped."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    tasks, jobs = [], []
    wanted = ('{"Event":"SparkListenerJobStart"',
              '{"Event":"SparkListenerTaskEnd"')
    with open(files[0]) as f:
        for line in f:
            # plan-carrying SQL events make up most of the log's bytes
            if not line.startswith(wanted):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "finish": info["Finish Time"] / 1000,
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)),
                })
    return tasks, jobs


def fold(spans: list[dict], tasks: list[dict], jobs: list[float]) -> dict:
    """Spark task metrics of the tasks that finished, and the jobs that
    were submitted, inside the given spans' time windows."""
    win = [(s["start"], s["end"]) for s in spans]
    inside = lambda t: any(a <= t <= b for a, b in win)
    mine = [t for t in tasks if inside(t["finish"])]
    skews = []
    for a, b in win:
        runs = [t["run_s"] for t in mine if a <= t["finish"] <= b]
        med = statistics.median(runs) if runs else 0.0
        if med > 0:
            skews.append(max(runs) / med)
    return {
        "cpu_s": sum(t["cpu_s"] for t in mine),
        "gc_s": sum(t["gc_s"] for t in mine),
        "tasks": len(mine),
        "jobs": sum(1 for j in jobs if inside(j)),
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in mine) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in mine) / 1e6,
        "task_skew": max(skews) if skews else 1.0,
    }
