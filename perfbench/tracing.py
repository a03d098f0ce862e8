"""Measurement plumbing: catalog spans, process-tree RSS, Spark job
counts and the Spark event log.

Nothing inside the package is instrumented. The traced run wraps the
``SinkCatalog`` methods from the benchmark's side of that boundary; the
untraced run measures the unmodified program.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time


class Tracer:
    """Call counts and summed seconds per span name, by start time.
    Thread-safe: the routing fan-out calls the catalog from several
    threads at once."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()

    def totals(self, t0: float, t1: float) -> dict[str, tuple[int, float]]:
        """(calls, summed seconds) per span name, for spans starting in [t0, t1)."""
        out: dict[str, tuple[int, float]] = {}
        with self._lock:
            for name, s, e in self.spans:
                if t0 <= s < t1:
                    n, secs = out.get(name, (0, 0.0))
                    out[name] = (n + 1, secs + e - s)
        return out

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a timed wrapper; returns an undo callable."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with self._lock:
                    self.spans.append((name, t0, t1))

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, orig)


def _proportional_bytes(pid: int) -> int:
    """PSS of one process: resident pages, with each page shared by n
    processes counted 1/n. Summed over forked Python workers this counts
    their common copy-on-write pages once, as plain RSS would not."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` followed by every process descending from it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(children.get(pid, ()))
    return tree


def tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """Resident bytes (PSS) of ``root_pid`` (the driver JVM) and, summed,
    of every process it forked (the Python daemon and its workers)."""
    sizes = []
    for pid in process_tree(root_pid):
        try:
            sizes.append(_proportional_bytes(pid))
        except (OSError, IndexError, ValueError):
            sizes.append(0)
    return sizes[0], sum(sizes[1:])


class RssSampler:
    """Background sampler of resident memory. ``peak`` is the highest
    JVM + workers total seen; ``peak_jvm`` and ``peak_workers`` are the
    highest of each part on its own (bytes)."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid, self.interval = root_pid, interval
        self.peak = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self):
        jvm, workers = tree_rss_bytes(self.root_pid)
        self.peak = max(self.peak, jvm + workers)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def job_ids(spark) -> set[int]:
    """Ids of every job the status tracker still holds (none of the
    benchmark's jobs use a job group)."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def job_tasks(spark, ids) -> int:
    """Tasks in the stages of the given jobs."""
    tracker = spark.sparkContext.statusTracker()
    stages = set()
    for j in ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return sum(
        s.numTasks for s in (tracker.getStageInfo(i) for i in stages) if s is not None
    )


_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
}


def event_log_windows(log_dir: str, windows: list[tuple[float, float]], cores: int) -> list[dict]:
    """Engine counters per timed window, read from the (closed) Spark
    event log. A job or stage belongs to the window its submission time
    falls in, which attributes the routing fan-out's pool-tagged sink jobs
    and the benchmark's own jobs alike; set-up and probe jobs fall outside
    every window."""
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    ms = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def window_of(t):
        for i, (a, b) in enumerate(ms):
            if a <= t < b:
                return i
        return None

    out = [
        {k: 0 for k in ("jobs", "stages", "tasks", "single_task_stages_over_1s")}
        | {name: 0.0 for name, _ in _STAGE_METRICS.values()}
        for _ in windows
    ]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            w = window_of(ev.get("Submission Time", -1))
            if w is not None:
                out[w]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            w = window_of(info.get("Submission Time", -1))
            if w is None:
                continue
            o = out[w]
            o["stages"] += 1
            o["tasks"] += info["Number of Tasks"]
            elapsed = info.get("Completion Time", 0) - info.get("Submission Time", 0)
            if info["Number of Tasks"] == 1 and elapsed > 1000:
                o["single_task_stages_over_1s"] += 1
            for acc in info.get("Accumulables", []):
                hit = _STAGE_METRICS.get(acc.get("Name"))
                if hit is not None:
                    o[hit[0]] += float(acc.get("Value", 0)) * hit[1]
    for o, (a, b) in zip(out, windows):
        o["busy_ratio"] = o["executor_run_s"] / ((b - a) * cores)
    return out
