"""Measurement layer: spans, Spark counters and process-tree RSS.

Spans are kept in memory until the run ends.  Each span that asks for it
gets its own Spark job group, so the jobs it started can be read back from
``sc.statusTracker()`` and their stage counters from the status store
(``sc._jsc.sc().statusStore()``) — both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Ops:
    """Operation counter: one op is one query or one table write."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def op(self):
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            raise


class Tracer:
    """Records (name, start, end, parent, run id) spans; a disabled tracer
    records nothing and sets no job group."""

    def __init__(self, spark, run_id: str, enabled: bool = True) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, kind: str | None = None, jobs: bool = False):
        if not self.enabled:
            yield
            return
        rec = {"id": f"{self.run_id}/{len(self.spans)}", "name": name, "kind": kind, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if jobs:
            rec["group"] = rec["id"]
            self._groups.append(rec["group"])
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["end_epoch"] = time.time()
            self._stack.pop()
            if jobs:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def of_kind(self, kind: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == kind]

    def attach_counters(self) -> None:
        """Fill each job-grouped span with the counters of its jobs."""
        if not self.enabled:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            if "group" in s:
                s["counters"] = job_counters(store, self.sc.statusTracker().getJobIdsForGroup(s["group"]))

    def records(self) -> list[dict]:
        return [
            {k: v for k, v in s.items() if k not in ("group", "end_epoch")}
            | {"start": round(s["start"], 6), "end": round(s["end"], 6)}
            for s in self.spans
        ]


COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
            "input_mb", "shuffle_write_mb", "spill_mb", "scan_tasks", "last_job_end")


def job_counters(store, job_ids) -> dict[str, float]:
    """Sum the stage counters of ``job_ids``.  A stage shared by several jobs
    counts once; a stage skipped because its shuffle output was reused does
    not count."""
    c = dict.fromkeys(COUNTERS, 0.0)
    seen: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        c["jobs"] += 1
        done = job.completionTime()
        if done.isDefined():
            c["last_job_end"] = max(c["last_job_end"], done.get().getTime() / 1000.0)
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            tasks = st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            c["stages"] += 1
            c["tasks"] += tasks
            c["failed_tasks"] += st.numFailedTasks()
            c["run_s"] += st.executorRunTime() / 1e3
            c["cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["input_mb"] += st.inputBytes() / MB
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            if st.inputBytes() > 0:
                c["scan_tasks"] += tasks
    return c


def total(spans: list[dict], key: str) -> float:
    return sum(s.get("counters", {}).get(key, 0.0) for s in spans)


def duration(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def tree_size(path: str, suffix: str = ".parquet") -> tuple[int, int, int]:
    """(files, partition directories holding them, bytes) under ``path``,
    which may also be a single file."""
    if os.path.isfile(path):
        return 1, 1, os.path.getsize(path)
    files = size = 0
    dirs = set()
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
                dirs.add(root)
    return files, len(dirs), size


def descendants() -> list[int]:
    """Process ids of every descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # the process ended while we looked
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM and
    Python workers), sampled from /proc while active.  A process counts once
    it has been seen in two samples in a row: a child the JVM spawns shares
    the JVM's memory until it execs, and /proc reports that memory for both."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._seen: set[int] = set()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        tree = {os.getpid(), *descendants()}
        lasting, self._seen = tree & self._seen, tree
        rss = 0
        for pid in lasting:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return rss

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            time.sleep(self.interval)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
