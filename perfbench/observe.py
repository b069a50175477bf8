"""Engine-side observation: process-tree memory, streaming progress and
Spark job/stage/task counts. Nothing here reaches into ``trembita_spark``;
it reads ``/proc``, a ``StreamingQueryListener`` and
``SparkContext.statusTracker()``."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``."""
    children = _children()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants (the
    Python driver, the JVM it launched and Spark's Python workers)."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """``(all, jit)``: CPU seconds (user + system) of ``root_pid`` and its
    live descendants, including their reaped children, and the part of it
    spent in the JVM's JIT compiler threads. The kernel leaves out time
    the hypervisor gave to other guests (steal), so this grows far less
    than wall time when neighbours on the host are busy, though shared
    cores and caches still slow it. Compiler threads must not exit
    between two readings (the session disables HotSpot's dynamic compiler
    thread count), or their time would be lost."""
    total = jit = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            if b"(C1 CompilerThre" in stat or b"(C2 CompilerThre" in stat:
                fields = stat[stat.rindex(b")") + 2 :].split()
                jit += int(fields[11]) + int(fields[12])
    return total / _TICK, jit / _TICK


def cpu_times() -> list[int]:
    """The host's summed CPU time counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_times` readings that the
    hypervisor gave to other guests: noise a reader should see beside
    the timings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


class RssSampler:
    """Background sampler of :func:`tree_rss_bytes`; keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch's progress, tagged with the job that
    started the query. ``onQueryStarted`` is delivered synchronously on
    the thread that starts the query, so ``tag`` set before a job is the
    tag its queries get; progress events arrive asynchronously and are
    matched by run id."""

    def __init__(self):
        self.tag = None
        self.runs: dict[str, object] = {}  # run id -> tag
        self.batches: list[tuple[object, dict]] = []  # (tag, progress fields)
        self._ended: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.runs[str(event.runId)] = self.tag

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        fields = {
            "run": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
        }
        with self._lock:
            self.batches.append((self.runs.get(str(p.runId)), fields))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._ended.add(str(event.runId))

    def run_ids(self, tag) -> list[str]:
        with self._lock:
            return [r for r, t in self.runs.items() if t == tag]

    def drain(self, timeout_s: float = 30.0) -> bool:
        """Wait until every started query's termination was delivered
        (progress events precede it on the listener bus)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self._ended >= self.runs.keys():
                    return True
            time.sleep(0.05)
        return False

    def for_tags(self, tags) -> list[dict]:
        tags = set(tags)
        with self._lock:
            return [f for t, f in self.batches if t in tags]


class EngineCounter:
    """Stage and task counts of one benchmark job via the status tracker.

    The job's own actions run under a job group named after it; each
    streaming query runs its micro-batches (and foreachBatch actions)
    under a job group named by its run id. ``begin``/``end`` bracket one
    job."""

    def __init__(self, sc, progress: StreamProgress | None):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._progress = progress

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def end(self, group: str, tag) -> dict[str, int]:
        groups = [group]
        if self._progress is not None:
            groups += self._progress.run_ids(tag)
        stages = tasks = failed = 0
        for g in groups:
            for job_id in self._tracker.getJobIdsForGroup(g):
                job = self._tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else ():
                    info = self._tracker.getStageInfo(stage_id)
                    if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                        continue  # skipped (reused shuffle) or evicted
                    stages += 1
                    tasks += info.numCompletedTasks
                    failed += info.numFailedTasks
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        return {"stages": stages, "tasks": tasks, "failed_tasks": failed}


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    s = sorted(values)
    if not s:
        raise ValueError("quantile of no values")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values) -> tuple[float, float]:
    """``(percentile, value)``: the highest of p99/p95/p90 that has at
    least ten samples beyond it. With fewer than 100 samples none has, and
    p75 is used: a higher percentile of a few samples is close to the
    slowest single one. The percentile and sample count are reported
    beside the value."""
    n = len(values)
    for p in (0.99, 0.95, 0.90):
        if n * (1 - p) >= 10:
            return p * 100, quantile(values, p)
    return 75.0, quantile(values, 0.75)
