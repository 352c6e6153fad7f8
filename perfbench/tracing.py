"""Tracing for the benchmark: spans from wrappers around the repo's
public entry points, a process-tree RSS sampler, and a fold of Spark's
JSON event log that attributes stage and task metrics to the spans.

The wrappers live here, not in the program: each one records a span
(name, thread, start, end) and labels every Spark job started inside
it with the span name through the job description, a thread-local
Spark property. Wrappers are installed only for the traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- process-tree RSS --------------------------------------------------------

def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (driver Python,
    the JVM it launched, and the JVM's Python workers)."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS on one background thread and keeps
    the peak. Use as a context manager."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


# -- spans -------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and labels the Spark jobs started inside them.

    ``patch`` swaps a module or class attribute for a wrapper and
    ``unpatch_all`` restores every original, so the program itself is
    never edited and an untraced run executes the original code."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(name)
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(s)

    def patch(self, owner: object, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]: the
    part of a parent span its (possibly overlapping) children cover."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- event-log fold ----------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.memoryBytesSpilled": "spill_mem",
    "internal.metrics.diskBytesSpilled": "spill_disk",
}


@dataclass
class Fold:
    """Per-job, per-stage and per-task facts from one event log."""

    jobs: dict = field(default_factory=dict)  # job id -> {desc, submit_ms, stages}
    stages: dict = field(default_factory=dict)  # stage id -> metrics dict
    tasks: list = field(default_factory=list)  # (stage, launch_ms, finish_ms, run_ms)
    stage_job: dict = field(default_factory=dict)  # stage id -> job id

    def desc_of_stage(self, stage_id: int) -> str:
        job = self.stage_job.get(stage_id)
        return (self.jobs.get(job) or {}).get("desc") or ""


def fold_event_log(lines) -> Fold:
    """Fold Spark's JSON event log (one event per line): job
    descriptions from SparkListenerJobStart, stage accumulables from
    SparkListenerStageCompleted, task run times from
    SparkListenerTaskEnd."""
    out = Fold()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            out.jobs[jid] = {
                "desc": props.get("spark.job.description") or "",
                "submit_ms": ev.get("Submission Time", 0),
                "stages": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                out.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            m = {
                "run_ms": 0, "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0,
                "spill_mem": 0, "spill_disk": 0,
                "n_tasks": info.get("Number of Tasks", 0),
                "submit_ms": info.get("Submission Time", 0),
                "complete_ms": info.get("Completion Time", 0),
            }
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key is not None:
                    m[key] += int(acc.get("Value") or 0)
            out.stages[info["Stage ID"]] = m
        elif kind == "SparkListenerTaskEnd":
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            out.tasks.append((
                ev.get("Stage ID"),
                ti.get("Launch Time", 0),
                ti.get("Finish Time", 0),
                tm.get("Executor Run Time", 0),
            ))
    return out


def read_and_delete_event_logs(log_dir: str) -> Fold:
    """Fold every event log in ``log_dir`` and delete them (a traced
    crawl writes tens of MB)."""
    names = sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []
    lines: list[str] = []
    for n in names:
        path = os.path.join(log_dir, n)
        with open(path) as f:
            lines.extend(f)
        os.remove(path)
    return fold_event_log(lines)


def window_stats(fold: Fold, lo_ms: float, hi_ms: float, labels: set[str]) -> dict:
    """Jobs, stages and tasks that started inside [lo_ms, hi_ms], with
    the share of task time carried by jobs labelled with ``labels``."""
    jobs = [j for j in fold.jobs.values() if lo_ms <= j["submit_ms"] <= hi_ms]
    stages = [s for s, m in fold.stages.items() if lo_ms <= m["submit_ms"] <= hi_ms]
    tasks = [t for t in fold.tasks if lo_ms <= t[1] <= hi_ms]
    task_ms = sum(t[3] for t in tasks)
    labelled = sum(t[3] for t in tasks if fold.desc_of_stage(t[0]) in labels)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "task_ms": task_ms,
        "labelled_frac": (labelled / task_ms) if task_ms else 1.0,
    }


def span_stage_metrics(fold: Fold, desc: str, window: tuple[float, float] | None = None) -> dict:
    """Task time, shuffle MB and task skew (max / median task run time)
    of all stages whose job carries description ``desc`` (and, given a
    ``window`` of epoch seconds, that were submitted inside it)."""
    lo, hi = (window[0] * 1000, window[1] * 1000) if window else (float("-inf"), float("inf"))
    sids = {
        s for s, m in fold.stages.items()
        if fold.desc_of_stage(s) == desc and lo <= m["submit_ms"] <= hi
    }
    run = [t[3] for t in fold.tasks if t[0] in sids]
    shuffle = sum(fold.stages[s]["shuffle_read"] + fold.stages[s]["shuffle_write"] for s in sids)
    med = statistics.median(run) if run else 0
    return {
        "task_s": sum(fold.stages[s]["run_ms"] for s in sids) / 1000.0,
        "shuffle_mb": shuffle / (1 << 20),
        "task_skew": (max(run) / med) if med else 0.0,
    }


def totals(fold: Fold, window: tuple[float, float]) -> dict:
    """JVM GC seconds and spilled MB (disk) of the stages submitted
    inside ``window`` (epoch seconds)."""
    stages = [m for m in fold.stages.values() if window[0] * 1000 <= m["submit_ms"] <= window[1] * 1000]
    return {
        "spark.gc_s": sum(m["gc_ms"] for m in stages) / 1000.0,
        "spark.spill_mb": sum(m["spill_disk"] for m in stages) / (1 << 20),
    }
