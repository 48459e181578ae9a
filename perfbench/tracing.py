"""Measurement plumbing for the benchmark: spans, process counters, Spark's
event log and streaming progress.

Spans are recorded by the benchmark around its calls into the package (the
package itself is not instrumented). Each span sets the Spark job
description to its id, so the event log ties every job to the span that
caused it. Jobs Spark describes itself (streaming micro-batches) or that a
package-internal thread submits fall back to the innermost span open when
the job was submitted.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With ``sc`` set, every span also becomes
    the Spark job description for its duration."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent and parent.sid, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobDescription(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(parent.sid if parent else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ------------------------------------------------------ process counters


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is field 3
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """``root`` and every live descendant, with their stat fields."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
                children.setdefault(int(st[1]), []).append(int(entry))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, plus reaped children) of ``root`` and
    every live descendant: the driver, the Spark JVM and its Python
    workers."""
    ticks = sum(sum(int(x) for x in st[11:15])  # utime stime cutime cstime
                for st in _tree(root).values())
    return ticks / _CLK_TCK


def descendants(root: int) -> dict[int, str]:
    """Every live descendant of ``root``: pid -> start time, which tells
    the process apart from a later one that reuses its pid."""
    return {pid: st[19] for pid, st in _tree(root).items() if pid != root}


def _alive(pid: int, start: str) -> bool:
    try:  # reap it if it is our own exited child
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    st = _stat(pid)
    if st is None or st[19] != start:
        return False
    # a process whose main thread has exited shows as a zombie while its
    # other threads still run, so every thread is looked at
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.rindex(")") + 2] not in "ZX":
            return True
    return False


def reap(procs: dict[int, str], grace: float = 30.0) -> None:
    """Wait until every process in ``procs`` (from ``descendants``) has
    ended: ``grace`` seconds to exit by itself, then SIGTERM, then after
    10 seconds more SIGKILL."""
    left = dict(procs)
    for sig, wait in ((None, grace), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        left = {p: s for p, s in left.items() if _alive(p, s)}
        for pid in left if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = {p: s for p, s in left.items() if _alive(p, s)}
        if not left:
            return


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (``steal`` in /proc/stat): a shared host's contention, which
    wall-time metrics cannot separate from the program's own cost."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def peak_rss_mb(pids) -> float:
    """Sum of the lifetime peak resident set (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


# ---------------------------------------------------------- event log


@dataclass
class Job:
    job_id: int
    desc: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    span: str | None = None


def _event_lines(path: str):
    """Lines of a single-file event log, or of a rolling one (a directory
    of ``events_<n>_<app id>`` files, Spark's default since 4.0)."""
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


def parse_event_log(path: str) -> list[Job]:
    """Jobs of one Spark application, with their tasks' metrics summed.

    Reads the uncompressed JSON-lines event log. A task is charged to the
    job that submitted its stage attempt."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.job.description"),
                      ev["Submission Time"] / 1000)
            jobs[job.job_id] = job
            for sid in ev["Stage IDs"]:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            # a shuffle stage reused by a later job is re-listed in that
            # job's Stage IDs; the submitting job is the latest lister
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.run_s += m["Executor Run Time"] / 1000
            job.cpu_s += m["Executor CPU Time"] / 1e9
            job.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            job.shuffle_read += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            job.spill += m["Disk Bytes Spilled"]
            job.input_bytes += m["Input Metrics"]["Bytes Read"]
            job.input_rows += m["Input Metrics"]["Records Read"]
    return sorted(jobs.values(), key=lambda j: j.job_id)


def assign_spans(jobs: list[Job], spans: list[Span]) -> int:
    """Set ``job.span`` for every job; returns how many jobs matched no
    span. A job described with a span id belongs to that span; any other
    job belongs to the innermost span open at its submission."""
    by_id = {s.sid: s for s in spans}
    unmatched = 0
    for job in jobs:
        if job.desc in by_id:
            job.span = job.desc
            continue
        best = None
        for s in spans:
            if s.start <= job.submit <= s.end and (best is None or s.start >= best.start):
                best = s
        job.span = best.sid if best else None
        unmatched += best is None
    return unmatched


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_file(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) or name == f"eventlog_v2_{app_id}":
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# ---------------------------------------------------- streaming progress


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report.

    Built lazily so importing this module does not need pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._done: set[str] = set()
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._cv:
                self.progress.append({
                    "id": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self._done.add(str(event.id))
                self._cv.notify_all()

        def terminated(self) -> int:
            with self._cv:
                return len(self._done)

        def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
            """Block until ``n`` queries have reported termination (the
            listener bus is asynchronous)."""
            with self._cv:
                self._cv.wait_for(lambda: len(self._done) >= n, timeout)

    return ProgressListener()
