"""Measurement helpers: in-memory spans, a peak-RSS sampler, JVM GC time
and the reduction of Spark's event log by job description.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: str | None
    run_id: str
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory; ``dump`` writes them out once at the end.

    Each span also labels the Spark jobs it triggers with the job
    description ``<run_id>/<name>``, so the event log can be grouped by
    span. A disabled tracer only times (no job labels).
    """

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, run_id: str, parent: str | None = None):
        s = Span(name, time.monotonic(), parent, run_id)
        if self.enabled:
            self.sc.setJobDescription(f"{run_id}/{name}")
        try:
            yield s
        finally:
            s.end = time.monotonic()
            if self.enabled:
                self.sc.setJobDescription(f"{run_id}/{parent}" if parent else None)
            self.spans.append(s)

    def find(self, run_id: str, name: str) -> Span | None:
        return next(
            (s for s in self.spans if s.run_id == run_id and s.name == name), None
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id}
                    for s in self.spans
                ],
                fh,
                indent=1,
            )


def _descendants(root: int) -> list[int]:
    parent: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # the command name may hold spaces: fields follow the last ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, ()))
    return out


def descendant_pids() -> list[int]:
    """Processes this benchmark started (the JVM and its Python workers)."""
    me = os.getpid()
    return [p for p in _descendants(me) if p != me]


def tree_cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    descendant. Reaped children count through their parent's
    cutime/cstime, so the sum over the live tree only grows."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 14-17 of stat(5): utime stime cutime cstime
        total += sum(int(x) for x in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of the summed RSS of this process and every descendant,
    sampled on a background thread.

    A process counts from its second sample on. The JVM starts children
    through vfork, and until the child execs it shares the JVM's memory
    and reports the JVM's whole RSS: counted at once, one such moment
    doubled the JVM in the sum.
    """

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        seen: set[int] = set()
        while not self._stop.is_set():
            pids = set(_descendants(os.getpid()))
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids & seen))
            seen = pids
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000


def jit_cpu_seconds() -> float:
    """CPU time used so far by the JIT compiler threads of the JVMs this
    benchmark started (a compiler thread that has exited is not counted)."""
    total = 0
    for pid in descendant_pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"java" not in fh.read().split(b"\0")[0]:
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
            if comm.startswith(("C1 Compiler", "C2 Compiler")):
                total += sum(int(x) for x in rest.split()[11:13])
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class JobStats:
    jobs: float = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


def reduce_event_log(log_dir: str, app_id: str) -> tuple[dict[str, JobStats], list]:
    """Group task CPU, GC, shuffle write and disk spill by job description.

    Returns (stats per description, [(submit_s, end_s)] per job) with
    times in seconds since the epoch.
    """
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: list[tuple[float, float]] = []
    stats: dict[str, JobStats] = defaultdict(JobStats)
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                for sid in ev["Stage IDs"]:
                    stage_desc[sid] = desc
                stats[desc].jobs += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_start:
                    intervals.append((job_start[ev["Job ID"]], ev["Completion Time"] / 1000))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stats[stage_desc.get(ev["Stage ID"], "")]
                st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000
                st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
    return dict(stats), intervals


def idle_seconds(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Wall time in [start, end] (epoch seconds) during which no job ran."""
    busy, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            busy += b - a
            cursor = b
    return (end - start) - busy
