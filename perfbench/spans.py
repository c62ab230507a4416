"""Spans, Spark stage totals and peak memory for the GAS benchmark.

Everything here observes the engine from outside: spans are recorded by
the benchmark around calls into the package's public functions (and, in a
traced run, by wrappers installed on those functions for the duration of
the run), Spark-side costs are read per job group from the status store,
and peak memory is read from /proc.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    sid: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times layer calls. With ``enabled`` it also keeps every span (name,
    start, end, parent, run id) in memory until the run writes them out;
    without it a span is only a stopwatch, so the untraced run keeps no
    per-call state."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        s = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                 run_id=self.run_id)
        if self.enabled:
            with self._lock:
                s.sid = len(self.spans)
                self.spans.append(s)
            stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``unwrap_all``; a no-op when tracing is off."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.seconds - child[s.sid]
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id}
            for s in self.spans
        ]


@dataclass
class StageTotals:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    scan_run_s: float = 0.0  # executor time of stages that read files
    stage_ids: set = field(default_factory=set)


def stage_totals(spark, group: str) -> StageTotals:
    """Sum the last attempt of every stage of every job tagged ``group``.

    Reads ``statusTracker()`` for the group's jobs and the status store for
    each stage's task metrics; both stay populated with the UI disabled.
    Waits for the listener bus first, so the totals include the last job.
    """
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    mb = 1024.0 * 1024.0
    out = StageTotals()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            if sid in out.stage_ids:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out.stage_ids.add(sid)
            out.tasks += st.numCompleteTasks()
            run_s = st.executorRunTime() / 1000.0
            out.executor_run_s += run_s
            out.shuffle_read_mb += (
                st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / mb
            out.shuffle_write_mb += st.shuffleWriteBytes() / mb
            out.spill_mb += st.diskBytesSpilled() / mb
            if st.inputBytes() > 0 and st.inputRecords() > 0:
                out.scan_run_s += run_s
    return out


def cached_mb(spark) -> float:
    """Block-manager storage (memory + disk) held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def _hwm_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of ``pid`` in KiB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pids(root: int) -> list[int]:
    """Descendant processes of ``root`` whose command is java."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm sits in parentheses and may itself hold spaces
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
        comm[int(d)] = name
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            if comm.get(c) == "java":
                out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this driver process plus its JVM, from /proc VmHWM (the
    kernel's high-water mark, so no peak falls between samples)."""
    pids = [os.getpid(), *_jvm_pids(os.getpid())]
    return sum(_hwm_kb(p) for p in pids) / 1024.0
