"""Spans and Spark counters recorded from outside the engine.

A :class:`Tracer` wraps every call the benchmark makes into an engine
layer in a span (name, start, end, parent, op id) and, per measured op,
reads Spark's own job and stage counters for the op's job groups from
the status store. Spans stay in memory and are written out when the run
ends. A disabled tracer records nothing and sets no job groups, so the
untraced run measures the engine alone.

Each thread keeps its own span stack. A thread whose stack is empty
nests its spans under the main thread's open span: a ``foreachBatch``
body runs on a py4j callback thread while the client waits in
``awaitTermination``, and set-up legs run on a thread pool.

Tracing's own cost (directory diffs, status-store reads) is timed and
reported as a share of the measured window.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


def dir_files(path: str) -> dict[str, int]:
    """{relative path: bytes} of every regular file under ``path``."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except FileNotFoundError:  # removed by a concurrent vacuum
                continue
    return out


def dir_bytes(*paths: str) -> int:
    return sum(sum(dir_files(p).values()) for p in paths if os.path.isdir(p))


def _count_refs(node, names: set[str]) -> int:
    """Manifest leaves that point at one of ``names`` (new snapshot dirs)."""
    if isinstance(node, dict):
        return sum(_count_refs(v, names) for v in node.values())
    if isinstance(node, list):
        return sum(_count_refs(v, names) for v in node)
    return int(isinstance(node, str) and node in names)


@dataclass
class StoreDelta:
    """What one call wrote into a store directory."""

    commits: int = 0
    files: int = 0
    bytes: int = 0
    buckets: int = 0

    @classmethod
    def between(cls, before: dict[str, int], after: dict[str, int], root: str) -> "StoreDelta":
        new = {p: s for p, s in after.items() if p not in before}
        parts = {p: p.split(os.sep) for p in new}
        commits = [p for p, ps in parts.items() if "_commits" in ps and ps[-1].isdigit()]
        snapshots = {ps[ps.index("_snapshots") + 1] for ps in parts.values() if "_snapshots" in ps}
        buckets = 0
        for c in commits:
            try:
                with open(os.path.join(root, c)) as fh:
                    buckets += _count_refs(json.load(fh).get("manifest", {}), snapshots)
            except (OSError, ValueError):
                continue
        data = [p for p in new if p.endswith(".parquet")]
        return cls(len(commits), len(data), sum(new[p] for p in data), buckets)


@dataclass
class OpCounters:
    """Spark work attributed to one op through its job groups."""

    wall_s: float
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    job_busy_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class Tracer:
    spark: object = None
    enabled: bool = False
    cores: int = 1
    phase: str = "setup"
    spans: list[dict] = field(default_factory=list)
    ops: list[dict] = field(default_factory=list)
    store_deltas: list[tuple[str, StoreDelta]] = field(default_factory=list)
    input_bytes: int = 0
    own_s: float = 0.0  # time spent on tracing's own bookkeeping while measuring
    _stacks: dict[int, list[int]] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _op_id: str | None = None
    _groups: list[str] = field(default_factory=list)

    def _bookkeeping(self, t0: float) -> None:
        if self.phase == "measure":
            self.own_s += time.perf_counter() - t0

    def span(self, name: str, store: str | None = None):
        """Context manager timing one call into a layer. ``store``: a store
        directory whose files and commit manifests are diffed around the
        call (outside the span's own interval)."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, store)

    @contextmanager
    def _span(self, name: str, store: str | None):
        t0 = time.perf_counter()
        before = dir_files(store) if store else None
        self._bookkeeping(t0)
        stack = self._stacks.setdefault(threading.get_ident(), [])
        main = self._stacks.get(threading.main_thread().ident) or [None]
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else main[-1],
            "op": self._op_id,
            "phase": self.phase,
        }
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if store:
                delta = StoreDelta.between(before, dir_files(store), store)
                rec["store"] = delta.__dict__
                if self.phase == "measure":
                    self.store_deltas.append((name, delta))
                self._bookkeeping(rec["end"])

    def add_job_group(self, group: str) -> None:
        """Attribute jobs run under ``group`` (a streaming query's run id)
        to the open op as well."""
        if self.enabled:
            self._groups.append(group)

    def note_input(self, n_bytes: int) -> None:
        """Input bytes the open op writes into a store."""
        if self.phase == "measure":
            self.input_bytes += n_bytes

    @contextmanager
    def op(self, kind: str, index: int):
        """One client op: a job group for its Spark jobs and, after it
        returns, its counters from the status store."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._op_id = f"{self.phase}-{index}-{kind}"
        self._groups = [self._op_id]
        sc.setJobGroup(self._op_id, kind)
        t0_epoch, t0 = time.time(), time.perf_counter()
        try:
            with self._span(f"op.{kind}", None):
                yield
        finally:
            t1 = time.perf_counter()
            wall = t1 - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            counters = self._counters(wall, t0_epoch, t0_epoch + wall)
            self.ops.append({"id": self._op_id, "kind": kind, "phase": self.phase, **counters.__dict__})
            self._op_id = None
            self._bookkeeping(t1)

    def _counters(self, wall: float, t0: float, t1: float) -> OpCounters:
        from py4j.protocol import Py4JJavaError

        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # the status store lags the scheduler
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        out = OpCounters(wall_s=wall)
        jobs = sorted({j for g in self._groups for j in tracker.getJobIdsForGroup(g)})
        stages: set[int] = set()
        intervals = []
        for jid in jobs:
            job = store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                a = max(sub.get().getTime() / 1000.0, t0)
                b = min(end.get().getTime() / 1000.0, t1)
                if b > a:
                    intervals.append((a, b))
            info = tracker.getJobInfo(jid)
            stages.update(info.stageIds if info else [])
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped before any attempt
                continue
            out.tasks += st.numCompleteTasks() + st.numFailedTasks()
            out.failed_tasks += st.numFailedTasks()
            out.run_s += st.executorRunTime() / 1000.0
            out.input_bytes += st.inputBytes()
            out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.jobs = len(jobs)
        out.job_busy_s = _union_length(intervals)
        return out

    # -- summaries -------------------------------------------------------------

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"]) - _union_length(children.get(i, []))
            for i, s in enumerate(self.spans)
        ]

    def mean_duration(self, name: str, phase: str = "measure") -> float:
        """Mean wall of the spans called ``name`` in ``phase``; 0 if none."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["phase"] == phase]
        return sum(d) / len(d) if d else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        spans = [{**s, "self": selfs[i]} for i, s in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "ops": self.ops}, fh)
