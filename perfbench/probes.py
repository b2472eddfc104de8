"""Measurement probes the benchmark wraps around the program from outside.

* `Tracer` — in-memory spans (name, layer, start, end, parent) with per-layer
  self time, written as JSON at the end of a run.
* `instrument` — temporarily wraps the public functions of each pipeline
  layer so the traced pass materializes (persists and counts) every layer
  boundary in turn inside that layer's span, and records the layer's counts.
* `StageCounter` — Spark-wide task/shuffle/spill counts from the driver's
  status store (works with the UI disabled).
* `PeakRss` — peak resident memory of this process and all descendants
  (the JVM and its Python workers), sampled from /proc.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional

MB = 1e6


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: Optional[int]


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Span] = []
        self.counts: Dict[str, float] = {}
        self._stack: List[int] = []
        self._t0 = time.perf_counter()
        self._persisted: list = []

    @contextmanager
    def span(self, name: str, layer: Optional[str] = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, layer or name, time.perf_counter() - self._t0,
                  0.0, parent)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter() - self._t0

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def keep(self, df):
        """Persist ``df`` and remember it for `release`."""
        self._persisted.append(df.persist())
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def self_times(self, spans: Optional[List[Span]] = None) -> Dict[str, float]:
        """Layer -> summed self time (span minus the time its children
        cover; children of one span never overlap — one driver thread)."""
        spans = self.spans if spans is None else spans
        child_time: Dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) \
                    + (s.end - s.start)
        out: Dict[str, float] = {}
        for s in spans:
            own = (s.end - s.start) - child_time.get(s.id, 0.0)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times(),
                       "counts": self.counts}, fh, indent=1)


class StageCounter:
    """Sums over the Spark stages that ran since the last `mark`."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        # AppStatusStore.stageList(statuses, details, withSummaries,
        # quantiles, taskStatuses): all stages, no task details
        self._args = (None, False, False,
                      sc._gateway.new_array(sc._jvm.double, 0),
                      sc._jvm.java.util.ArrayList())
        self._seen = self._keys()

    def _stages(self):
        self._sc.listenerBus().waitUntilEmpty()
        seq = self._sc.statusStore().stageList(*self._args)
        return [seq.apply(i) for i in range(seq.size())]

    def _keys(self):
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def mark(self) -> None:
        self._seen = self._keys()

    def delta(self) -> Dict[str, float]:
        """Counts over stages new since the last mark (then re-marks)."""
        out = {"stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        seen = set()
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            seen.add(key)
            if key in self._seen or s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += (s.numCompleteTasks() + s.numFailedTasks()
                             + s.numKilledTasks())
            out["failed_tasks"] += s.numFailedTasks()
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / MB
        self._seen = seen
        return out


def _parents() -> Dict[int, int]:
    """pid -> parent pid for every process."""
    out: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants() -> List[int]:
    """Pids of every live descendant of this process."""
    children: Dict[int, List[int]] = {}
    for p, ppid in _parents().items():
        children.setdefault(ppid, []).append(p)
    out: List[int] = []
    todo = list(children.get(os.getpid(), ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def wait_gone(pids: List[int], timeout_s: float) -> None:
    """Wait until every pid has exited; SIGKILL what outlives the timeout."""
    import signal

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    end = time.monotonic() + timeout_s
    live = [p for p in pids if alive(p)]
    while live:
        if time.monotonic() > end:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            end = time.monotonic() + 5
            if not any(alive(p) for p in live):
                return
        time.sleep(0.1)
        live = [p for p in live if alive(p)]


class PeakRss:
    """Background sampler of the summed RSS of this process tree."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_mb = 0.0
        self.peak_by_name: Dict[str, float] = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss_mb(self) -> Dict[str, float]:
        """Resident MB per process name (java, python, ...) in the tree.

        A child the JVM has forked but not yet exec'd shares the JVM's
        address space and carries the forking thread's name, not its
        binary's; it is skipped, else that sample would count the JVM
        twice."""
        out: Dict[str, float] = {}
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                if not os.path.basename(
                        os.readlink(f"/proc/{pid}/exe")).startswith(comm):
                    continue
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page / MB
            except OSError:
                continue
            out[comm] = out.get(comm, 0.0) + rss
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            by_name = self._tree_rss_mb()
            total = sum(by_name.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_by_name = total, by_name
            self._stop.wait(self._interval)


# ------------------------------------------------------------ layer wrappers

def _patch(patches, owner, attr, make):
    orig = getattr(owner, attr)
    patches.append((owner, attr, orig))
    setattr(owner, attr, make(orig))


@contextmanager
def instrument(tracer: Tracer, stages: StageCounter):
    """Wrap each layer's public functions for the duration of the block.

    The pipeline calls its layers through module attributes, so replacing
    those attributes reroutes the calls.  Each wrapper runs the original,
    then persists and counts its output inside the layer's span, so the
    lazily-built plan executes layer by layer and every span holds only
    that layer's work (its inputs were materialized by the span before)."""
    from pyspark.sql import functions as F

    from docling_graph_spark import checkpointing
    from docling_graph_spark.operators import chunk, entities, extract, graph, stats

    def extract_wrap(orig):
        def wrapped(*a, **kw):
            with tracer.span("extract_and_chunk", "operators.extract"):
                out = tracer.keep(orig(*a, **kw))
                ok = F.col("error").isNull() & (F.length(F.trim("text")) > 0)
                row = out.agg(
                    F.count("*").alias("docs"),
                    F.sum(F.when(ok, 1).otherwise(0)).alias("ok"),
                    F.sum(F.when(F.col("error").isNotNull(), 1)
                          .otherwise(0)).alias("errors"),
                    F.sum(F.coalesce("bytes_stripped", F.lit(0))).alias("b"),
                ).collect()[0]
            tracer.add("extract.docs", row.docs)
            tracer.add("extract.ok", row.ok or 0)
            tracer.add("extract.errors", row.errors or 0)
            tracer.add("extract.bytes_stripped_mb", (row.b or 0) / MB)
            return out
        return wrapped

    def counted(name, layer, counter=None, shuffle_key=None):
        def make(orig):
            def wrapped(*a, **kw):
                stages.mark()
                with tracer.span(name, layer):
                    out = tracer.keep(orig(*a, **kw))
                    n = out.count()
                if counter:
                    tracer.add(counter, n)
                if shuffle_key:
                    tracer.add(shuffle_key, stages.delta()["shuffle_write_mb"])
                return out
            return wrapped
        return make

    def plan_only(name, layer):
        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(name, layer):
                    return orig(*a, **kw)
            return wrapped
        return make

    def clean_wrap(orig):
        def wrapped(*a, **kw):
            stages.mark()
            with tracer.span("clean_graph", "operators.graph"):
                nodes, edges = orig(*a, **kw)
                tracer.keep(nodes)
                tracer.keep(edges)
                n_nodes, n_edges = nodes.count(), edges.count()
            tracer.add("graph.nodes", n_nodes)
            tracer.add("graph.edges", n_edges)
            tracer.add("graph.shuffle_mb", stages.delta()["shuffle_write_mb"])
            return nodes, edges
        return wrapped

    def pending_wrap(orig):
        def wrapped(inputs, done, *a, **kw):
            with tracer.span("pending_inputs", "checkpointing") as sp:
                todo = orig(inputs, done, *a, **kw)
                n_todo = todo.count()
            tracer.add("checkpoint.probe_s", sp.end - sp.start)
            tracer.add("checkpoint.offered", inputs.count())
            tracer.add("checkpoint.pending", n_todo)
            return todo
        return wrapped

    patches: list = []
    try:
        _patch(patches, extract, "extract_and_chunk", extract_wrap)
        _patch(patches, chunk, "chunks_from_combined",
               counted("chunks_from_combined", "operators.chunk",
                       "chunk.rows"))
        _patch(patches, entities, "extract_mentions",
               plan_only("extract_mentions", "operators.entities"))
        _patch(patches, entities, "doc_mentions",
               counted("doc_mentions", "operators.entities",
                       "entities.rows", "entities.shuffle_mb"))
        _patch(patches, graph, "assemble_web_graph",
               plan_only("assemble_web_graph", "operators.graph"))
        _patch(patches, graph, "clean_graph", clean_wrap)
        _patch(patches, stats, "partition_metrics",
               counted("partition_metrics", "operators.stats"))
        _patch(patches, checkpointing, "pending_inputs", pending_wrap)
        yield tracer
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
