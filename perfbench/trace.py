"""Spans around calls into the engine's layers, recorded from outside.

A :class:`Tracer` keeps spans (name, start, end, parent, run id) in
memory and writes them when the run ends. Each span runs under its own
Spark job group, so the status tracker tells which jobs, stages and
tasks the span caused. Jobs submitted from helper threads carry no
group; a span claims those that appeared while it was open and that no
child span claimed first.

:func:`instrument` swaps the engine's public layer functions for
wrappers that open a span and force the lazy result inside it, so
that the work lands in the layer that asked for it. The swap happens
in this process only and is undone on exit.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field

_PKG = "honors_p1_mapreduce_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._claimed: set[int] = set()

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"{self.run_id}-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:  # group-less jobs from before this span are not its own
            self._claimed |= set(self.sc.statusTracker().getJobIdsForGroup(None))
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self._group(parent), parent.name)
            self._count_runtime(s)

    def _count_runtime(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        threaded = set(tracker.getJobIdsForGroup(None)) - self._claimed
        self._claimed |= threaded
        jobs = set(tracker.getJobIdsForGroup(self._group(s))) | threaded
        stages = tasks = failed = 0
        scan_tasks = None
        for job_id in sorted(jobs):
            info = tracker.getJobInfo(job_id)
            for sid in sorted(info.stageIds) if info else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
                if scan_tasks is None:
                    scan_tasks = st.numCompletedTasks
        s.counts.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)
        s.counts["first_stage_tasks"] = scan_tasks or 0

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")


def _size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a file or directory."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's scan, map-reduce and sink entry points.

    - ``load_table`` / ``read_text_lines``: the scan is forced with a
      count (text lines are also cached, so the map-reduce span that
      follows does not scan again);
    - ``map_reduce``: the result is cached and counted, so the shuffle
      and the user functions run in this span and not in the sink's;
    - ``write_tsv`` / ``write_parquet_parallel``: timed as they are,
      then the bytes and files written are counted.
    """
    from honors_p1_mapreduce_spark import mapreduce
    from honors_p1_mapreduce_spark.sources import sinks, tables, text

    orig_load, orig_read = tables.load_table, text.read_text_lines
    orig_mr, orig_tsv = mapreduce.map_reduce, text.write_tsv
    orig_parquet = sinks.write_parquet_parallel
    cached = []

    def load_table(spark, sf_dir, name, *a, **kw):
        with tracer.span("sources.scan") as s:
            df = orig_load(spark, sf_dir, name, *a, **kw)
            s.counts["rows"] = df.count()
            s.counts["bytes"] = _size(f"{sf_dir}/{name}.parquet")[0]
        return df

    def read_text_lines(spark, path, *a, **kw):
        with tracer.span("sources.scan") as s:
            df = orig_read(spark, path, *a, **kw).persist()
            cached.append(df)
            s.counts["rows"] = df.count()
            s.counts["bytes"] = _size(path)[0]
        return df

    def map_reduce(*a, **kw):
        with tracer.span("mapreduce.map_reduce") as s:
            df = orig_mr(*a, **kw).persist()
            cached.append(df)
            s.counts["rows"] = df.count()
        return df

    def write_tsv(df, path, *a, **kw):
        with tracer.span("sinks.write") as s:
            orig_tsv(df, path, *a, **kw)
            s.counts["bytes"], s.counts["files"] = _size(path)
        while cached:
            cached.pop().unpersist()

    def write_parquet_parallel(*frames_and_paths):
        with tracer.span("sinks.write") as s:
            orig_parquet(*frames_and_paths)
            for _, path in frames_and_paths:
                b, n = _size(path)
                s.counts["bytes"] = s.counts.get("bytes", 0) + b
                s.counts["files"] = s.counts.get("files", 0) + n

    wrapper_of = {
        orig_load: load_table,
        orig_read: read_text_lines,
        orig_mr: map_reduce,
        orig_tsv: write_tsv,
        orig_parquet: write_parquet_parallel,
    }
    swapped = []
    for mod in [m for n, m in sys.modules.items() if n == _PKG or n.startswith(_PKG + ".")]:
        for attr, value in list(vars(mod).items()):
            if inspect.isfunction(value) and value in wrapper_of:
                setattr(mod, attr, wrapper_of[value])
                swapped.append((mod, attr, value))
    try:
        yield
    finally:
        for mod, attr, value in swapped:
            setattr(mod, attr, value)
        while cached:
            cached.pop().unpersist()
