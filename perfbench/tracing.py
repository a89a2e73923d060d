"""Benchmark-side tracing: timing wrappers around the engine's layer
functions, an in-memory span store, self-time arithmetic, Spark job and
task counters per job group, and directory-size counters.

Spans are recorded by the benchmark around the calls into each layer;
nothing inside reiz_io_spark is edited. A wrapper is installed on the
name where the caller looks it up: a module attribute called through
its module (``codec.decode_block``), a name another module imported
(``updates.merge_incremental``), or a class attribute (methods)."""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# (module[:class], attribute, span name). One span name may cover
# several lookup sites of the same function.
TARGETS: tuple[tuple[str, str, str], ...] = (
    ("reiz_io_spark.operators.build", "build_index", "build.build_index"),
    ("reiz_io_spark.operators.build", "stage1_ingest", "build.stage1_ingest"),
    ("reiz_io_spark.operators.updates", "stage1_ingest", "build.stage1_ingest"),
    ("reiz_io_spark.operators.build", "merge_and_encode", "build.merge_and_encode"),
    ("reiz_io_spark.operators.build", "merge_incremental", "build.merge_incremental"),
    ("reiz_io_spark.operators.updates", "merge_incremental", "build.merge_incremental"),
    ("reiz_io_spark.operators.updates", "update_docs", "updates.update_docs"),
    ("reiz_io_spark.operators.deletes", "compact_deletes", "deletes.compact_deletes"),
    ("reiz_io_spark.functions.codec", "decode_block", "codec.decode_block"),
    ("reiz_io_spark.plans.lower", "lower_query", "lower.lower_query"),
    ("reiz_io_spark.plans.matcher", "match_spans", "matcher.match_spans"),
    ("reiz_io_spark.serve:QueryService", "query_topk", "serve.query_topk"),
    ("reiz_io_spark.serve:QueryService", "query_positions", "serve.query_positions"),
    ("reiz_io_spark.serve:QueryService", "refresh_if_stale", "serve.refresh"),
    ("reiz_io_spark.serve:_Snapshot", "resolve_groups", "serve.resolve_groups"),
    ("reiz_io_spark.serve:_Snapshot", "term_meta", "serve.term_meta"),
    ("reiz_io_spark.serve:_Snapshot", "_fetch_postings", "serve.fetch_postings"),
    ("reiz_io_spark.serve:_Snapshot", "_score_driver", "serve.score"),
    ("reiz_io_spark.serve:_Snapshot", "_fetch_content", "serve.fetch_content"),
    ("reiz_io_spark.operators.score:IndexReader", "term_meta", "score.term_meta"),
    ("reiz_io_spark.operators.score:IndexReader", "dictionary_terms_for",
     "score.dictionary_terms_for"),
    ("reiz_io_spark.operators.wand", "wand_topk", "wand.wand_topk"),
    ("reiz_io_spark.operators.wand", "wand_topk_batch", "wand.wand_topk_batch"),
)


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    request: str | None
    # the wrapped call returned a non-empty list (matcher yield)
    truthy: bool = False


class Tracer:
    """Thread-safe in-memory span store. Parent and request ids are
    thread-local: a span's parent is the innermost open span of the
    same thread, its request the innermost `request()` block."""

    def __init__(self, jobs: "SparkJobs | None" = None):
        self.spans: list[Span] = []
        self.jobs = jobs
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def request(self, request_id: str):
        """Mark the enclosed calls of this thread as one request; with
        Spark counters attached, its jobs run in a job group of the same
        id."""
        prev = getattr(self._local, "request", None)
        self._local.request = request_id
        try:
            if self.jobs is None:
                yield
            else:
                with self.jobs.group(request_id):
                    yield
        finally:
            self._local.request = prev

    @contextmanager
    def span(self, name: str):
        holder = [False]
        stack = self._stack()
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield holder
        finally:
            end = time.perf_counter()
            stack.pop()
            sp = Span(name, start, end, span_id, parent,
                      getattr(self._local, "request", None), bool(holder[0]))
            with self._lock:
                self.spans.append(sp)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as holder:
                out = fn(*args, **kwargs)
                holder[0] = isinstance(out, list) and len(out) > 0
                return out

        return traced


def _owner(spec: str):
    mod_name, _, cls_name = spec.partition(":")
    mod = importlib.import_module(mod_name)
    return getattr(mod, cls_name) if cls_name else mod


def install(tracer: Tracer, targets=TARGETS):
    """Patch every target with a timing wrapper; returns the undo
    callable, which restores the original objects."""
    saved = []
    for spec, attr, name in targets:
        owner = _owner(spec)
        # class attributes read through __dict__ so a plain function is
        # re-installed as-is (no bound/static method surprises)
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))

    def uninstall() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


# -- span arithmetic --------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of its interval that its
    child spans cover (overlapping children counted once)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur: list[float] | None = None
        for c in sorted(kids.get(s.span_id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s.span_id] = (s.end - s.start) - covered
    return out


def summarize(spans: list[Span]) -> dict[str, dict[str, float]]:
    """name -> {calls, truthy, total_s, self_s}."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "truthy": 0, "total_s": 0.0, "self_s": 0.0}
    )
    for s in spans:
        row = out[s.name]
        row["calls"] += 1
        row["truthy"] += int(s.truthy)
        row["total_s"] += s.end - s.start
        row["self_s"] += selfs[s.span_id]
    return dict(out)


# -- Spark job/task counters ------------------------------------------------


class SparkJobs:
    """Counts jobs, completed tasks and failed tasks per job group via
    SparkContext.statusTracker(). The status store is fed by the
    listener bus asynchronously, so read counts after `settle()`."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: list[str] = []

    @contextmanager
    def group(self, group_id: str):
        self.sc.setJobGroup(group_id, group_id)
        self.groups.append(group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def settle(self) -> None:
        time.sleep(1.0)

    def counts(self, group_id: str) -> tuple[int, int, int]:
        """(jobs, completed tasks, failed tasks) of one group."""
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group_id):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return jobs, tasks, failed


# -- directory sizes ---------------------------------------------------------


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under root."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p, follow_symlinks=False)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in tree_files(root).values())


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two tree_files
    snapshots."""
    return sum(
        v[0] for p, v in after.items() if before.get(p) != v
    )


def rss_mb() -> float:
    """Resident set size of this (driver) process, MB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
