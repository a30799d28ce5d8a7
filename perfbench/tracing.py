"""Per-layer tracing of deltacat_spark, installed at runtime.

The tracer wraps the public functions of each engine layer in place
(``setattr`` on the class or module, undone by :meth:`Tracer.uninstall`),
so the engine's files stay untouched. Inside a benchmark operation
(:meth:`Tracer.op`) every wrapped call records a span — name, layer,
start, end, parent span, op id — and bumps per-op counters; outside an
operation the wrappers fall straight through to the original function.

Layers are the engine's modules:

* ``storage.fs``        ``LocalFS`` I/O methods (path arithmetic excluded)
* ``storage.commit``    ``CommitLog.commit/try_commit/read_commit/replay/
  replay_reverse_until/write_checkpoint``
* ``storage.snapshot``  ``Snapshot.of/prune``
* ``catalog.io``        ``write_data_files/collect_add_actions``
* ``catalog.catalog``   ``Catalog.snapshot/read_table/write_to_table/
  optimize_table``
* ``spark``             time spent inside Py4J calls into the JVM, where
  the ``operators.merge`` plans are planned and run

A span's *self* time is its duration minus the time covered by its child
spans and minus the JVM calls it made directly; the ``spark`` layer's self
time is the sum of those JVM calls. Spark jobs, stages and tasks are
counted per op through a per-op job group and the status tracker.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "storage.fs",
    "storage.commit",
    "storage.snapshot",
    "catalog.io",
    "catalog.catalog",
    "spark",
)

# LocalFS methods that touch the file system. join/relpath/spark_path
# are string arithmetic and would only add spans.
FS_METHODS = (
    "exists",
    "isdir",
    "list_dir",
    "read_text",
    "open_binary",
    "walk_files",
    "mtime",
    "size",
    "makedirs",
    "write_text_atomic",
    "put_if_absent",
    "create_exclusive",
    "rename",
    "delete",
    "delete_dir",
    "copy_in",
)
COMMIT_METHODS = (
    "commit",
    "try_commit",
    "read_commit",
    "replay",
    "replay_reverse_until",
    "write_checkpoint",
)
CATALOG_METHODS = ("snapshot", "read_table", "write_to_table", "optimize_table")


@dataclass
class Span:
    name: str
    layer: str
    op_id: int
    parent: int  # index into Tracer.spans, -1 for an op's root span
    start_ns: int
    end_ns: int = 0
    child_ns: int = 0
    jvm_ns: int = 0  # JVM calls made directly inside this span

    @property
    def self_ns(self) -> int:
        return self.end_ns - self.start_ns - self.child_ns - self.jvm_ns


@dataclass
class OpRecord:
    """Counters of one benchmark operation."""

    id: int
    kind: str
    counts: Counter = field(default_factory=Counter)
    dur_ns: Counter = field(default_factory=Counter)  # inclusive, per span name
    self_ns: Counter = field(default_factory=Counter)  # per span name
    layer_self_ns: Counter = field(default_factory=Counter)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    spans: int = 0
    compacted: bool = False  # the op ran optimize_table


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    def _stack(self) -> "list[int] | None":
        return getattr(self._tls, "stack", None)

    def _open(self, name: str, layer: str) -> int:
        stack = self._tls.stack
        op = self._tls.op
        span = Span(
            name, layer, op.id, stack[-1] if stack else -1, time.perf_counter_ns()
        )
        self.spans.append(span)
        idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end_ns = time.perf_counter_ns()
        stack = self._tls.stack
        stack.pop()
        dur = span.end_ns - span.start_ns
        if span.parent >= 0:
            self.spans[span.parent].child_ns += dur
        op = self._tls.op
        op.spans += 1
        op.counts[span.name] += 1
        op.dur_ns[span.name] += dur
        op.self_ns[span.name] += span.self_ns
        op.layer_self_ns[span.layer] += span.self_ns
        op.layer_self_ns["spark"] += span.jvm_ns
        return span

    @contextmanager
    def op(self, kind: str):
        """One benchmark operation: a root span, a Spark job group, and
        the counters every wrapped call inside it adds to."""
        rec = OpRecord(next(self._ids), kind)
        group = f"perfbench-op-{rec.id}"
        self.sc.setJobGroup(group, kind)
        self._tls.op, self._tls.stack = rec, []
        root = self._open(f"op.{kind}", "bench")
        try:
            yield rec
        finally:
            self._close(root)
            self._tls.op, self._tls.stack = None, None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(rec, group)
            self.ops.append(rec)

    def _count_jobs(self, rec: OpRecord, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            rec.jobs += 1
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                rec.stages += 1
                si = st.getStageInfo(sid)
                if si is not None:
                    rec.tasks += si.numTasks

    # -- wrapping -------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        raw = owner.__dict__[attr]
        func = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw
        wrapped = functools.wraps(func)(make(func))
        if isinstance(raw, classmethod):
            wrapped = classmethod(wrapped)
        elif isinstance(raw, staticmethod):
            wrapped = staticmethod(wrapped)
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, raw))

    def _span_wrapper(self, name: str, layer: str, on_result=None, eager=False):
        def make(func):
            def wrapper(*args, **kwargs):
                if self._stack() is None:
                    return func(*args, **kwargs)
                idx = self._open(name, layer)
                try:
                    out = func(*args, **kwargs)
                    if eager:
                        # A generator would close its span before doing
                        # any work; the engine consumes these fully.
                        out = list(out)
                finally:
                    self._close(idx)
                if on_result is not None:
                    on_result(self._tls.op, args, out)
                return out

            return wrapper

        return make

    def _jvm_timer(self, func):
        """Charge the time of outermost Py4J calls to the innermost open
        span (argument conversion may nest further calls)."""

        def wrapper(*args):
            tls = self._tls
            stack = getattr(tls, "stack", None)
            if not stack or getattr(tls, "in_jvm", False):
                return func(*args)
            tls.in_jvm = True
            t0 = time.perf_counter_ns()
            try:
                return func(*args)
            finally:
                self.spans[stack[-1]].jvm_ns += time.perf_counter_ns() - t0
                tls.in_jvm = False
                tls.op.counts["spark.py4j_calls"] += 1

        return wrapper

    def install(self) -> None:
        from py4j.java_gateway import JavaMember

        from deltacat_spark.catalog import catalog as catalog_mod, io as io_mod
        from deltacat_spark.storage.commit import (
            CommitConflictError,
            CommitLog,
            DeltaType,
        )
        from deltacat_spark.storage.fs import LocalFS
        from deltacat_spark.storage.snapshot import Snapshot

        def try_commit_hook(op, args, out):
            op.counts["commit.commits" if out else "commit.slots_lost"] += 1

        def snapshot_hook(op, args, snap):
            op.counts["snapshot.tail_commits"] += len(snap.commits)
            op.counts["snapshot.delta_files"] += sum(
                f.delta_type in (DeltaType.UPSERT, DeltaType.DELETE)
                for f in snap.files
            )

        def prune_hook(op, args, kept):
            op.counts["snapshot.prune_kept"] += len(kept)
            op.counts["snapshot.prune_live"] += len(args[0].files)

        def write_hook(op, args, adds):
            op.counts["io.files"] += len(adds)
            op.counts["io.bytes"] += sum(a["add"].get("bytes") or 0 for a in adds)

        def optimize_hook(op, args, out):
            op.compacted = True

        for m in FS_METHODS:
            self._patch(
                LocalFS,
                m,
                self._span_wrapper(
                    f"LocalFS.{m}", "storage.fs", eager=m == "walk_files"
                ),
            )
        for m in COMMIT_METHODS:
            hook = try_commit_hook if m == "try_commit" else None
            self._patch(
                CommitLog, m, self._span_wrapper(f"CommitLog.{m}", "storage.commit", hook)
            )
        self._patch(
            Snapshot, "of", self._span_wrapper("Snapshot.of", "storage.snapshot", snapshot_hook)
        )
        self._patch(
            Snapshot,
            "prune",
            self._span_wrapper("Snapshot.prune", "storage.snapshot", prune_hook),
        )
        self._patch(
            io_mod,
            "collect_add_actions",
            self._span_wrapper("collect_add_actions", "catalog.io"),
        )
        self._patch(
            io_mod,
            "write_data_files",
            self._span_wrapper("write_data_files", "catalog.io", write_hook),
        )
        # catalog.py bound write_data_files by name at import time: point
        # that binding at the same wrapper.
        self._patches.append(
            (catalog_mod, "write_data_files", catalog_mod.write_data_files)
        )
        catalog_mod.write_data_files = io_mod.write_data_files
        Catalog = catalog_mod.Catalog
        for m in CATALOG_METHODS:
            self._patch(
                Catalog,
                m,
                self._span_wrapper(
                    f"Catalog.{m}",
                    "catalog.catalog",
                    optimize_hook if m == "optimize_table" else None,
                ),
            )

        # A conflict that forces write_to_table to recompute surfaces as
        # CommitConflictError out of one _write_once attempt: count it,
        # without a span.
        def conflicts(func):
            def wrapper(*args, **kwargs):
                try:
                    return func(*args, **kwargs)
                except CommitConflictError:
                    op = getattr(self._tls, "op", None)
                    if op is not None:
                        op.counts["catalog.conflicts"] += 1
                    raise

            return wrapper

        self._patch(Catalog, "_write_once", conflicts)
        self._patch(JavaMember, "__call__", self._jvm_timer)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # -- cost of tracing ------------------------------------------------
    def calibrate(self, n: int = 20_000) -> tuple[float, float]:
        """Per-span and per-JVM-call cost of the wrappers, in ns, measured
        on no-op functions inside a scratch op."""
        noop = lambda *a: None  # noqa: E731
        spanned = self._span_wrapper("calibrate", "bench")(noop)
        jvm = self._jvm_timer(noop)
        saved = (self.spans, getattr(self._tls, "op", None), self._stack())
        self.spans = [Span("calibrate", "bench", 0, -1, 0)]
        self._tls.op, self._tls.stack = OpRecord(0, "calibrate"), [0]
        try:
            t0 = time.perf_counter_ns()
            for _ in range(n):
                noop()
            base = time.perf_counter_ns() - t0
            t0 = time.perf_counter_ns()
            for _ in range(n):
                spanned()
            span_ns = (time.perf_counter_ns() - t0 - base) / n
            t0 = time.perf_counter_ns()
            for _ in range(n):
                jvm()
            jvm_ns = (time.perf_counter_ns() - t0 - base) / n
        finally:
            self.spans, self._tls.op, self._tls.stack = saved
        return span_ns, jvm_ns

    def dump(self, path: str) -> None:
        """Write every span as one JSON object per line."""
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "layer": s.layer,
                            "op": s.op_id,
                            "parent": s.parent,
                            "start_ns": s.start_ns,
                            "end_ns": s.end_ns,
                            "jvm_ns": s.jvm_ns,
                        },
                        separators=(",", ":"),
                    )
                    + "\n"
                )


class NoTracer:
    """Untraced runs: an op is just a block."""

    @contextmanager
    def op(self, kind: str):
        yield None
