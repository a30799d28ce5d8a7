"""Metric definitions: end-to-end metrics from op samples and the commit
log, per-layer metrics from a traced run.

``OPS`` are the benchmark's operation kinds. An append whose call ran
``optimize_table`` (auto-compaction) is counted as an ``optimize`` op in
the per-layer metrics, and its latency counts toward ``compact_s``.
"""

from __future__ import annotations

import statistics

from tracing import LAYERS

OPS = ("append", "merge", "delete", "scan", "lookup", "optimize")
WRITE_OPS = ("append", "merge", "delete", "optimize")
READ_OPS = ("scan", "lookup")


def per_layer_spec() -> list[tuple[str, str]]:
    """(name, unit) of the per-layer metrics a traced run prints.

    Counts are given for every op kind. Times are given for ``write`` (the
    workload's own write op: append, or merge) and ``lookup``, which every
    kept workload runs, so no printed time is 0 by construction; the
    report file holds the times of every op kind as well.
    """
    spec = []
    for op in OPS:
        spec += [
            (f"fs.read_text_per_op.{op}", "count"),
            (f"fs.list_dir_per_op.{op}", "count"),
            (f"commit.commits_read_per_op.{op}", "count"),
            (f"snapshot.of_calls_per_op.{op}", "count"),
            (f"snapshot.tail_commits.{op}", "count"),
            (f"spark.jobs_per_op.{op}", "count"),
            (f"spark.stages_per_op.{op}", "count"),
            (f"spark.tasks_per_op.{op}", "count"),
        ]
    for op in WRITE_OPS:
        spec += [
            (f"io.files_written_per_op.{op}", "count"),
            (f"io.bytes_written_per_op.{op}", "B"),
        ]
    for op in ("write", "lookup"):
        spec += [
            (f"snapshot.of_ms.{op}", "ms"),
            (f"spark.self_ms.{op}", "ms"),
        ]
    spec += [
        ("commit.commit_ms.write", "ms"),
        ("io.write_data_files_ms.write", "ms"),
        ("io.collect_add_actions_ms.write", "ms"),
        ("catalog.write_self_ms.write", "ms"),
        ("catalog.read_plan_ms.lookup", "ms"),
        ("snapshot.prune_ms.lookup", "ms"),
        ("snapshot.files_kept_ratio.lookup", "ratio"),
        ("catalog.files_touched_ratio.merge", "ratio"),
        ("catalog.rows_rewritten_per_row.merge", "ratio"),
        ("catalog.delta_files_live.scan", "count"),
        ("fs.put_if_absent_per_commit", "count"),
        ("commit.checkpoints_written", "count"),
        ("commit.slots_lost_per_commit", "count"),
        ("commit.conflicts_per_commit", "count"),
    ]
    spec += [(f"self_ms_per_op.{layer}", "ms") for layer in LAYERS]
    spec += [("trace.overhead_ms_per_op", "ms"), ("trace.spans_per_op", "count")]
    return spec


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def latency_metrics(samples) -> dict[str, tuple[float, str, int]]:
    """Median per op kind, plus every percentile with at least ten samples
    beyond it: ``{name: (value, unit, n)}``."""
    out = {}
    for kind in OPS:
        ms = sorted(s.ms for s in samples if s.kind == kind)
        if not ms:
            continue
        out[f"{kind}_ms_p50"] = (statistics.median(ms), "ms", len(ms))
        for p in (95, 99):
            if len(ms) * (100 - p) / 100 >= 10:
                q = statistics.quantiles(ms, n=100)[p - 1]
                out[f"{kind}_ms_p{p}"] = (q, "ms", len(ms))
    return out


def compaction_ops(samples, timed_ops: list[str]) -> list[int]:
    """Indexes of the append samples whose call committed an OPTIMIZE:
    with one client, the timed-phase log reads APPEND [OPTIMIZE] APPEND ...
    in sample order."""
    appends = [i for i, s in enumerate(samples) if s.kind == "append"]
    out, k = [], -1
    for op in timed_ops:
        if op == "APPEND":
            k += 1
        elif op == "OPTIMIZE" and 0 <= k < len(appends):
            out.append(appends[k])
    return out


def layer_metrics(
    ops, write_kind: str, log, merged_rows: int, calib: tuple[float, float]
) -> dict[str, float]:
    """Per-layer metrics of every op kind, plus the ``.write`` metrics of
    per_layer_spec copied from the ``write_kind`` ones, from the tracer's op
    records, the timed phase's commit-log stats ``log``
    (workloads.LogStats), the user rows the timed merges submitted, and
    the tracer's calibrated (per-span, per-JVM-call) cost in ns."""
    by_kind: dict[str, list] = {k: [] for k in OPS}
    for rec in ops:
        kind = "optimize" if rec.compacted else rec.kind
        by_kind[kind].append(rec)

    def per_op(kind: str, fn) -> float:
        recs = by_kind[kind]
        return _ratio(sum(fn(r) for r in recs), len(recs))

    def total(key: str, recs=ops) -> float:
        return sum(r.counts[key] for r in recs)

    m: dict[str, float] = {}
    for op in OPS:
        recs = by_kind[op]
        m[f"fs.read_text_per_op.{op}"] = per_op(op, lambda r: r.counts["LocalFS.read_text"])
        m[f"fs.list_dir_per_op.{op}"] = per_op(op, lambda r: r.counts["LocalFS.list_dir"])
        m[f"commit.commit_ms.{op}"] = per_op(op, lambda r: r.self_ns["CommitLog.commit"]) / 1e6
        m[f"commit.commits_read_per_op.{op}"] = per_op(
            op, lambda r: r.counts["CommitLog.read_commit"]
        )
        m[f"snapshot.of_ms.{op}"] = per_op(op, lambda r: r.dur_ns["Snapshot.of"]) / 1e6
        m[f"snapshot.of_calls_per_op.{op}"] = per_op(op, lambda r: r.counts["Snapshot.of"])
        m[f"snapshot.tail_commits.{op}"] = _ratio(
            total("snapshot.tail_commits", recs), total("Snapshot.of", recs)
        )
        m[f"spark.jobs_per_op.{op}"] = per_op(op, lambda r: r.jobs)
        m[f"spark.stages_per_op.{op}"] = per_op(op, lambda r: r.stages)
        m[f"spark.tasks_per_op.{op}"] = per_op(op, lambda r: r.tasks)
        m[f"spark.self_ms.{op}"] = per_op(op, lambda r: r.layer_self_ns["spark"]) / 1e6
    for op in WRITE_OPS:
        m[f"io.write_data_files_ms.{op}"] = (
            per_op(op, lambda r: r.dur_ns["write_data_files"]) / 1e6
        )
        m[f"io.collect_add_actions_ms.{op}"] = (
            per_op(op, lambda r: r.dur_ns["collect_add_actions"]) / 1e6
        )
        m[f"io.files_written_per_op.{op}"] = per_op(op, lambda r: r.counts["io.files"])
        m[f"io.bytes_written_per_op.{op}"] = per_op(op, lambda r: r.counts["io.bytes"])
    for op in ("append", "merge", "delete"):
        m[f"catalog.write_self_ms.{op}"] = (
            per_op(op, lambda r: r.self_ns["Catalog.write_to_table"]) / 1e6
        )
    for op in READ_OPS:
        m[f"catalog.read_plan_ms.{op}"] = (
            per_op(op, lambda r: r.dur_ns["Catalog.read_table"]) / 1e6
        )
    m["catalog.optimize_ms"] = (
        _ratio(
            sum(r.dur_ns["Catalog.optimize_table"] for r in ops),
            total("Catalog.optimize_table"),
        )
        / 1e6
    )
    m["catalog.files_touched_ratio.merge"] = _ratio(log.merge_removed, log.merge_live_before)
    m["catalog.rows_rewritten_per_row.merge"] = _ratio(
        log.merge_removed_records, merged_rows
    )
    scans = by_kind["scan"]
    m["catalog.delta_files_live.scan"] = _ratio(
        total("snapshot.delta_files", scans), total("Snapshot.of", scans)
    )
    lookups = by_kind["lookup"]
    m["snapshot.prune_ms.lookup"] = per_op("lookup", lambda r: r.dur_ns["Snapshot.prune"]) / 1e6
    m["snapshot.files_kept_ratio.lookup"] = _ratio(
        total("snapshot.prune_kept", lookups), total("snapshot.prune_live", lookups)
    )
    commits = total("commit.commits")
    m["fs.put_if_absent_per_commit"] = _ratio(total("LocalFS.put_if_absent"), commits)
    m["commit.checkpoints_written"] = total("CommitLog.write_checkpoint")
    m["commit.slots_lost_per_commit"] = _ratio(total("commit.slots_lost"), commits)
    m["commit.conflicts_per_commit"] = _ratio(total("catalog.conflicts"), commits)
    n = len(ops)
    for layer in LAYERS:
        m[f"self_ms_per_op.{layer}"] = (
            _ratio(sum(r.layer_self_ns[layer] for r in ops), n) / 1e6
        )
    span_ns, jvm_ns = calib
    spans = sum(r.spans for r in ops)
    m["trace.overhead_ms_per_op"] = (
        _ratio(spans * span_ns + total("spark.py4j_calls") * jvm_ns, n) / 1e6
    )
    m["trace.spans_per_op"] = _ratio(spans, n)
    for name, _unit in per_layer_spec():
        if name.endswith(".write"):
            m[name] = m[f"{name[: -len('write')]}{write_kind}"]
    return m
