"""Log-replay snapshots: live file set, schema history, stats-based file
skipping, checkpoint-accelerated resolution.

Replaces the reference's driver-side delta discovery
(`catalog/main/impl.py:1356-1386,2716-2834`): replaying the commit log
yields the table's live files (with per-file partition values and column
min/max stats), the schema history (for schema-generation-aware scans),
properties, and watermark. File skipping is a driver-side filter of the
file list against stats — Delta-style data skipping, done *before* Spark
ever sees a path.

Checkpoints (`NNNN.checkpoint.json`, written every
`checkpoint_interval` commits by the catalog) snapshot the fully-applied
state so resolution is O(commits since checkpoint) — the Delta-style
answer to keeping metadata ops fast at 10^5 commits (SURVEY §7 hard
part 5). Time travel to a version before the latest checkpoint falls
back to full replay (the log keeps every commit).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field
from typing import Any

from deltacat_spark.schema import Schema
from deltacat_spark.storage.commit import Commit, CommitLog


@dataclass
class FileEntry:
    path: str  # relative to the table root
    records: int | None = None
    bytes: int | None = None
    partition_values: dict[str, Any] | None = None
    stats: dict[str, dict[str, Any]] | None = None  # col -> {min,max}
    content_type: str | None = None  # None ⇒ parquet data file
    # Provenance for merge-on-read ordering (reference orders envelopes
    # by (stream_position, file_index) — `steps/merge.py:522-543`).
    version: int = 0
    stream_position: int | None = None
    file_index: int = 0
    delta_type: str | None = None
    # Column subset the delta's PAYLOAD carried (None ⇒ full schema).
    # UPSERT deltas: a partial upsert's written file is schema-coerced
    # (absent columns null-filled), so resolution needs the original
    # payload columns to stitch per-column winners. DELETE deltas: the
    # equality-delete condition columns.
    payload_cols: "list[str] | None" = None
    # Sidecar path (relative to the table root) of this file's per-column
    # bloom filters (`storage/bloom.py`) — point-lookup skipping on
    # high-cardinality keys where min/max stats can't prune.
    bloom_ref: "str | None" = None

    def abs_path(self, table_root: str) -> str:
        return os.path.join(table_root, self.path)

    def to_dict(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if v is not None}

    @classmethod
    def from_dict(cls, d: dict) -> "FileEntry":
        return cls(**d)


@dataclass
class Snapshot:
    version: int
    schema: Schema | None
    table_root: str = ""
    properties: dict[str, Any] = dc_field(default_factory=dict)
    partition_scheme: list[dict] | None = None
    sort_scheme: list[dict] | None = None
    watermark: int | None = None
    files: list[FileEntry] = dc_field(default_factory=list)
    # Commits available for inspection: the full replayed range, or the
    # post-checkpoint tail when a checkpoint accelerated resolution.
    commits: list[Commit] = dc_field(default_factory=list)
    # (version, schema_json) for every schema change — drives the
    # per-generation read projection.
    schema_history: list[tuple[int, str]] = dc_field(default_factory=list)
    timestamp_ms: int = 0
    # True when an IN-FLIGHT multi-table transaction's commit was skipped
    # during resolution: this snapshot is provisional (the txn may still
    # land), so it must not be persisted as a checkpoint.
    has_unresolved_txn: bool = False
    _live: dict[str, FileEntry] = dc_field(default_factory=dict)

    @staticmethod
    def _txn_visible(log: CommitLog, commits: list[Commit]) -> tuple[list[Commit], bool]:
        """Drop commits whose catalog-level transaction has not committed.

        A commit stamped ``pending_txn`` becomes visible only when the
        catalog's TxnMarkers report "committed" — the cross-table atomic
        seal (reference `storage/model/transaction.py:1432-1639`). The
        sealing transaction itself (``log.current_txn``) sees its own
        pending commits (read-your-writes)."""
        status = getattr(log, "txn_status", None)
        cur = getattr(log, "current_txn", None)
        out: list[Commit] = []
        unresolved = False
        for c in commits:
            pt = getattr(c, "pending_txn", None)
            if pt and pt != cur and status is not None:
                st = status(pt)
                if st == "pending":
                    unresolved = True
                    continue
                if st != "committed":
                    continue  # aborted / unknown: hidden forever
            out.append(c)
        return out, unresolved

    # -- construction --------------------------------------------------
    @classmethod
    def of(
        cls,
        log: CommitLog,
        version_as_of: int | None = None,
        timestamp_as_of: int | None = None,
        listing: "tuple[list[int], list[int]] | None" = None,
    ) -> "Snapshot":
        """Resolve from the newest usable checkpoint plus the commits
        after it. `listing`: ``log.listing()`` already taken by the
        caller; otherwise one is taken here."""
        versions, checkpoints = listing if listing is not None else log.listing()
        ckpt = log.latest_checkpoint(checkpoints)
        if ckpt is not None:
            ckpt_version, state = ckpt
            usable = (
                version_as_of is None or version_as_of >= ckpt_version
            ) and (
                timestamp_as_of is None
                or state.get("timestamp_ms", 0) <= timestamp_as_of
            )
            if usable:
                snap = cls.from_state(state, log.table_root)
                tail, unresolved = cls._txn_visible(
                    log,
                    log.replay(
                        version_as_of,
                        timestamp_as_of,
                        start_after=ckpt_version,
                        versions=versions,
                    ),
                )
                snap._apply(tail)
                snap.commits = tail
                snap.has_unresolved_txn = unresolved
                snap._finish()
                return snap
        commits = log.replay(version_as_of, timestamp_as_of, versions=versions)
        if not commits:
            raise FileNotFoundError(f"no commits in {log.log_dir}")
        commits, unresolved = cls._txn_visible(log, commits)
        if not commits:
            raise FileNotFoundError(f"no visible commits in {log.log_dir}")
        snap = cls(version=0, schema=None, table_root=log.table_root)
        snap._apply(commits)
        snap.commits = commits
        snap.has_unresolved_txn = unresolved
        snap._finish()
        return snap

    def _apply(self, commits: list[Commit]) -> None:
        for c in commits:
            self.version = c.version
            self.timestamp_ms = max(self.timestamp_ms, c.timestamp_ms)
            if c.schema_json:
                self.schema = Schema.from_json(c.schema_json)
                self.schema_history.append((c.version, c.schema_json))
            if c.partition_scheme is not None:
                self.partition_scheme = c.partition_scheme
            if c.sort_scheme is not None:
                self.sort_scheme = c.sort_scheme
            if c.properties:
                self.properties.update(c.properties)
            if c.watermark is not None:
                self.watermark = max(self.watermark or 0, c.watermark)
            for p in c.removes:
                self._live.pop(p, None)
            for idx, add in enumerate(c.adds):
                self._live[add["path"]] = FileEntry(
                    path=add["path"],
                    records=add.get("records"),
                    bytes=add.get("bytes"),
                    partition_values=add.get("partition_values"),
                    stats=add.get("stats"),
                    content_type=add.get("content_type"),
                    version=c.version,
                    stream_position=c.stream_position,
                    file_index=idx,
                    delta_type=c.delta_type,
                    payload_cols=add.get("payload_cols"),
                    bloom_ref=add.get("bloom_ref"),
                )

    def _finish(self) -> None:
        self.files = sorted(
            self._live.values(), key=lambda f: (f.version, f.file_index)
        )

    # -- checkpoint state ----------------------------------------------
    def to_state(self) -> dict:
        return {
            "version": self.version,
            "timestamp_ms": self.timestamp_ms,
            "properties": self.properties,
            "partition_scheme": self.partition_scheme,
            "sort_scheme": self.sort_scheme,
            "watermark": self.watermark,
            "schema_history": list(self.schema_history),
            "files": [f.to_dict() for f in self.files],
        }

    @classmethod
    def from_state(cls, state: dict, table_root: str) -> "Snapshot":
        snap = cls(
            version=state["version"],
            schema=None,
            table_root=table_root,
            properties=dict(state.get("properties") or {}),
            partition_scheme=state.get("partition_scheme"),
            sort_scheme=state.get("sort_scheme"),
            watermark=state.get("watermark"),
            schema_history=[tuple(t) for t in state.get("schema_history", [])],
            timestamp_ms=state.get("timestamp_ms", 0),
        )
        if snap.schema_history:
            snap.schema = Schema.from_json(snap.schema_history[-1][1])
        for d in state.get("files", []):
            snap._live[d["path"]] = FileEntry.from_dict(d)
        return snap

    def schema_at(self, version: int) -> Schema | None:
        sch_json = None
        for v, sj in self.schema_history:
            if v > version:
                break
            sch_json = sj
        return Schema.from_json(sch_json) if sch_json else None

    # -- file pruning --------------------------------------------------
    def prune(
        self,
        partition_filter: dict[str, Any] | None = None,
        predicates: list[tuple[str, str, Any]] | None = None,
        fs=None,
    ) -> list[FileEntry]:
        """Driver-side file skipping.

        ``partition_filter``: {partition_col: value | [values]} exact
        match on recorded partition values (reference `partition_filter`
        read param, `catalog/main/impl.py:1356-1386`).
        ``predicates``: [(col, op, value)] with op in <,<=,>,>=,=
        checked against per-file min/max stats (reference delta stats /
        rivulet SST min-max pruning, SURVEY §4).
        ``fs``: filesystem seam; when given, `=` predicates additionally
        probe per-file bloom sidecars (`storage/bloom.py` — the
        reference's primary-key index reborn as point-lookup skipping).
        A missing/corrupt sidecar keeps the file (never wrong, only
        less pruned).
        """
        out = []
        for f in self.files:
            if partition_filter and f.partition_values is not None:
                ok = True
                for k, v in partition_filter.items():
                    if k not in f.partition_values:
                        # Partition evolution: files written under an
                        # older scheme carry no value for this column —
                        # they can't be pruned on it, only scanned.
                        continue
                    pv = f.partition_values[k]
                    allowed = v if isinstance(v, (list, tuple, set)) else [v]
                    if pv not in [str(a) for a in allowed]:
                        ok = False
                        break
                if not ok:
                    continue
            if predicates and f.stats:
                ok = True
                for col, op, v in predicates:
                    st = f.stats.get(col)
                    if not st:
                        continue
                    if op in ("isnull", "notnull"):
                        nulls = st.get("nulls")
                        if nulls is None:
                            continue  # no null_count — can't prove
                        if op == "isnull":
                            ok = nulls > 0
                        else:
                            ok = f.records is None or nulls < f.records
                        if not ok:
                            break
                        continue
                    lo, hi = st.get("min"), st.get("max")
                    if lo is None or hi is None:
                        continue
                    # Keep the file iff some row in [lo, hi] can match.
                    try:
                        if op == "<":
                            ok = lo < v
                        elif op == "<=":
                            ok = lo <= v
                        elif op == ">":
                            ok = hi > v
                        elif op == ">=":
                            ok = hi >= v
                        elif op == "=":
                            ok = lo <= v <= hi
                    except TypeError:
                        # Literal type doesn't order against the stats
                        # (e.g. a string literal on an int column):
                        # keep the file — never wrong, only less pruned.
                        ok = True
                    if not ok:
                        break
                if not ok:
                    continue
            if (
                predicates
                and fs is not None
                and f.bloom_ref
                and not self._bloom_may_match(f, predicates, fs)
            ):
                continue
            out.append(f)
        return out

    def _bloom_may_match(
        self, f: FileEntry, predicates: list[tuple[str, str, Any]], fs
    ) -> bool:
        eq = [(c, v) for c, op, v in predicates if op == "="]
        if not eq:
            return True
        from deltacat_spark.storage import bloom as _bloom

        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = {}
            object.__setattr__(self, "_bloom_cache", cache)
        sidecar = cache.get(f.bloom_ref)
        if sidecar is None:
            try:
                import json as _json

                # os.path.join, as `FileEntry.abs_path`: a shallow
                # clone's ref is absolute and must pass through.
                sidecar = _json.loads(
                    fs.read_text(os.path.join(self.table_root, f.bloom_ref))
                )
            except Exception:
                sidecar = {}  # degrade to "no skipping"
            cache[f.bloom_ref] = sidecar
        return all(_bloom.probe(sidecar, c, v) for c, v in eq)
