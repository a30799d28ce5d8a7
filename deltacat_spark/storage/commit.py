"""Versioned commit log with put-if-absent commits and optimistic MVCC.

The reference detects write-write conflicts by colliding metafile
*revision numbers* (`metafile.py:271`, `transaction.py:1561-1571`). We
use the same idea one level up: each table mutation is a numbered commit
file ``_dcs_log/{version:020d}.json`` created with a put-if-absent
primitive; a version collision IS the conflict signal.

All control-plane IO goes through the filesystem seam in
``storage/fs.py``: on POSIX the put-if-absent is a hard-link from a temp
file (atomic, fails with EEXIST); on an object store the slot maps to a
conditional PUT / commit-service call (Delta-style). Swapping the
backend means passing a different ``fs`` — see `fs.py` for per-backend
``put_if_absent`` semantics.

Commit schema (one JSON object per file):
  version, txn_id, timestamp_ms, operation, delta_type, stream_position,
  watermark, schema (Spark StructType json, present when changed),
  partition_scheme / sort_scheme (present when changed), properties,
  actions: [{"add": {path, records, bytes, partition_values, stats}} |
            {"remove": {path}}]

``stream_position``: monotonically increasing per commit for ordered
appends (APPEND), the event-time unix micros for CHRONO commits, and
absent for unordered ADD (reference `storage/main/impl.py:2695-2699`).
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field as dc_field
from typing import Any

from deltacat_spark.storage.fs import LOCAL_FS


class DeltaType:
    """Reference `storage/model/types.py:41-46` + the manifest
    POSITIONAL_DELETE entry type (`manifest.py:36-70`)."""

    ADD = "ADD"
    CHRONO = "CHRONO"
    APPEND = "APPEND"
    UPSERT = "UPSERT"
    DELETE = "DELETE"
    POSITIONAL_DELETE = "POSITIONAL_DELETE"


# Operations that only ever add files at the end of the stream; they
# commute with each other and can auto-rebase onto a newer log version.
_COMMUTING_OPS = {"APPEND", "ADD", "CHRONO"}


def _commutes(c: "Commit") -> bool:
    """Add-only commits commute — UNLESS they also change table metadata.

    Two concurrent appends that each auto-evolve the schema (writer A
    adds column X, writer B adds column Y) must not both rebase: replay
    applies the later schema_json wholesale, silently dropping the other
    writer's column. Same reasoning for partition/sort-scheme changes
    riding on an append. Commit PROPERTIES never block a rebase: unlike
    an evolved schema_json (derived from a possibly-stale snapshot, so
    replaying it wholesale can drop a concurrent writer's column),
    property payloads are absolute assignments that replay merges
    additively (`Snapshot`: ``properties.update``) — last committed
    writer wins per key, which is exactly the serial-execution outcome.
    Audit tags (per-op stamps in `commit_properties`) therefore don't
    disable auto-rebase."""
    return (
        c.operation in _COMMUTING_OPS
        and c.schema_json is None
        and c.partition_scheme is None
        and c.sort_scheme is None
    )


def _is_delta_add(c: "Commit") -> bool:
    """Merge-on-read MERGE/DELETE deltas are pure ADDS whose replay
    semantics are defined BY commit order ((version, file_index) picks
    the last writer) — so rebasing one onto a newer version is not a
    hazard, it IS the serialization. They commute with each other and
    with the append family; like `_commutes`, any metadata riding on the
    commit disables this (schema clobber / watermark monotonicity), and
    a remove-carrying commit (CoW rewrite, REPLACE, OPTIMIZE) never
    qualifies because its remove list was computed against a snapshot
    the rebase would silently outdate."""
    return (
        c.operation in ("MERGE", "DELETE")
        and c.delta_type in (DeltaType.UPSERT, DeltaType.DELETE)
        and not c.removes
        and c.schema_json is None
        and c.partition_scheme is None
        and c.sort_scheme is None
    )


def default_rebase_rule(commit: "Commit"):
    """`CommitLog.commit`'s default ``rebase_past`` predicate for
    `commit`: an append-family commit (`_commutes`) or a MoR delta
    (`_is_delta_add`) rebases past intervening commits of either kind.
    Intervening add-only commits are fine to rebase past even when they
    evolved the schema: auto-evolution is strictly additive, so our
    (metadata-free) commit stays readable under the newer schema; only
    the rebasing commit itself carrying metadata would clobber. Any
    other commit rebases past nothing."""
    if not (_commutes(commit) or _is_delta_add(commit)):
        return lambda inter: False
    return lambda inter: inter.operation in _COMMUTING_OPS or _is_delta_add(inter)


class CommitConflictError(RuntimeError):
    """A concurrent transaction took our commit version and does not
    commute — the caller must recompute against the new snapshot."""


class TxnMarkers:
    """Catalog-level two-phase transaction markers (`{root}/_dcs_txn`).

    The reference seals many metafiles across tables in one atomic
    transaction (`storage/model/transaction.py:768-932,1432-1639`). Here
    the same guarantee comes from a marker-file protocol: per-table
    commits carry ``pending_txn=<id>`` and are INVISIBLE to snapshot
    resolution until ``{id}.committed`` exists. The atomic rename of
    ``{id}.pending`` → ``{id}.committed`` is the all-tables commit point;
    renaming to ``{id}.aborted`` (or a missing marker) hides every
    participating commit forever. On an object store both renames map to
    a conditional PUT of the status object.
    """

    DIR = "_dcs_txn"

    def __init__(self, catalog_root: str, fs=LOCAL_FS):
        self.fs = fs
        self.dir = fs.join(catalog_root, self.DIR)

    def _p(self, txn_id: str, state: str) -> str:
        return self.fs.join(self.dir, f"{txn_id}.{state}")

    def begin(self, txn_id: str) -> None:
        # NOTE: exclusivity inherits the backend's ``create_exclusive``
        # semantics (see `storage/fs.py`): atomic on POSIX/HDFS;
        # check-then-write on ArrowFS object stores, where true
        # cross-table atomicity additionally needs a conditional-PUT
        # shim — the same caveat as the commit-log version slot.
        if not self.fs.create_exclusive(self._p(txn_id, "pending")):
            raise FileExistsError(self._p(txn_id, "pending"))

    def finalize(self, txn_id: str) -> None:
        self.fs.rename(self._p(txn_id, "pending"), self._p(txn_id, "committed"))

    def abort(self, txn_id: str) -> None:
        if self.fs.exists(self._p(txn_id, "pending")):
            self.fs.rename(self._p(txn_id, "pending"), self._p(txn_id, "aborted"))

    def status(self, txn_id: str) -> str:
        # Pending is checked FIRST: a reader racing the finalize() rename
        # otherwise sees neither file for an instant and misclassifies a
        # committed transaction as aborted — and a resolved snapshot
        # could checkpoint state that permanently excludes its commits.
        # Order pending → committed makes the race window resolve to the
        # conservative "pending" (snapshot stays provisional, no
        # checkpoint) or the correct "committed".
        if self.fs.exists(self._p(txn_id, "pending")):
            return "pending"
        if self.fs.exists(self._p(txn_id, "committed")):
            return "committed"
        return "aborted"

    def pending_ids(self) -> list[str]:
        """Transaction ids with a live ``.pending`` marker."""
        return [
            n[: -len(".pending")]
            for n in self.fs.list_dir(self.dir)
            if n.endswith(".pending")
        ]

    def abort_stale(
        self, max_age_seconds: float, dry_run: bool = False
    ) -> list[str]:
        """Janitor: abort pending transactions older than
        `max_age_seconds` (marker mtime), reference
        `compute/janitor.py:85-228`.

        A writer that crashed between ``begin`` and ``finalize``/``abort``
        otherwise leaves its marker forever — every participating table's
        snapshots stay provisional (``has_unresolved_txn``) and its
        staged files are unreclaimable. Returns the aborted txn ids.
        Live in-flight transactions younger than the age are untouched.
        """
        now = time.time()
        out = []
        for txn_id in self.pending_ids():
            p = self._p(txn_id, "pending")
            try:
                age = now - self.fs.mtime(p)
            except (FileNotFoundError, OSError):
                continue  # raced a concurrent finalize/abort
            if age >= max_age_seconds:
                if dry_run:
                    out.append(txn_id)
                    continue
                try:
                    self.abort(txn_id)
                    out.append(txn_id)
                except (FileNotFoundError, OSError):
                    continue
        return out


@dataclass
class Commit:
    version: int
    operation: str  # CREATE/APPEND/ADD/CHRONO/REPLACE/MERGE/DELETE/ALTER/TRUNCATE/OPTIMIZE
    txn_id: str = dc_field(default_factory=lambda: uuid.uuid4().hex)
    timestamp_ms: int = dc_field(default_factory=lambda: int(time.time() * 1000))
    # Set when this commit participates in a catalog-level multi-table
    # transaction: invisible until TxnMarkers says "committed".
    pending_txn: str | None = None
    delta_type: str | None = None
    stream_position: int | None = None
    watermark: int | None = None
    schema_json: str | None = None
    partition_scheme: list[dict] | None = None
    sort_scheme: list[dict] | None = None
    properties: dict[str, Any] | None = None
    # Operational audit info (reference compaction audit, SURVEY §2.9) —
    # carried on the commit, never merged into table properties.
    metrics: dict[str, Any] | None = None
    actions: list[dict] = dc_field(default_factory=list)

    def to_json(self) -> str:
        d = {k: v for k, v in self.__dict__.items() if v is not None}
        return json.dumps(d, separators=(",", ":"))

    @classmethod
    def from_json(cls, s: str) -> "Commit":
        d = json.loads(s)
        c = cls(version=d["version"], operation=d["operation"])
        for k, v in d.items():
            setattr(c, k, v)
        return c

    @property
    def adds(self) -> list[dict]:
        return [a["add"] for a in self.actions if "add" in a]

    @property
    def removes(self) -> list[str]:
        return [a["remove"]["path"] for a in self.actions if "remove" in a]

    @property
    def cdc_files(self) -> list[dict]:
        """Change-data sidecar files: the commit's row-level changes for
        CoW commits (never part of the live data set)."""
        return [a["cdc"] for a in self.actions if "cdc" in a]


class CommitLog:
    """The `_dcs_log/` directory of one table."""

    LOG_DIR = "_dcs_log"

    def __init__(
        self,
        table_root: str,
        txn_status=None,
        current_txn: str | None = None,
        txn_stamp: str | None = None,
        fs=LOCAL_FS,
    ):
        self.table_root = table_root
        self.fs = fs
        self.log_dir = fs.join(table_root, self.LOG_DIR)
        # Catalog-level transaction plumbing (None ⇒ no txn facility:
        # any pending_txn commit is treated as committed).
        self.txn_status = txn_status  # Callable[[str], str] | None
        self.current_txn = current_txn  # stamp + see-own-writes id
        # Audit-only: overrides the commit's auto-uuid txn_id so every
        # commit a sealed interactive transaction makes is discoverable
        # by the transaction's id (`Catalog.read_transaction`). Never
        # affects visibility — that's pending_txn + markers.
        self.txn_stamp = txn_stamp

    # -- read ----------------------------------------------------------
    def listing(self) -> tuple[list[int], list[int]]:
        """(commit versions, checkpoint versions), each ascending, from
        ONE listing of the log directory — on an object store every
        listing is a LIST round-trip."""
        versions, checkpoints = [], []
        for name in self.fs.list_dir(self.log_dir):
            if name.endswith(".checkpoint.json"):
                v = name.split(".")[0]
                if v.isdigit():
                    checkpoints.append(int(v))
            elif name.endswith(".json") and name[:-5].isdigit():
                versions.append(int(name[:-5]))
        return sorted(versions), sorted(checkpoints)

    def versions(self) -> list[int]:
        return self.listing()[0]

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def read_commit(self, version: int) -> Commit:
        path = self.fs.join(self.log_dir, f"{version:020d}.json")
        return Commit.from_json(self.fs.read_text(path))

    def replay(
        self,
        version_as_of: int | None = None,
        timestamp_as_of: int | None = None,
        start_after: int = 0,
        versions: "list[int] | None" = None,
    ) -> list[Commit]:
        """Commits after `start_after`, up to the time-travel bound.
        `versions`: an already-listed version list (saves a listing)."""
        commits = []
        for v in self.versions() if versions is None else versions:
            if v <= start_after:
                continue
            if version_as_of is not None and v > version_as_of:
                break
            c = self.read_commit(v)
            if timestamp_as_of is not None and c.timestamp_ms > timestamp_as_of:
                break
            commits.append(c)
        return commits

    def replay_reverse_until(self, stop_ops: set[str], limit: int = 10_000) -> list[Commit]:
        """Newest-first commits up to (and excluding) the first commit
        whose operation is in `stop_ops` — bounded metadata scan for
        trigger evaluation without full replay."""
        out = []
        for v in reversed(self.versions()[-limit:]):
            c = self.read_commit(v)
            if c.operation in stop_ops:
                break
            out.append(c)
        return out

    # -- checkpoints ----------------------------------------------------
    def checkpoints(self) -> list[int]:
        return self.listing()[1]

    def write_checkpoint(self, version: int, state: dict) -> None:
        path = self.fs.join(self.log_dir, f"{version:020d}.checkpoint.json")
        self.fs.write_text_atomic(path, json.dumps(state, separators=(",", ":")))
        # Bounded checkpoint count BY CONSTRUCTION: whoever writes a new
        # checkpoint sweeps the ones it obsoletes. Keeping the newest 3
        # (not 1) shields a concurrent reader that listed the directory
        # just before this write; `latest_checkpoint` additionally
        # retries on a lost race. Only the newest checkpoint is ever
        # used for resolution — older ones are pure dead weight, and at
        # 10^4+ commits an unswept directory is itself a listing cost.
        self.prune_checkpoints(keep=3)

    def prune_checkpoints(self, keep: int = 3) -> list[int]:
        """Delete all but the newest `keep` checkpoint files (vacuum's
        janitor backstop for logs written by older engine versions).
        Safe: time travel to pre-checkpoint versions replays the commit
        files, which are never touched here."""
        doomed = self.checkpoints()[:-keep] if keep > 0 else self.checkpoints()
        for v in doomed:
            try:
                self.fs.delete(
                    self.fs.join(self.log_dir, f"{v:020d}.checkpoint.json")
                )
            except (FileNotFoundError, OSError):
                pass  # another pruner won the race — same outcome
        return doomed

    def latest_checkpoint(
        self, checkpoints: "list[int] | None" = None
    ) -> "tuple[int, dict] | None":
        """Newest checkpoint as (version, state). `checkpoints`: an
        already-listed checkpoint list, used for the first attempt."""
        # Two attempts: a concurrent writer's prune may delete the file
        # between our listing and our read — refresh and retry once.
        cps = checkpoints
        for _ in range(2):
            if cps is None:
                cps = self.checkpoints()
            if not cps:
                return None
            v = cps[-1]
            try:
                return v, json.loads(
                    self.fs.read_text(
                        self.fs.join(self.log_dir, f"{v:020d}.checkpoint.json")
                    )
                )
            except FileNotFoundError:
                cps = None
        return None

    # -- write ---------------------------------------------------------
    def _put_if_absent(self, payload: str, version: int) -> bool:
        """Atomically create commit file `version`; False if taken.

        The conditional-create primitive is the whole MVCC story; its
        per-backend realization (POSIX hard-link / S3 conditional PUT /
        GCS generation-match) lives in `storage/fs.py`."""
        final = self.fs.join(self.log_dir, f"{version:020d}.json")
        return self.fs.put_if_absent(final, payload)

    def try_commit(self, commit: Commit) -> bool:
        if self.current_txn and commit.pending_txn is None:
            commit.pending_txn = self.current_txn
        if self.txn_stamp:
            commit.txn_id = self.txn_stamp
        return self._put_if_absent(commit.to_json(), commit.version)

    def commit(
        self, commit: Commit, rebase_past=None, max_retries: int = 20
    ) -> Commit:
        """Commit with optimistic rebase — the ONLY code that resolves a
        lost version slot.

        On a lost slot: list the log once, read each intervening commit
        once, and ask ``rebase_past(inter) -> bool`` of every LIVE one
        (commits of an aborted catalog-level transaction are invisible
        and never asked). All pass: bump the version and retry with the
        SAME actions. Any fails: raise :class:`CommitConflictError` and
        the caller recomputes from a fresh snapshot (the reference
        behaves identically: `transaction.py:1561-1571`).

        ``rebase_past`` defaults to `default_rebase_rule`; the catalog
        passes its copy-on-write and scoped-OPTIMIZE rules here."""
        if rebase_past is None:
            rebase_past = default_rebase_rule(commit)
        for _ in range(max_retries):
            if commit.operation == "APPEND":
                # Ordered appends take the commit version as their
                # stream position — strictly monotone by construction.
                commit.stream_position = commit.version
            if self.try_commit(commit):
                return commit
            latest = self.latest_version()
            assert latest is not None
            for v in range(commit.version, latest + 1):
                inter = self.read_commit(v)
                if self._aborted(inter):
                    continue
                if not rebase_past(inter):
                    raise CommitConflictError(
                        f"version {commit.version} taken: {commit.operation} "
                        f"cannot rebase past concurrent {inter.operation} "
                        f"at version {inter.version}"
                    )
            commit.version = latest + 1
        raise CommitConflictError("too many commit retries")

    def _aborted(self, c: Commit) -> bool:
        """A commit whose catalog-level transaction ABORTED is invisible
        to every snapshot — it merely occupies a version slot (e.g. the
        pending prefix of a failed multi-commit seal), so rebasing past
        it changes nothing a commit was computed against."""
        pt = c.pending_txn
        return bool(
            pt
            and pt != self.current_txn
            and self.txn_status is not None
            and self.txn_status(pt) == "aborted"
        )
