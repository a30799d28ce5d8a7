"""The Catalog: namespaces, tables, six write modes, snapshot reads.

Reference surface: `catalog/main/impl.py` (write dispatch :466-529,
mode handlers :531-650, read :1638-1722, create :1901-2062, alter
:1725-1870, drop/rename :2063,2318) per SURVEY §2.1/§2.4.

Execution stance: all data movement is Spark DataFrame programs; the
catalog itself is thin driver-side Python over the commit log. MERGE and
DELETE default to copy-on-write (read_optimization=max — the reference's
READ_OPTIMIZATION_LEVEL MAX compact-on-write, `types/tables.py:627-649`)
and can defer to merge-on-read (read_optimization=none) where writes
stay O(batch) and the read path folds deltas with the same window +
anti-join program.
"""

from __future__ import annotations

import functools
import json
import os
import random
import re
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from deltacat_spark.localdf import local_df

from deltacat_spark.catalog.filescan import scan_files
from deltacat_spark.catalog.io import (
    DEFAULT_MAX_RECORDS_PER_FILE,
    write_data_files,
)
from deltacat_spark.operators.merge import (
    dedupe_last_writer,
    equality_delete,
    partial_upsert,
    sql_ident,
    upsert,
)
from deltacat_spark.plans.expr import Expr
from deltacat_spark.plans.transforms import (
    PartitionKey,
    SortKey,
    scheme_to_json,
)
from deltacat_spark.schema import Field, Schema, SchemaError
from deltacat_spark.storage.commit import (
    Commit,
    CommitConflictError,
    CommitLog,
    DeltaType,
    TxnMarkers,
    default_rebase_rule,
)
from deltacat_spark.storage.fs import LOCAL_FS
from deltacat_spark.storage.snapshot import FileEntry, Snapshot

DEFAULT_NAMESPACE = "default"

# Reference compaction triggers (`types/tables.py:652-663`).
DEFAULT_PROPERTIES = {
    "read_optimization": "max",  # max (CoW) | none (MoR)
    "schema_evolution": "auto",  # auto | manual | disabled
    "compaction.trigger.deltas": 100,
    "compaction.trigger.files": 1000,
    "compaction.trigger.records": 64_000_000,
    # Auto-compaction is INCREMENTAL: only files below this record count
    # are bin-packed; at-size files stay live by reference (cost scales
    # with small-file bytes, never table size). "full" forces the old
    # whole-table rewrite.
    "compaction.small_file_records": DEFAULT_MAX_RECORDS_PER_FILE,
    "max_records_per_file": DEFAULT_MAX_RECORDS_PER_FILE,
    "checkpoint.interval": 20,
    # Delete/MoR sets at or below this many rows (per the commit log's
    # record counts) broadcast in read-path joins; above it they shuffle.
    # An unconditional broadcast of e.g. a 10^9-row delete set would OOM
    # the driver at 100 TB scale.
    "broadcast.row_limit": 10_000_000,
}

# Property keys the ENGINE consults for write/read semantics. An
# intervening commit changing one of these invalidates a computed CoW
# rewrite (forces the recompute path); opaque user/audit keys commute —
# replay merges properties additively, last committed writer wins per
# key, exactly the serial-execution outcome.
ENGINE_PROPERTY_KEYS = frozenset(DEFAULT_PROPERTIES) | {
    "write.partition_salt",
    "cdc.enabled",
    "bloom_filter_columns",
}

# Ops that rewrite the table wholesale: a CoW rewrite never rebases past
# one, whatever its stats say.
_WHOLESALE_OPS = frozenset({"REPLACE", "TRUNCATE", "RESTORE", "OPTIMIZE", "CLONE"})

# OPTIMIZE modes whose commit records a partition scope it stayed inside.
_SCOPED_OPTIMIZE_MODES = ("partition", "partition-incremental", "partition-zorder")


def _clashes(commit: Commit, inter: Commit) -> bool:
    """True when intervening commit `inter` changed what `commit` was
    computed against in a way no stats or scope argument clears: it
    carries table metadata or an engine property, or it removes a file
    `commit` also removes. Shared by the CoW and scoped-OPTIMIZE rebase
    rules."""
    return bool(
        inter.schema_json
        or inter.partition_scheme
        or inter.sort_scheme
        or set(inter.properties or ()) & ENGINE_PROPERTY_KEYS
        or set(commit.removes) & set(inter.removes)
    )


def _split_set_list(setlist: str) -> list[tuple[str, str]]:
    """Parse an UPDATE SET clause into (column, sql_expr) pairs,
    splitting on top-level commas only — commas inside parens (function
    args) AND inside single-quoted string literals ('a,b', with ''
    escapes) stay intact."""
    depth, start = 0, 0
    in_quote = False
    parts: list[str] = []
    i = 0
    while i < len(setlist):
        ch = setlist[i]
        if in_quote:
            if ch == "'":
                if i + 1 < len(setlist) and setlist[i + 1] == "'":
                    i += 1  # escaped '' stays inside the literal
                else:
                    in_quote = False
        elif ch == "'":
            in_quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(setlist[start:i])
            start = i + 1
        i += 1
    parts.append(setlist[start:])
    out: list[tuple[str, str]] = []
    for part in parts:
        colname, sep, expr_sql = part.partition("=")
        if not sep:
            raise ValueError(f"malformed SET clause: {part!r}")
        out.append((colname.strip(), expr_sql.strip()))
    return out


def _ts_to_ms(ts_str: "str | None", ts_ms: "str | None") -> int:
    """TIMESTAMP AS OF operand → epoch millis: either raw millis or an
    ISO datetime string (naive strings are UTC — commit timestamps are
    UTC epoch ms)."""
    if ts_ms is not None:
        return int(ts_ms)
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts_str)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _strip_literals(text: str) -> str:
    """Blank out single-quoted string literals (keeping length) so a
    table name INSIDE a literal doesn't register a needless temp view —
    each false positive costs a full snapshot resolution."""
    out = list(text)
    in_quote = False
    i = 0
    while i < len(out):
        ch = out[i]
        if in_quote:
            if ch == "'":
                if i + 1 < len(out) and out[i + 1] == "'":
                    out[i + 1] = " "
                    i += 1
                else:
                    in_quote = False
            else:
                out[i] = " "
        elif ch == "'":
            in_quote = True
        i += 1
    return "".join(out)


def _table_ref_spans(
    stripped: str, table: str
) -> "list[tuple[int, int, bool]]":
    """(start, end, has_alias) spans where `table` occurs in
    TABLE-REFERENCE position — directly after FROM/JOIN (through join
    modifiers) or after a comma inside a FROM list — in
    literal-stripped SQL. `has_alias` reports whether an explicit alias
    (bare identifier or AS x) follows the reference.

    A bare ``\\b``-token scan would also hit column names and aliases
    (``SELECT o.orders FROM orders o`` names a column `orders`), so the
    MV refresh rewrite would corrupt the query. This is a lexical state
    machine, not a parser: qualified names (``a.b``) never match (the
    catalog is single-namespace flat in SQL position), a missed exotic
    position degrades to reading the live table (pins are a consistency
    refinement), and a false replacement cannot happen outside table
    position."""
    import re

    stop = {
        "where", "group", "order", "having", "limit", "on", "using",
        "select", "union", "except", "intersect", "window", "qualify",
        "pivot", "unpivot", "tablesample", "values", "lateral",
    }
    join_mods = {
        "left", "right", "full", "inner", "outer", "cross", "semi",
        "anti", "natural",
    }
    no_alias_after = (
        stop | join_mods | {"join", "from", "and", "or", "not", "when"}
    )
    toks = [
        (m.group(0), m.start(), m.end())
        for m in re.finditer(r"`[^`]*`|\w+|[(),.]", stripped)
    ]
    spans: list[tuple[int, int, bool]] = []
    in_from = False  # inside a FROM list: a comma introduces a table
    expect = False   # the next identifier is a table reference
    for i, (tok, s, e) in enumerate(toks):
        low = tok.lower()
        if low == "from":
            in_from = expect = True
            continue
        if low == "join":
            expect = True
            continue
        if low in join_mods:
            continue
        if low in stop:
            in_from = expect = False
            continue
        if tok == ",":
            expect = in_from
            continue
        if tok == ".":
            # qualifier boundary — whatever follows is not a bare table
            expect = False
            continue
        if tok in "()":
            expect = False  # subquery/function — inner FROM re-triggers
            continue
        if expect:
            if low == table.lower() or tok == f"`{table}`":
                nxt = toks[i + 1][0].lower() if i + 1 < len(toks) else ""
                has_alias = bool(
                    nxt == "as"
                    or (
                        re.fullmatch(r"\w+", nxt)
                        and nxt not in no_alias_after
                    )
                )
                spans.append((s, e, has_alias))
            expect = False  # next identifier would be an alias
    return spans


def _substitute_table_refs(sql: str, table: str, replacement: str) -> str:
    """Replace table-reference occurrences of `table` in `sql` with
    `replacement`, using `_strip_literals` + `_table_ref_spans` so
    string literals, column names, and aliases are never touched.

    A reference WITHOUT an explicit alias is replaced by
    ``replacement AS table`` — the query may qualify columns by the
    bare table name (``FROM fa JOIN fb ON fa.k = fb.k2``), and those
    qualifiers must keep resolving after the table is swapped for a
    pinned/delta view."""
    spans = _table_ref_spans(_strip_literals(sql), table)
    out, last = [], 0
    for s, e, has_alias in spans:
        out.append(sql[last:s])
        out.append(replacement if has_alias else f"{replacement} AS {table}")
        last = e
    out.append(sql[last:])
    return "".join(out)


def _normalize_sql(text: str) -> str:
    """Whitespace/case-normalize SQL OUTSIDE string literals (literal
    content is preserved byte-for-byte, including case): lowercased
    keywords/identifiers, runs of whitespace collapsed to one space,
    trailing semicolons dropped. Used for materialized-view query-
    rewrite matching — conservative by construction (a formatting
    difference inside `sum( x )` simply misses the rewrite; a miss is
    always safe, a false match never happens because literals stay
    exact)."""
    out: list[str] = []
    in_quote = False
    pending_ws = False
    i = 0
    while i < len(text):
        ch = text[i]
        if in_quote:
            out.append(ch)
            if ch == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                in_quote = False
            i += 1
            continue
        if ch.isspace():
            pending_ws = True
            i += 1
            continue
        if pending_ws and out:
            out.append(" ")
        pending_ws = False
        if ch == "'":
            in_quote = True
            out.append(ch)
        else:
            out.append(ch.lower())
        i += 1
    s = "".join(out).strip()
    while s.endswith(";"):
        s = s[:-1].rstrip()
    return s


def _partition_scopes_disjoint(a: dict, b: dict) -> bool:
    """True when two partition filters provably select disjoint
    partition sets: some column constrained by BOTH filters has no
    value in common (partition tuples then differ on that column).
    Filters on different columns can't be proven disjoint → False."""
    def _vals(v) -> set:
        seq = v if isinstance(v, (list, tuple, set)) else [v]
        return {str(x) for x in seq}

    return any(
        k in b and not (_vals(av) & _vals(b[k])) for k, av in a.items()
    )


def _scoped_optimize_rebase_rule(commit: Commit, partition_filter: dict):
    """`CommitLog.commit` predicate for a partition-scoped OPTIMIZE:
    rebase past ANOTHER scoped OPTIMIZE on a provably disjoint scope —
    this commit's rewrite read nothing the winner touched, so bumping
    the version and keeping the SAME actions saves a whole compaction
    job. Anything else (data writes, metadata, wholesale ops, unprovable
    scopes, both scopes swallowing the same pre-evolution "unknown
    partition" files) forces the recompute."""

    def rebase_past(inter: Commit) -> bool:
        im = inter.metrics or {}
        return (
            inter.operation == "OPTIMIZE"
            and im.get("mode") in _SCOPED_OPTIMIZE_MODES
            and not im.get("partition_fallback")
            and not _clashes(commit, inter)
            and _partition_scopes_disjoint(
                partition_filter, im.get("partition_filter") or {}
            )
        )

    return rebase_past


def _retry_on_conflict(attempt_fn, retries: int):
    """Run `attempt_fn` — one whole op that resolves its own snapshot
    — and rerun it on CommitConflictError, up to `retries` attempts.
    This is the recompute half of optimistic concurrency:
    `CommitLog.commit` has already rebased whatever its rule allows,
    so a conflict here means the op must be planned again.

    Full-jitter backoff scaled by the MEASURED attempt cost: a CoW
    merge recompute is a whole Spark job, so a fixed few-hundred-ms
    backoff is noise against it and a thundering herd (N writers
    re-planning in lockstep) starves individual writers — one winner
    per round, everyone else re-collides until retries exhaust.
    Sleeping up to attempt_cost × min(attempt+1, 4) disperses the
    herd across multiples of the actual contention window at any
    scale."""
    for attempt in range(retries):
        t0 = time.monotonic()
        try:
            return attempt_fn()
        except CommitConflictError:
            if attempt == retries - 1:
                raise
            cost = max(0.05, time.monotonic() - t0)
            time.sleep(random.uniform(0, cost * min(attempt + 1, 4)))


def _retried(retries: int):
    """Method decorator for a single-commit op that resolves its own
    snapshot: a lost version slot reruns the whole op through
    `_retry_on_conflict`."""

    def deco(op):
        @functools.wraps(op)
        def run(self, *args, **kwargs):
            return _retry_on_conflict(lambda: op(self, *args, **kwargs), retries)

        return run

    return deco


def _bloom_columns(props: dict) -> "list[str] | None":
    """Parse the `bloom_filter_columns` table property ("a,b" or list).
    Opt-in: per-file key blooms (`storage/bloom.py`) cost one narrow
    column scan per write, so only tables that serve point lookups
    should pay it."""
    raw = props.get("bloom_filter_columns")
    if not raw:
        return None
    if isinstance(raw, str):
        cols = [c.strip() for c in raw.split(",") if c.strip()]
    else:
        cols = [str(c) for c in raw]
    return cols or None


_READD_KEYS = (
    "path",
    "records",
    "bytes",
    "partition_values",
    "stats",
    "content_type",
    "bloom_ref",
)


def _readd(f: FileEntry, src_root: "str | None" = None) -> dict:
    """The `add` action that re-adds live data file `f` in a new commit
    (RESTORE, CLONE): its path and footer metadata; the new commit gives
    it its log position.

    CLONE passes `src_root`: the path and `bloom_ref` become absolute,
    which `FileEntry.abs_path` and the bloom probe pass through
    untouched (posix join), so every read path resolves them without
    special-casing clones. The source's vacuum deletes a sidecar only
    with its data file, which the clone registration pins."""
    add = {k: v for k, v in f.to_dict().items() if k in _READD_KEYS}
    if src_root is not None:
        add["path"] = f.abs_path(src_root)
        if f.bloom_ref:
            add["bloom_ref"] = os.path.join(src_root, f.bloom_ref)
    return {"add": add}


_DATA_DELTAS = {DeltaType.APPEND, DeltaType.ADD, DeltaType.CHRONO, DeltaType.UPSERT, None}

# MoR base/delta split (`_resolve_mor`): bypass the fold window for base
# rows whose key no live delta touches, provided the deltas are small
# enough that their distinct keys broadcast cheaply. Scale-adaptive by
# construction (gates on commit-log record counts, not cluster size).
_MOR_SPLIT_MIN_RATIO = 4
_MOR_SPLIT_MAX_DELTA_RECORDS = 2_000_000

# A positional-delete sidecar (`delete_where`): the data file's
# basename and the deleted row's index in it.
_POS_DELETE_SCHEMA = StructType(
    [StructField("_file", StringType()), StructField("_pos", LongType())]
)


class TableNotFoundError(FileNotFoundError):
    pass


class ConstraintViolationError(SchemaError):
    """A write's payload falsified a declared CHECK constraint."""


class VacuumReport(int):
    """Janitor metrics (reference `compute/janitor.py:85-228` reports
    what it cleaned). Subclasses ``int`` as the removed-file count so
    every existing ``vacuum() == n`` caller keeps working; under
    ``dry_run`` the count is what WOULD be removed and nothing was."""

    files: "list[str]"
    bytes: int
    aborted_txns: "list[str]"
    dry_run: bool

    def __new__(cls, files, nbytes, aborted_txns, dry_run):
        self = super().__new__(cls, len(files))
        self.files = list(files)
        self.bytes = int(nbytes)
        self.aborted_txns = list(aborted_txns)
        self.dry_run = bool(dry_run)
        return self

    def __repr__(self) -> str:  # debugging aid
        return (
            f"VacuumReport(files={len(self.files)}, bytes={self.bytes}, "
            f"aborted_txns={self.aborted_txns}, dry_run={self.dry_run})"
        )


class TableWriteMode:
    """Reference `types/tables.py:547-571`."""

    AUTO = "auto"
    CREATE = "create"
    APPEND = "append"
    ADD = "add"
    CHRONO = "chrono"
    REPLACE = "replace"
    MERGE = "merge"
    DELETE = "delete"


class Catalog:
    def __init__(self, spark: SparkSession, root: str, fs=LOCAL_FS):
        self.spark = spark
        self.root = root
        # Control-plane filesystem seam (`storage/fs.py`): LocalFS by
        # default; pass an ArrowFS to run the catalog against any
        # PyArrow filesystem (matching the reference's any-filesystem
        # stance, `deltacat/catalog/model/properties.py`).
        self.fs = fs
        fs.makedirs(root)
        # Catalog-level transaction machinery: marker files decide the
        # visibility of pending_txn-stamped commits across ALL tables
        # (see `storage/commit.py:TxnMarkers`).
        self._txn_markers = TxnMarkers(root, fs=fs)
        # Observability for the MV query rewrite: name of the MV that
        # answered the last sql() read, or None (set on every read).
        self.last_sql_rewrite: "str | None" = None
        self._txn_ctx: str | None = None
        # Audit stamp: while an interactive transaction seals, its id is
        # written into every commit's txn_id (see CommitLog.txn_stamp).
        self._txn_stamp: str | None = None

    # ------------------------------------------------------------------
    # namespaces
    # ------------------------------------------------------------------
    def create_namespace(self, namespace: str, properties: dict | None = None) -> None:
        ns_dir = self.fs.join(self.root, namespace)
        self.fs.makedirs(ns_dir)
        self.fs.write_text_atomic(
            self.fs.join(ns_dir, "_namespace.json"),
            json.dumps({"name": namespace, "properties": properties or {}}),
        )

    def namespace_exists(self, namespace: str) -> bool:
        return self.fs.exists(
            self.fs.join(self.root, namespace, "_namespace.json")
        )

    def list_namespaces(
        self, limit: int | None = None, start_after: str | None = None
    ) -> list[str]:
        """Paginated listing (reference ListResult,
        `storage/model/list_result.py:1-85`): pass the last name of the
        previous page as `start_after`."""
        out = []
        for name in sorted(self.fs.list_dir(self.root)):
            if start_after is not None and name <= start_after:
                continue
            if self.namespace_exists(name):
                out.append(name)
            if limit is not None and len(out) >= limit:
                break
        return out

    def drop_namespace(self, namespace: str, purge: bool = False) -> None:
        ns_dir = self.fs.join(self.root, namespace)
        if not purge and self.list_tables(namespace):
            raise ValueError(f"namespace {namespace!r} not empty (use purge)")
        self.fs.delete_dir(ns_dir)

    def get_namespace(self, namespace: str) -> "dict | None":
        """Namespace metadata, or None if absent (reference
        `catalog/interface.py:405-422`)."""
        path = self.fs.join(self.root, namespace, "_namespace.json")
        if not self.fs.exists(path):
            return None
        return json.loads(self.fs.read_text(path))

    def alter_namespace(
        self,
        namespace: str,
        properties: "dict | None" = None,
        new_namespace: "str | None" = None,
    ) -> None:
        """Update namespace properties and/or rename it (reference
        `catalog/interface.py:464-486`). Rename is the O(1) directory
        move; properties merge key-wise."""
        meta = self.get_namespace(namespace)
        if meta is None:
            raise ValueError(f"namespace {namespace!r} does not exist")
        if properties:
            meta["properties"] = {**meta.get("properties", {}), **properties}
        if new_namespace and new_namespace != namespace:
            if self.namespace_exists(new_namespace):
                raise ValueError(f"namespace {new_namespace!r} already exists")
            self.fs.rename(
                self.fs.join(self.root, namespace),
                self.fs.join(self.root, new_namespace),
            )
            namespace = new_namespace
            meta["name"] = namespace
        self.fs.write_text_atomic(
            self.fs.join(self.root, namespace, "_namespace.json"),
            json.dumps(meta),
        )

    def default_namespace(self) -> str:
        """Reference `catalog/interface.py:507-515`."""
        return DEFAULT_NAMESPACE

    # ------------------------------------------------------------------
    # tables
    # ------------------------------------------------------------------
    def _table_root(self, table: str, namespace: str) -> str:
        return self.fs.join(self.root, namespace, table)

    def _log(self, table: str, namespace: str) -> CommitLog:
        return CommitLog(
            self._table_root(table, namespace),
            txn_status=self._txn_markers.status,
            current_txn=self._txn_ctx,
            txn_stamp=self._txn_stamp,
            fs=self.fs,
        )

    def table_exists(self, table: str, namespace: str = DEFAULT_NAMESPACE) -> bool:
        return self._log(table, namespace).latest_version() is not None

    def list_tables(
        self,
        namespace: str = DEFAULT_NAMESPACE,
        limit: int | None = None,
        start_after: str | None = None,
    ) -> list[str]:
        ns_dir = self.fs.join(self.root, namespace)
        if not self.fs.isdir(ns_dir):
            return []
        out = []
        for t in sorted(self.fs.list_dir(ns_dir)):
            if start_after is not None and t <= start_after:
                continue
            if self.fs.isdir(self.fs.join(ns_dir, t, CommitLog.LOG_DIR)):
                out.append(t)
            if limit is not None and len(out) >= limit:
                break
        return out

    def create_table(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        schema: Schema | None = None,
        partition_scheme: list[PartitionKey] | None = None,
        sort_scheme: list[SortKey] | None = None,
        properties: dict[str, Any] | None = None,
        fail_if_exists: bool = True,
    ) -> None:
        if not self.namespace_exists(namespace):
            self.create_namespace(namespace)
        log = self._log(table, namespace)
        if log.latest_version() is not None:
            if fail_if_exists:
                raise ValueError(f"table {namespace}.{table} already exists")
            return
        props = {**DEFAULT_PROPERTIES, **(properties or {})}
        commit = Commit(
            version=1,
            operation="CREATE",
            schema_json=schema.to_json() if schema else None,
            partition_scheme=scheme_to_json(partition_scheme),
            sort_scheme=scheme_to_json(sort_scheme),
            properties=props,
        )
        if not log.try_commit(commit):
            if fail_if_exists:
                raise ValueError(f"table {namespace}.{table} already exists")

    def drop_table(
        self, table: str, namespace: str = DEFAULT_NAMESPACE, purge: bool = True
    ) -> None:
        root = self._table_root(table, namespace)
        if not self.fs.isdir(root):
            raise TableNotFoundError(f"{namespace}.{table}")
        self.fs.delete_dir(
            root if purge else self.fs.join(root, CommitLog.LOG_DIR)
        )

    def rename_table(
        self, table: str, new_name: str, namespace: str = DEFAULT_NAMESPACE
    ) -> None:
        src = self._table_root(table, namespace)
        dst = self._table_root(new_name, namespace)
        if not self.fs.isdir(src):
            raise TableNotFoundError(f"{namespace}.{table}")
        if self.fs.isdir(dst):
            raise ValueError(f"table {namespace}.{new_name} already exists")
        # O(1) on directory stores; object stores without native rename
        # do a per-object move inside ArrowFS.rename.
        self.fs.rename(src, dst)

    @_retried(10)
    def truncate_table(self, table: str, namespace: str = DEFAULT_NAMESPACE) -> None:
        snap = self.snapshot(table, namespace)
        commit = Commit(
            version=snap.version + 1,
            operation="TRUNCATE",
            actions=[{"remove": {"path": f.path}} for f in snap.files],
        )
        self._log(table, namespace).commit(commit)

    def clone_table(
        self,
        src: str,
        dst: str,
        src_namespace: str = DEFAULT_NAMESPACE,
        namespace: str = DEFAULT_NAMESPACE,
        version: int | None = None,
        timestamp: int | None = None,
        deep: bool = False,
    ) -> None:
        """Zero-copy SHALLOW clone (Delta-style): `dst` is a new table
        whose first data commit references the source snapshot's files
        by ABSOLUTE path — no data movement at any size; the clone then
        evolves independently (its own log, schema, writes, time
        travel).

        Caveats: (a) `vacuum` on the SOURCE consults the clone registry
        (`_dcs_clones/` marker written below) and keeps every file a
        registered clone's log still references — dropping the clone
        releases the pin at the source's next vacuum; (b) a source
        snapshot still carrying
        merge-on-read deltas is materialized instead (same per-file
        delta_type limit as RESTORE). `deep=True` always materializes —
        a self-contained copy that survives source vacuum/drop, at the
        cost of rewriting the data once.
        """
        snap = self.snapshot(
            src, src_namespace, version_as_of=version, timestamp_as_of=timestamp
        )
        mor_types = {
            DeltaType.UPSERT,
            DeltaType.DELETE,
            DeltaType.POSITIONAL_DELETE,
        }
        # The deep/materialize path re-WRITES the data, so the clone's
        # layout metadata must be carried explicitly or write_to_table
        # lays the copy out unpartitioned/unsorted (the shallow commit
        # below carries both fields natively).
        self.create_table(
            dst,
            namespace,
            schema=snap.schema,
            partition_scheme=(
                [PartitionKey.from_dict(d) for d in snap.partition_scheme]
                if snap.partition_scheme
                else None
            ),
            sort_scheme=(
                [SortKey.from_dict(d) for d in snap.sort_scheme]
                if snap.sort_scheme
                else None
            ),
            properties=dict(snap.properties),
        )
        # Shallow clone stores ABSOLUTE file references; only valid where
        # join(clone_root, abs) passes them through (POSIX). Object-store
        # backends use bucket-relative paths with no absolute marker, so
        # the reference would silently re-root under the clone — deep-copy
        # there instead.
        shallow_ok = getattr(self.fs, "supports_absolute_refs", False)
        if (
            deep
            or not shallow_ok
            or any(f.delta_type in mor_types for f in snap.files)
        ):
            resolved = self.read_table(
                src,
                src_namespace,
                version_as_of=version,
                timestamp_as_of=timestamp,
            )
            self.write_to_table(resolved, dst, namespace, mode="replace")
            return
        src_root = self._table_root(src, src_namespace)
        adds = [_readd(f, src_root) for f in snap.files]
        if adds:
            commit = Commit(
                version=2,
                operation="CLONE",
                schema_json=snap.schema.to_json() if snap.schema else None,
                partition_scheme=snap.partition_scheme,
                sort_scheme=snap.sort_scheme,
                actions=adds,
            )
            self._log(dst, namespace).commit(commit)
            # Register the clone in the SOURCE root so the source's
            # vacuum can protect files the clone still references
            # (Delta Lake documents this as an unprotected hazard; here
            # it's a one-marker-file registry the janitor consults).
            reg_dir = self.fs.join(src_root, "_dcs_clones")
            self.fs.makedirs(reg_dir)
            self.fs.write_text_atomic(
                self.fs.join(reg_dir, f"{namespace}.{dst}.json"),
                json.dumps({"root": self._table_root(dst, namespace)}),
            )

    def restore_table(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        version: int | None = None,
        timestamp: int | None = None,
    ) -> int:
        """Roll the table back to an earlier snapshot as a NEW commit
        (Delta-style RESTORE; history stays intact, so the rollback is
        itself time-travelable and vacuum retention governs file life).

        Copy-by-reference when the target snapshot holds only resolved
        data files: one RESTORE commit re-adds the target's files in
        their original global merge order — zero data movement at any
        table size. When the target still carries merge-on-read deltas
        (UPSERT/DELETE/positional-delete sidecars, whose per-file
        delta_type a single commit cannot re-stamp), the restore
        materializes the resolved target instead (one read + REPLACE
        write of the restored state; schema evolution after the target
        version follows the REPLACE path's rules).

        Returns the new log version.
        """
        # RESTORE does not commute with concurrent writes: recompute the
        # current live set and retry on version collision, same contract
        # as write_to_table.
        return _retry_on_conflict(
            lambda: self._restore_once(table, namespace, version, timestamp), 10
        )

    def _restore_once(
        self,
        table: str,
        namespace: str,
        version: int | None,
        timestamp: int | None,
    ) -> int:
        cur = self.snapshot(table, namespace)
        # A target version past the head would silently "restore" to the
        # current state — a user typo deserves a loud error instead.
        if version is not None and version > cur.version:
            raise ValueError(
                f"cannot RESTORE {table} to version {version}: "
                f"current head is {cur.version}"
            )
        target = self.snapshot(
            table, namespace, version_as_of=version, timestamp_as_of=timestamp
        )
        # Materialized-view watermarks are DATA-COUPLED properties: the
        # restored contents are the target's, so the restore commit must
        # re-stamp the watermark the target recorded — otherwise the
        # head's (newer) watermark would describe reverted data and the
        # MV query rewrite would serve stale rows as "fresh". Keys the
        # head has but the target lacks reset to -1 (never fresh).
        from deltacat_spark.catalog.materialize import MV_SRC_VERSION

        wm_props = {
            k: target.properties.get(k, "-1")
            for k in cur.properties
            if k == MV_SRC_VERSION or k.startswith(MV_SRC_VERSION + ".")
        }
        mor_types = {
            DeltaType.UPSERT,
            DeltaType.DELETE,
            DeltaType.POSITIONAL_DELETE,
        }
        if any(f.delta_type in mor_types for f in target.files):
            resolved = self.read_table(
                table, namespace, version_as_of=version, timestamp_as_of=timestamp
            )
            self.write_to_table(
                resolved,
                table,
                namespace,
                mode="replace",
                commit_properties=wm_props or None,
            )
            return self.snapshot(table, namespace).version
        # Snapshot.files is already (version, file_index)-sorted; the
        # re-add preserves that total order via the new file_index.
        adds = [_readd(f) for f in target.files]
        commit = Commit(
            version=cur.version + 1,
            operation="RESTORE",
            schema_json=target.schema.to_json() if target.schema else None,
            partition_scheme=target.partition_scheme,
            sort_scheme=target.sort_scheme,
            actions=[{"remove": {"path": f.path}} for f in cur.files] + adds,
            properties=wm_props or None,
        )
        self._log(table, namespace).commit(commit)
        return commit.version

    @_retried(10)
    def alter_table(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        schema: Schema | None = None,
        partition_scheme: list[PartitionKey] | None = None,
        sort_scheme: list[SortKey] | None = None,
        properties: dict[str, Any] | None = None,
        drop_columns: "list[str] | None" = None,
    ) -> None:
        """Metadata-only commit (reference `alter_table`,
        `catalog/main/impl.py:1725-1870`).

        `partition_scheme`: partition evolution (Iceberg-style, in-place
        like the reference's partition-scheme update): FUTURE writes lay
        out by the new scheme; existing files keep their old layout and
        recorded partition values, and pruning remains correct across
        both generations (files without a value for a filtered partition
        column are conservatively scanned). Pass `[]` to un-partition.

        `drop_columns`: metadata-only column drop — data files are never
        rewritten; the read projection simply stops selecting the column
        (and time travel to a pre-drop version still sees it). Merge-key
        and partition-source columns are not droppable.
        """
        snap = self.snapshot(table, namespace)
        if drop_columns:
            if schema is not None:
                raise ValueError("pass either schema or drop_columns, not both")
            if snap.schema is None:
                raise SchemaError(f"table {table} has no schema")
            names = {f.name for f in snap.schema.fields}
            missing = [c for c in drop_columns if c not in names]
            if missing:
                raise ValueError(f"cannot drop unknown columns {missing}")
            keys = set(snap.schema.merge_keys)
            part_cols = {
                PartitionKey.from_dict(d).source
                for d in (snap.partition_scheme or [])
            }
            blocked = sorted((keys | part_cols) & set(drop_columns))
            if blocked:
                raise SchemaError(
                    f"cannot drop merge-key/partition columns {blocked}"
                )
            schema = Schema(
                [
                    Field(**{**f.__dict__})
                    for f in snap.schema.fields
                    if f.name not in drop_columns
                ]
            )
        elif schema is not None and snap.schema is not None:
            # Alters must be compatible evolutions of the current schema.
            schema = snap.schema.evolve(schema)
        commit = Commit(
            version=snap.version + 1,
            operation="ALTER",
            schema_json=schema.to_json() if schema else None,
            partition_scheme=scheme_to_json(partition_scheme),
            sort_scheme=scheme_to_json(sort_scheme),
            properties=properties,
        )
        self._log(table, namespace).commit(commit)

    # ------------------------------------------------------------------
    # named version tags (Iceberg/Delta-style refs)
    # ------------------------------------------------------------------
    _TAG_PREFIX = "tag."

    def create_tag(
        self,
        table: str,
        tag: str,
        namespace: str = DEFAULT_NAMESPACE,
        version: "int | None" = None,
        replace: bool = False,
    ) -> int:
        """Pin a name to a log version (head by default). Tags live in
        table properties (one metadata commit — no data motion, no file
        refs to maintain), so they replicate with clones and survive
        OPTIMIZE/VACUUM like any property; vacuum retention does NOT
        consult tags — retain enough versions for the tags you keep.
        Returns the pinned version."""
        import re as _re

        if not _re.fullmatch(r"\w+", tag):
            raise ValueError(f"tag name must be \\w+, got {tag!r}")
        snap = self.snapshot(table, namespace)
        if version is None:
            version = snap.version
        elif not 0 <= version <= snap.version:
            raise ValueError(
                f"version {version} out of range (head {snap.version})"
            )
        key = self._TAG_PREFIX + tag
        if not replace and str(snap.properties.get(key, "")):
            raise ValueError(f"tag {tag!r} already exists on {table!r}")
        self.alter_table(table, namespace, properties={key: str(version)})
        return int(version)

    def drop_tag(
        self, table: str, tag: str, namespace: str = DEFAULT_NAMESPACE
    ) -> None:
        key = self._TAG_PREFIX + tag
        if not str(self.snapshot(table, namespace).properties.get(key, "")):
            raise ValueError(f"no tag {tag!r} on table {table!r}")
        # empty-value tombstone (same convention as constraint drops)
        self.alter_table(table, namespace, properties={key: ""})

    def list_tags(
        self, table: str, namespace: str = DEFAULT_NAMESPACE
    ) -> "dict[str, int]":
        p = self._TAG_PREFIX
        return {
            k[len(p):]: int(v)
            for k, v in self.snapshot(table, namespace).properties.items()
            if k.startswith(p) and str(v)
        }

    def resolve_tag(
        self, table: str, tag: str, namespace: str = DEFAULT_NAMESPACE
    ) -> int:
        tags = self.list_tags(table, namespace)
        if tag not in tags:
            raise ValueError(f"no tag {tag!r} on table {table!r}")
        return tags[tag]

    # ------------------------------------------------------------------
    # snapshots / reads
    # ------------------------------------------------------------------
    def get_table(
        self, table: str, namespace: str = DEFAULT_NAMESPACE
    ) -> "dict | None":
        """Table-definition metadata, or None if absent (reference
        `get_table`, `catalog/interface.py:291-316`): current version,
        schema, layout schemes, properties, and stream state — resolved
        from the log, no data touched."""
        if not self.table_exists(table, namespace):
            return None
        snap = self.snapshot(table, namespace)
        return {
            "table": table,
            "namespace": namespace,
            "version": snap.version,
            "schema": snap.schema.to_json() if snap.schema else None,
            "partition_scheme": snap.partition_scheme,
            "sort_scheme": snap.sort_scheme,
            "properties": dict(snap.properties),
            "watermark": snap.watermark,
            "n_files": len(snap.files),
            "n_records": sum(f.records or 0 for f in snap.files),
        }

    def refresh_table(
        self, table: str, namespace: str = DEFAULT_NAMESPACE
    ) -> None:
        """Reference `refresh_table` invalidates metadata cached on the
        Ray cluster (`catalog/interface.py:249-270`). Spark-side there
        is no cluster-cached table metadata — every read resolves from
        the commit log — so refreshing means re-resolving the snapshot
        (which also advances the lazy checkpoint when due) and dropping
        any Spark-cached plans over this table's data."""
        self.snapshot(table, namespace)  # raises if missing; checkpoints
        self.spark.catalog.clearCache()

    def snapshot(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        version_as_of: int | None = None,
        timestamp_as_of: int | None = None,
    ) -> Snapshot:
        log = self._log(table, namespace)
        # One listing of the log resolves the snapshot: existence, the
        # checkpoint to start from, the commits after it, and whether a
        # lazy checkpoint is due.
        versions, cps = log.listing()
        if not versions:
            raise TableNotFoundError(f"{namespace}.{table}")
        snap = Snapshot.of(
            log, version_as_of, timestamp_as_of, listing=(versions, cps)
        )
        if version_as_of is None and timestamp_as_of is None:
            # Lazy checkpointing: whoever resolves a snapshot far enough
            # past the last checkpoint persists a new one, keeping later
            # resolutions O(tail) without touching the write paths.
            interval = int(
                {**DEFAULT_PROPERTIES, **snap.properties}.get(
                    "checkpoint.interval", 20
                )
            )
            last_cp = cps[-1] if cps else 0
            # Never checkpoint a provisional snapshot: an in-flight
            # multi-table txn's skipped commit may still land, and a
            # checkpoint past it would exclude its actions forever.
            # (also: inside our own seal the snapshot contains our not-yet
            # -final pending commits — equally unfit to persist)
            if (
                snap.version - last_cp >= interval
                and not snap.has_unresolved_txn
                and self._txn_ctx is None
            ):
                log.write_checkpoint(snap.version, snap.to_state())
        return snap

    def read_table(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        columns: list[str] | None = None,
        version_as_of: int | None = None,
        timestamp_as_of: int | None = None,
        partition_filter: dict[str, Any] | None = None,
        predicate: Expr | None = None,
        file_path_column: str | None = None,
        read_as: str = "spark",
        tag: "str | None" = None,
    ):
        """Snapshot read (reference `read_table`,
        `catalog/main/impl.py:1638-1722`).

        Driver-side: log replay + stats/partition file pruning; the
        scan's file index is built from the surviving log entries, so
        planning lists and stats nothing. Executor side: one parquet
        scan per schema generation, merge-on-read fold only if
        unresolved deltas exist.

        `read_as`: 'spark' (distributed DataFrame — the default and the
        only scale-safe choice), or a driver-collected local variant
        mirroring the reference's LocalTable types
        (`types/media.py:123-158`, SURVEY §1.2): 'pandas', 'arrow',
        'polars' (via `pl.from_arrow`; requires polars), or 'numpy'
        (dict of column -> ndarray — the reference's NUMPY dataset type
        is column-major arrays, and a single 2-D matrix would force one
        dtype on heterogeneous tables).
        """
        if tag is not None:
            if version_as_of is not None or timestamp_as_of is not None:
                raise ValueError(
                    "pass at most one of tag / version_as_of / timestamp_as_of"
                )
            version_as_of = self.resolve_tag(table, tag, namespace)
        snap = self.snapshot(table, namespace, version_as_of, timestamp_as_of)
        preds = predicate.skipping_predicates() if predicate is not None else None
        if preds and any(
            f.delta_type in (DeltaType.UPSERT, DeltaType.DELETE)
            for f in snap.files
        ):
            # Unresolved merge deltas: row-predicate skipping (stats or
            # bloom) is only sound on MERGE-KEY columns. A key never
            # changes across versions, so a file whose key stats/bloom
            # exclude the predicate holds no version of any matching
            # row; a NON-key column does change — pruning the upsert
            # delta that rewrote `val` while keeping the base file
            # would leak the stale base row through the fold.
            mk = set(snap.schema.merge_keys) if snap.schema else set()
            preds = [p for p in preds if p[0] in mk] or None
        files = snap.prune(partition_filter, preds, fs=self.fs)
        if partition_filter and snap.partition_scheme:
            # Cross-partition-capable upserts (partition source columns
            # ⊄ merge keys — same hazard class the scoped-OPTIMIZE
            # classifier guards): an unresolved delta may have MOVED a
            # row out of the filtered partition, and pruning that delta
            # would leak the superseded base row through the fold. Keep
            # every unresolved merge delta; the fold then resolves each
            # key to its current version — a conservative superset of
            # CURRENT rows (the documented partition_filter contract
            # under evolution), never a stale one.
            mk = set(snap.schema.merge_keys) if snap.schema else set()
            movable = any(
                d.get("source") not in mk for d in snap.partition_scheme
            )
            if movable:
                kept = {f.path for f in files}
                extra = [
                    f
                    for f in snap.files
                    if f.delta_type in (DeltaType.UPSERT, DeltaType.DELETE)
                    and f.path not in kept
                ]
                if extra:
                    files = sorted(
                        files + extra,
                        key=lambda f: (f.version, f.file_index),
                    )
        df = self._read_files(snap, files, file_path_column)
        if predicate is not None:
            df = df.filter(predicate.to_column())
        if columns:
            extra = [file_path_column] if file_path_column else []
            df = df.select(*columns, *extra)
        if read_as == "pandas":
            return df.toPandas()
        if read_as in ("arrow", "polars", "numpy"):
            if hasattr(df, "toArrow"):  # Spark 4
                tbl = df.toArrow()
            else:
                import pyarrow as pa

                tbl = pa.Table.from_pandas(df.toPandas())
            if read_as == "arrow":
                return tbl
            if read_as == "polars":
                try:
                    import polars as pl
                except ImportError as e:  # pragma: no cover - env-dependent
                    raise ImportError(
                        "read_as='polars' requires the polars package"
                    ) from e
                return pl.from_arrow(tbl)
            return {
                name: tbl.column(name).to_numpy(zero_copy_only=False)
                for name in tbl.column_names
            }
        if read_as != "spark":
            raise ValueError(f"unknown read_as {read_as!r}")
        return df

    def _empty(self, snap: Snapshot) -> DataFrame:
        st = snap.schema.to_struct_type() if snap.schema else None
        return local_df(self.spark, [], st or "dummy int")

    def _read_files(
        self,
        snap: Snapshot,
        files: list[FileEntry],
        file_path_column: str | None = None,
    ) -> DataFrame:
        if not files:
            return self._empty(snap)
        if any(f.content_type for f in files):
            # Schemaless / multimodal table — reads return the flattened
            # manifest (reference `_handle_schemaless_table_read`,
            # `catalog/main/impl.py:1408-1439`).
            return self._manifest_df(snap, files)
        pos_files = [
            f for f in files if f.delta_type == DeltaType.POSITIONAL_DELETE
        ]
        files = [
            f for f in files if f.delta_type != DeltaType.POSITIONAL_DELETE
        ]
        if not files:
            # Only delete sidecars live (every data row deleted).
            return self._empty(snap)
        has_mor = any(f.delta_type in (DeltaType.UPSERT, DeltaType.DELETE) for f in files)
        if not has_mor:
            df = self._scan(
                snap, [f for f in files], file_path_column, with_pos=bool(pos_files)
            )
            return self._apply_pos_deletes(snap, df, pos_files)
        return self._resolve_mor(snap, files, file_path_column, pos_files)

    def _hint_small(
        self, snap: Snapshot, df: DataFrame, files: list[FileEntry]
    ) -> DataFrame:
        """Broadcast `df` only when the commit log's record counts prove
        it small (`broadcast.row_limit`); otherwise leave the join
        strategy to Catalyst/AQE (shuffle join). Unknown size counts as
        large — a blind broadcast of an unbounded delete set is a driver
        OOM at scale."""
        limit = int(
            {**DEFAULT_PROPERTIES, **snap.properties}.get(
                "broadcast.row_limit", 10_000_000
            )
        )
        if files and all(f.records is not None for f in files):
            if sum(f.records for f in files) <= limit:
                return F.broadcast(df)
        return df

    def _apply_pos_deletes(
        self, snap: Snapshot, df: DataFrame, pos_files: list[FileEntry]
    ) -> DataFrame:
        """Anti-join rows against positional-delete entries on
        (file basename, row index) — Iceberg-style MoR position deletes
        (reference converter, `compute/converter/steps/convert.py`)."""
        if not pos_files:
            return df
        dels = self._pos_deletes(snap.table_root, pos_files)
        out = df.join(
            self._hint_small(snap, dels, pos_files),
            (df["__dcs_file"] == dels["_file"]) & (df["__dcs_pos"] == dels["_pos"]),
            "left_anti",
        )
        return out.drop("__dcs_file", "__dcs_pos")

    def _pos_deletes(self, table_root: str, files: list[FileEntry]) -> DataFrame:
        """The (`_file`, `_pos`) tuples of positional-delete sidecars.
        Duplicates are kept: every consumer is an anti- or semi-join."""
        return scan_files(self.spark, self.fs, table_root, files, _POS_DELETE_SCHEMA)

    def _manifest_df(self, snap: Snapshot, files: list[FileEntry]) -> DataFrame:
        rows = [
            (
                self.fs.spark_path(f.abs_path(snap.table_root)),
                f.records,
                f.bytes,
                f.content_type or "application/parquet",
                f.version,
            )
            for f in files
        ]
        return local_df(self.spark,
            rows,
            "path string, record_count long, content_length long,"
            " content_type string, commit_version long",
        )

    def from_manifest_table(
        self, manifest_df: DataFrame, batch_size: int = 10_000
    ) -> DataFrame:
        """Download manifest payloads (reference `from_manifest_table`,
        `catalog/interface.py:516-540`) as a binaryFile DataFrame.

        The path list is collected driver-side (it is manifest metadata,
        not data) but streamed in `batch_size` chunks via toLocalIterator
        and unioned, so a 10⁸-entry manifest never materializes one giant
        Python list or a single over-long load() call."""
        batches: list[DataFrame] = []
        chunk: list[str] = []
        for r in manifest_df.select("path").toLocalIterator():
            chunk.append(r.path)
            if len(chunk) >= batch_size:
                batches.append(
                    self.spark.read.format("binaryFile").load(chunk)
                )
                chunk = []
        if chunk:
            batches.append(self.spark.read.format("binaryFile").load(chunk))
        if not batches:
            return local_df(self.spark,
                [],
                "path string, modificationTime timestamp, length long,"
                " content binary",
            )
        out = batches[0]
        for b in batches[1:]:
            out = out.unionByName(b)
        return out

    def put_files(
        self,
        paths: list[str],
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        content_type: str = "application/octet-stream",
        distributed_threshold: int = 64,
    ) -> None:
        """Ingest opaque files into a schemaless table (reference
        schemaless write path; payloads copied under the table root,
        committed as an unordered ADD).

        Batches larger than `distributed_threshold` copy on EXECUTORS
        (one Spark job over the path list; the driver only commits the
        returned metadata) — the bulk-media-ingest path for TB-scale
        corpora, where a serial driver loop is the bottleneck. Source
        paths must then be executor-visible (shared fs / object store).
        Small batches keep the driver loop (no job-scheduling overhead
        for control-plane payloads).
        """
        import uuid as _uuid

        if not self.table_exists(table, namespace):
            self.create_table(table, namespace, schema=None, fail_if_exists=False)
        snap = self.snapshot(table, namespace)
        if snap.schema is not None:
            # Reference guard: schemaless content can't mix into a
            # schema'd table (`catalog/main/impl.py:318-331`).
            raise SchemaError(
                f"table {namespace}.{table} has a schema; binary payloads "
                "cannot be written to it"
            )
        troot = self._table_root(table, namespace)
        dest = self.fs.join(troot, "data", _uuid.uuid4().hex)
        pairs = [
            (p, self.fs.join(dest, os.path.basename(p))) for p in sorted(paths)
        ]
        if len(pairs) > distributed_threshold:
            fs = self.fs  # picklable seam object; closure must not bind self

            def _copy(pair: "tuple[str, str]") -> "tuple[str, int]":
                src, tgt = pair
                fs.copy_in(src, tgt)
                return tgt, fs.size(tgt)

            n_slices = min(len(pairs), 64)
            sized = (
                self.spark.sparkContext.parallelize(pairs, n_slices)
                .map(_copy)
                .collect()
            )  # metadata-only collect: (path, bytes) per file
        else:
            sized = []
            for src, tgt in pairs:
                self.fs.copy_in(src, tgt)
                sized.append((tgt, self.fs.size(tgt)))
        adds = [
            {
                "add": {
                    "path": self.fs.relpath(tgt, troot),
                    "records": 1,
                    "bytes": nbytes,
                    "content_type": content_type,
                }
            }
            for tgt, nbytes in sorted(sized)
        ]
        self._log(table, namespace).commit(
            Commit(
                version=snap.version + 1,
                operation="ADD",
                delta_type=DeltaType.ADD,
                actions=adds,
            )
        )

    def _scan(
        self,
        snap: Snapshot,
        files: list[FileEntry],
        file_path_column: str | None = None,
        provenance: bool = False,
        with_pos: bool = False,
    ) -> DataFrame:
        """Read a file set, normalizing schema generations to the
        snapshot schema (zero-copy evolution: per-file-generation
        projection with `past_default` fill — reference
        `catalog/main/impl.py:1563-1635`).

        Files are grouped by the schema generation they were written
        under; each group is one parquet scan planned from the log
        (`filescan.scan_files`: no listing, no per-file stat), then
        groups union by name.
        """
        target = snap.schema
        schema_versions = sorted({v for v, _ in snap.schema_history})

        def gen(v: int) -> int:
            g = 0
            for sv in schema_versions:
                if sv <= v:
                    g = sv
            return g

        groups: dict[int, list[FileEntry]] = {}
        for f in files:
            groups.setdefault(gen(f.version), []).append(f)
        parts = []
        structs = []
        for gv, fs in sorted(groups.items()):
            file_schema = snap.schema_at(gv)
            structs.append(
                file_schema.to_struct_type() if file_schema is not None else None
            )
            df = scan_files(self.spark, self.fs, snap.table_root, fs, structs[-1])
            if file_path_column:
                df = df.withColumn(file_path_column, F.input_file_name())
            if with_pos:
                # Stable per-row identity: (file basename, parquet row
                # index) via the _metadata struct — the anchor for
                # positional deletes.
                df = df.withColumn(
                    "__dcs_file",
                    F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)$", 1),
                ).withColumn("__dcs_pos", F.col("_metadata.row_index"))
            if provenance:
                # (version, file_index) per row — the merge-on-read
                # ordering key (reference envelopes ordered by
                # (stream_position, file_index), `steps/merge.py:522-543`).
                # Keyed by file basename (part filenames embed task UUIDs,
                # globally unique) since input_file_name() URI-prefixes
                # the path.
                kv = []
                for f in fs:
                    cols_csv = ",".join(f.payload_cols or [])
                    kv.extend(
                        [
                            F.lit(os.path.basename(f.path)),
                            F.lit(f"{f.version}:{f.file_index}:{cols_csv}"),
                        ]
                    )
                # Evaluate the regexp → map-lookup → split chain ONCE
                # per row, in its own projection. input_file_name() is
                # nondeterministic, which disables subexpression
                # elimination AND stops CollapseProject from inlining
                # the alias — so deriving the three __dcs_* columns
                # directly from `prov` re-ran the whole chain three
                # times per row (job-profiled: the provenance project
                # dominated a 1M-row MoR fold's 31s of task CPU).
                prov_parts = F.split(
                    F.create_map(*kv)[
                        F.regexp_extract(
                            F.input_file_name(), r"([^/]+)$", 1
                        )
                    ],
                    ":",
                    3,
                )
                df = (
                    df.withColumn("__dcs_prov", prov_parts)
                    .withColumn(
                        "__dcs_v", F.col("__dcs_prov")[0].cast("long")
                    )
                    .withColumn(
                        "__dcs_f", F.col("__dcs_prov")[1].cast("long")
                    )
                    # payload-column subset of the delta ("" ⇒ full) —
                    # consumed by the partial-upsert stitcher.
                    .withColumn("__dcs_cols", F.col("__dcs_prov")[2])
                    .drop("__dcs_prov")
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if target is None or all(
            s is not None and target.is_identity(s) for s in structs
        ):
            # Every generation has the target's columns, in order and of
            # the target types: the projection would change nothing.
            return out
        present = out.columns
        extras = [
            c for c in present if c.startswith("__dcs_") or c == file_path_column
        ]
        return out.select(
            *[
                (
                    F.col(f.name).cast(f.data_type).alias(f.name)
                    if f.name in present
                    else F.lit(f.past_default).cast(f.data_type).alias(f.name)
                )
                for f in target.fields
            ],
            *[F.col(e) for e in extras],
        )

    def _resolve_mor(
        self,
        snap: Snapshot,
        files: list[FileEntry],
        file_path_column: str | None = None,
        pos_files: "list[FileEntry] | None" = None,
    ) -> DataFrame:
        """Merge-on-read fold (reference merge semantics re-expressed as
        one declarative plan — SURVEY §3.3 final note): survivors of the
        last delete per key, then one winner per key by merge order
        (default: arrival order = (version, file_index) desc)."""
        assert snap.schema is not None, "merge-on-read requires a schema"
        keys = snap.schema.merge_keys
        data_files = [f for f in files if f.delta_type in _DATA_DELTAS]
        del_files = [f for f in files if f.delta_type == DeltaType.DELETE]
        if not data_files:
            # Only delete deltas live (e.g. DELETE against an empty
            # table) — nothing to resolve.
            return self._empty(snap)
        # Base/delta split: resolved files (delta_type None — CoW or
        # compaction output) hold at most ONE row per merge key, so
        # only keys that appear in a live DELTA can need the fold.
        # When the commit-log stats show the deltas are small relative
        # to the base, broadcast the delta keys and route untouched
        # base rows around the window — the base then never crosses an
        # exchange (a 100-TB compacted table with a GB of fresh deltas
        # shuffles the deltas, not the table). Decided BEFORE scanning,
        # from commit-log record counts only: __dcs_v is derived from
        # input_file_name() at runtime, so a post-scan filter on it
        # cannot prune a combined scan and every consumer of the split
        # (delta-key broadcast, anti, semi, window) would re-read the
        # FULL file set (measured: 10x MV rebuild 47s filtered-split vs
        # 24s single-window vs 13s per-side scans).
        partials = any(f.payload_cols for f in data_files)
        base_f = [f for f in data_files if f.delta_type is None]
        delta_f = [f for f in data_files if f.delta_type is not None]
        base_rec = (
            sum(f.records or 0 for f in base_f)
            if base_f and all(f.records is not None for f in base_f)
            else None
        )
        delta_rec = (
            sum(f.records or 0 for f in delta_f)
            if delta_f and all(f.records is not None for f in delta_f)
            else None
        )
        use_split = (
            not partials
            and base_rec
            and delta_rec
            and delta_rec * _MOR_SPLIT_MIN_RATIO <= base_rec
            and delta_rec <= _MOR_SPLIT_MAX_DELTA_RECORDS
        )
        scans = (
            [self._scan(snap, fs, file_path_column, provenance=True,
                        with_pos=bool(pos_files))
             for fs in (base_f, delta_f)]
            if use_split
            else [self._scan(snap, data_files, file_path_column,
                             provenance=True, with_pos=bool(pos_files))]
        )
        if pos_files:
            # Positional deletes apply to physical rows before the
            # logical merge fold (keyed on (file, pos) — per-side
            # application is exact).
            scans = [
                self._apply_pos_deletes(snap, rows, pos_files)
                for rows in scans
            ]
        if del_files:
            # Delete deltas group by their CONDITION columns (recorded at
            # write as payload_cols; legacy commits fall back to the
            # merge keys) — non-key equality deletes resolve too. The
            # filter is per-row, so per-side application is exact.
            del_groups: dict[tuple, list[FileEntry]] = {}
            for f in del_files:
                del_groups.setdefault(
                    tuple(f.payload_cols or keys), []
                ).append(f)
            for cols_grp, dfiles in sorted(del_groups.items()):
                gcols = list(cols_grp)
                dels = self._scan(snap, dfiles, provenance=True)
                last_del = (
                    dels.groupBy(
                        *[F.col(c).alias(f"__dk_{c}") for c in gcols]
                    ).agg(F.max("__dcs_v").alias("__del_v"))
                )
                for i, rows in enumerate(scans):
                    cond = [
                        rows[c].eqNullSafe(last_del[f"__dk_{c}"])
                        for c in gcols
                    ]
                    scans[i] = (
                        rows.join(
                            self._hint_small(snap, last_del, dfiles),
                            cond,
                            "left",
                        )
                        .filter(
                            F.col("__del_v").isNull()
                            | (F.col("__dcs_v") > F.col("__del_v"))
                        )
                        .drop("__del_v", *[f"__dk_{c}" for c in gcols])
                    )
        if not partials:
            order = snap.schema.merge_order_columns()
            order = order + [F.desc("__dcs_v"), F.desc("__dcs_f")]
            if use_split:
                base_rows, delta_rows = scans
                # Touched base rows still join the window, so a custom
                # merge_order under which an old base row beats a newer
                # delta resolves identically to the single-window plan.
                dk = F.broadcast(
                    delta_rows.select(
                        *[F.col(k).alias(f"__mk_{k}") for k in keys]
                    ).distinct()
                )
                cond = [
                    F.col(k).eqNullSafe(F.col(f"__mk_{k}")) for k in keys
                ]
                untouched = base_rows.join(dk, cond, "left_anti")
                touched = base_rows.join(dk, cond, "left_semi")
                winners = dedupe_last_writer(
                    touched.unionByName(delta_rows), keys, order
                )
                return winners.unionByName(untouched).drop(
                    "__dcs_v", "__dcs_f", "__dcs_cols"
                )
            winners = dedupe_last_writer(scans[0], keys, order)
            return winners.drop("__dcs_v", "__dcs_f", "__dcs_cols")
        rows = scans[0]
        # Partial upserts present: per-column stitching. Each non-key
        # column resolves to its value in the NEWEST delta whose payload
        # INCLUDED that column (matching the CoW partial_upsert
        # semantics; like CoW partials, arrival order — not merge_order
        # — picks the winner). One hash aggregation keyed on the merge
        # keys; (version, file_index) is unique per (key, file) so the
        # struct max is total.
        extras = [file_path_column] if file_path_column else []
        aggs = []
        out_names = [
            f.name for f in snap.schema.fields if f.name not in keys
        ] + extras
        for c in out_names:
            has = (F.col("__dcs_cols") == F.lit("")) | F.array_contains(
                F.split(F.col("__dcs_cols"), ","), F.lit(c)
            )
            if c == file_path_column:
                has = F.lit(True)
            aggs.append(
                F.max(
                    F.when(
                        has,
                        F.struct(
                            F.col("__dcs_v").alias("v"),
                            F.col("__dcs_f").alias("f"),
                            F.col(c).alias("val"),
                        ),
                    )
                ).alias(f"__w_{c}")
            )
        res = rows.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
        ordered = [
            F.col(n) if n in keys else F.col(f"__w_{n}.val").alias(n)
            for n in [f.name for f in snap.schema.fields] + extras
        ]
        return res.select(*ordered)

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    def write_to_table(
        self,
        df: DataFrame,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        mode: str = TableWriteMode.AUTO,
        schema: Schema | None = None,
        partition_scheme: list[PartitionKey] | None = None,
        sort_scheme: list[SortKey] | None = None,
        properties: dict[str, Any] | None = None,
        max_commit_retries: int = 10,
        commit_properties: dict[str, str] | None = None,
    ) -> None:
        """Transactional multi-mode write (reference
        `catalog/main/impl.py:226-650`): creates the table under AUTO or
        CREATE when it does not exist, then runs `_write_once` (resolve,
        plan, write, commit) through `_retry_on_conflict`. A commit that
        loses its slot and cannot rebase reruns `_write_once` from a
        fresh snapshot (optimistic MVCC).

        ``commit_properties``: table properties stamped ON THE SAME
        COMMIT as the data (atomic watermark channel — e.g. incremental
        materialization records its source high-water version with the
        rows it derived, so a crash can never split the two)."""
        # The first attempt's snapshot doubles as the existence check
        # (one log listing instead of two).
        try:
            snap = self.snapshot(table, namespace)
        except TableNotFoundError:
            snap = None
        if mode == TableWriteMode.CREATE and snap is not None:
            raise ValueError(f"table {namespace}.{table} already exists")
        if snap is None:
            if mode not in (TableWriteMode.AUTO, TableWriteMode.CREATE):
                raise TableNotFoundError(f"{namespace}.{table}")
            self.create_table(
                table,
                namespace,
                schema=schema or Schema.from_dataframe(df),
                partition_scheme=partition_scheme,
                sort_scheme=sort_scheme,
                properties=properties,
                fail_if_exists=False,
            )
        # Only the first attempt reuses that snapshot; a retry resolves
        # a fresh one.
        snaps = iter([snap])
        _retry_on_conflict(
            lambda: self._write_once(
                df, table, namespace, mode, commit_properties, next(snaps, None)
            ),
            max_commit_retries,
        )

    def _write_once(
        self,
        df: DataFrame,
        table: str,
        namespace: str,
        mode: str,
        commit_properties: dict[str, str] | None = None,
        snap: Snapshot | None = None,
    ) -> None:
        """One attempt of `write_to_table`: resolve, plan, write, commit.

        1. Resolve the payload against `snap`: schema evolution,
           generated columns, AUTO dispatch, mode checks and CHECK
           constraints.
        2. Plan — the only mode-specific step: the DataFrame to write,
           the files the commit removes, and the commit fields that
           differ between modes, held in one `Commit`.
        3. Write the planned DataFrame in the table layout (plus the CDC
           sidecar of a CoW rewrite when `cdc.enabled`).
        4. Commit once, under `_cow_rebase_rule` for a copy-on-write
           MERGE/DELETE and the default rule otherwise.

        A lost slot that cannot rebase raises `CommitConflictError`, and
        `write_to_table` runs this again from a fresh snapshot."""
        if snap is None:
            snap = self.snapshot(table, namespace)
        if any(f.content_type for f in snap.files):
            # Mirror guard of put_files: schema'd writes can't mix into a
            # schemaless/binary table (`catalog/main/impl.py:318-331`).
            raise SchemaError(
                f"table {namespace}.{table} is schemaless (binary); "
                "DataFrame writes are not allowed"
            )
        schema = snap.schema
        props = {**DEFAULT_PROPERTIES, **snap.properties}
        evolution = props.get("schema_evolution", "auto")
        schema_changed = False
        if schema is None:
            schema = Schema.from_dataframe(df)
            schema_changed = True
        elif evolution == "auto" and mode != TableWriteMode.DELETE:
            # A DELETE payload is a filter, not data — its columns must
            # match existing schema columns, never evolve the schema.
            evolved = schema.evolve(Schema.from_dataframe(df))
            if evolved.to_json() != schema.to_json():
                schema, schema_changed = evolved, True
        df = self._apply_generated_columns(df, schema, mode)
        merge_keys = schema.merge_keys

        if mode in (TableWriteMode.AUTO, TableWriteMode.CREATE):
            # AUTO dispatch (reference `types/tables.py:551-552`): MERGE
            # when the table has merge keys, else ordered APPEND. CREATE
            # reaches here after the table was just created.
            mode = TableWriteMode.MERGE if merge_keys else TableWriteMode.APPEND
        if mode in (TableWriteMode.APPEND, TableWriteMode.ADD, TableWriteMode.CHRONO):
            if merge_keys:
                # Reference rejects ordered appends on merge-key tables
                # (`catalog/main/impl.py:563-624`).
                raise SchemaError(
                    f"{mode} not allowed on a table with merge keys {merge_keys}"
                )
        if mode in (TableWriteMode.MERGE, TableWriteMode.DELETE) and not merge_keys:
            raise SchemaError(f"{mode} requires at least one merge key")
        # CHECK constraints (Delta-style, `constraint.<name>` props):
        # enforced on the incoming payload before any file is written —
        # zero cost when none are declared. DELETE payloads are filters,
        # not data.
        if mode != TableWriteMode.DELETE:
            self._enforce_constraints(df, props, table, namespace)

        # Plan: `plan.actions` holds the removes until the write is done.
        plan = Commit(
            version=snap.version + 1,
            operation=mode.upper(),
            properties=commit_properties,
            schema_json=schema.to_json() if schema_changed else None,
        )
        payload_cols = cdc = bounds_fn = pinned = None
        autocompact = False
        cow = props.get("read_optimization", "max") == "max"
        try:
            if mode in (TableWriteMode.APPEND, TableWriteMode.ADD):
                data = schema.validate_and_coerce(df)
                plan.delta_type = (
                    DeltaType.APPEND if mode == "append" else DeltaType.ADD
                )
                autocompact = True
            elif mode == TableWriteMode.CHRONO:
                et = schema.event_time_field
                if not et:
                    raise SchemaError("CHRONO requires an event_time field")
                data = schema.validate_and_coerce(df)
                plan.delta_type = DeltaType.CHRONO
                plan.stream_position = plan.watermark = self._max_event_time(
                    data, schema.field(et)
                )
            elif mode == TableWriteMode.REPLACE:
                data = schema.validate_and_coerce(df)
                plan.delta_type = DeltaType.APPEND
                plan.actions = [{"remove": {"path": f.path}} for f in snap.files]
            elif mode == TableWriteMode.DELETE:
                keys = [c for c in df.columns if c in schema.names]
                if not keys:
                    # An empty condition list would plan as a cross
                    # anti-join and silently delete every row.
                    raise SchemaError(
                        f"DELETE payload columns {df.columns} share no columns "
                        f"with the table schema {schema.names}"
                    )
                if cow:
                    data, plan.actions, bounds_fn = self._plan_cow(
                        snap,
                        schema,
                        df,
                        keys,
                        lambda current: equality_delete(current, df, keys),
                    )
                    cdc = df
                else:
                    # Condition columns for the MoR resolver (an equality
                    # delete may key on NON-merge-key columns).
                    data, payload_cols = df.select(*keys), sorted(keys)
                    plan.delta_type = DeltaType.DELETE
            else:  # MERGE
                batch = self._normalize_merge_batch(df, schema)
                if cow:
                    # The payload plan evaluates ≥3× on the CoW path
                    # (bounds aggregate, then twice inside the upsert
                    # plan: anti-join keys + union) and may embed an
                    # arbitrary upstream pipeline. Cache once, unpersist
                    # after commit — MEMORY_AND_DESERIALIZED spills to
                    # disk, so a cluster-scale payload degrades gracefully
                    # instead of re-running its lineage per evaluation.
                    batch = pinned = batch.persist()
                    # Partial when the batch lacks some existing non-key
                    # column — those fill from the matched old row.
                    partial = snap.schema is not None and bool(
                        set(snap.schema.names) - set(df.columns)
                    )
                    data, plan.actions, bounds_fn = self._plan_cow(
                        snap,
                        schema,
                        batch,
                        merge_keys,
                        lambda current: self._cow_upsert(
                            current, batch, schema, partial
                        ),
                    )
                    cdc = batch
                else:
                    data = schema.validate_and_coerce(batch)
                    plan.delta_type = DeltaType.UPSERT
                    payload = sorted(c for c in batch.columns if c in schema.names)
                    if set(payload) != set(schema.names):
                        # Partial payload: the written file is schema-
                        # coerced (absent columns null-filled), so the
                        # resolver needs the original column subset to
                        # stitch winners.
                        payload_cols = payload

            # Write. CoW adds are fully resolved data — no delta_type, or
            # the read path would re-fold them as merge-on-read deltas.
            troot = self._table_root(table, namespace)
            adds = write_data_files(
                data, troot, fs=self.fs, **self._table_layout(snap)
            )
            if payload_cols:
                for a in adds:
                    a["add"]["payload_cols"] = payload_cols
            changes = []
            if cdc is not None and props.get("cdc.enabled"):
                # Row-level change sidecars make `read_changes` exact for
                # CoW tables.
                changes = [
                    {"cdc": a["add"]}
                    for a in write_data_files(cdc, troot, fs=self.fs)
                ]

            # Commit, stamped with the time the data is in place.
            plan.actions = adds + plan.actions + changes
            plan.timestamp_ms = int(time.time() * 1000)
            self._log(table, namespace).commit(
                plan, self._cow_rebase_rule(plan, bounds_fn) if bounds_fn else None
            )
        finally:
            if pinned is not None:
                self._unpin(pinned)
        if autocompact:
            self._maybe_autocompact(table, namespace, props)

    def _plan_cow(
        self,
        snap: Snapshot,
        schema: Schema,
        payload: DataFrame,
        keys: list[str],
        rewrite,
    ) -> "tuple[DataFrame, list[dict], Any]":
        """Copy-on-write MERGE/DELETE plan: `rewrite(current)` over the
        rows of the files whose key range overlaps `payload`; untouched
        files stay live by reference (copy-by-reference,
        `merge.py:463-502`). Touched files are read WITH the positional-
        delete sidecars so the rewrite doesn't resurrect deleted rows;
        the sidecars themselves stay live (not removed) to keep covering
        untouched files.

        Returns the rewritten rows, the remove actions, and the bounds
        function for `_cow_rebase_rule`: the split's own payload bounds,
        or a lazy aggregate when the split took none (empty table)."""
        touched, bounds = self._split_by_key_overlap(snap, payload, keys)
        pos_sidecars = [
            f for f in snap.files if f.delta_type == DeltaType.POSITIONAL_DELETE
        ]
        current = self._read_files(snap, touched + (pos_sidecars if touched else []))
        data = rewrite(schema.read_projection(current))
        removes = [{"remove": {"path": f.path}} for f in touched]
        if bounds is None:
            return data, removes, lambda: self._payload_bounds(payload, keys)
        return data, removes, lambda: bounds

    @staticmethod
    def _cow_upsert(
        current: DataFrame, batch: DataFrame, schema: Schema, partial: bool
    ) -> DataFrame:
        """The rows a CoW MERGE writes for its touched files."""
        keys = schema.merge_keys
        if partial:
            # Absent columns fill from the matched old row (reference
            # `_merge_records_partially`, `steps/merge.py:256-308`).
            return schema.read_projection(partial_upsert(current, batch, keys))
        coerced = schema.validate_and_coerce(batch)
        if not schema.merge_order_specs():
            return upsert(current, coerced, keys)
        # Merge order (or event time) picks the winner — an incoming row
        # only replaces when it wins the ordering (reference
        # `schema.py:1018-1046`; precedence over arrival order,
        # `test_default_catalog_impl.py:4643`).
        unioned = current.withColumn("__dcs_src", F.lit(0)).unionByName(
            coerced.withColumn("__dcs_src", F.lit(1))
        )
        order = schema.merge_order_columns() + [F.desc("__dcs_src")]
        return dedupe_last_writer(unioned, keys, order).drop("__dcs_src")

    @staticmethod
    def _max_event_time(batch: DataFrame, field: Field) -> "int | None":
        """CHRONO stream position: the batch's largest event time — the
        value itself when numeric (e.g. epoch micros), else wall-clock
        NTZ micros (TZ-independent on both write and read sides)."""
        et = F.col(field.name)
        if field.data_type.typeName() not in ("long", "integer"):
            et = F.unix_micros(F.to_utc_timestamp(et.cast("timestamp_ntz"), "UTC"))
        m = batch.agg(F.max(et).alias("m")).collect()[0]["m"]
        return int(m) if m is not None else None

    @staticmethod
    def _table_layout(snap: Snapshot) -> dict:
        """`write_data_files` keyword arguments for the table's layout:
        partition and sort scheme, file size, partition salt and bloom
        columns."""
        props = {**DEFAULT_PROPERTIES, **snap.properties}
        salt = props.get("write.partition_salt")
        ps, ss = snap.partition_scheme, snap.sort_scheme
        return dict(
            partition_scheme=[PartitionKey.from_dict(d) for d in ps] if ps else None,
            sort_scheme=[SortKey.from_dict(d) for d in ss] if ss else None,
            max_records_per_file=int(
                props.get("max_records_per_file", DEFAULT_MAX_RECORDS_PER_FILE)
            ),
            partition_salt=int(salt) if salt else None,
            bloom_columns=_bloom_columns(props),
        )

    @staticmethod
    def _table_constraints(props: dict) -> "dict[str, str]":
        """`constraint.<name>` properties → {name: check_expr}. An
        empty value is a dropped constraint (property replay has no
        delete — the tombstone IS the empty string)."""
        pre = "constraint."
        return {
            k[len(pre):]: v
            for k, v in props.items()
            if k.startswith(pre) and v
        }

    def _apply_generated_columns(
        self, df: DataFrame, schema: "Schema", mode: str
    ) -> DataFrame:
        """Delta-style generated columns on the write path: compute each
        `generated_expr` column the payload omits; VALIDATE (null-safe
        equality) any the payload provides — a writer cannot desync the
        column from its definition, so partition pruning on a generated
        partition column stays truthful. Partial payloads that lack ALL
        of the expression's source columns are left untouched (the
        partial-upsert stitch keeps the stored value AND the stored
        sources, so they stay in sync); a payload carrying a strict
        SUBSET of the sources — or the generated column itself without
        its full source set — is REJECTED (Delta's restriction on
        updating generation source columns): the stitch would pair an
        updated source with a stale stored value and desync the
        invariant. DELETE payloads are filters, not data."""
        if mode == TableWriteMode.DELETE:
            return df
        from pyspark.errors import AnalysisException

        df_cols = {c.lower() for c in df.columns}
        for f in [f for f in schema.fields if f.generated_expr]:
            src = self._expr_source_cols(
                f.generated_expr,
                [n for n in schema.names if n.lower() != f.name.lower()],
            )
            carried = df_cols & src
            provided = f.name.lower() in df_cols
            if src and carried != src and (carried or provided):
                raise SchemaError(
                    f"partial payload touches generated column "
                    f"{f.name!r} (GENERATED ALWAYS AS "
                    f"({f.generated_expr})) without its full source "
                    f"column set {sorted(src)}: carries "
                    f"{sorted(carried) + ([f.name] if provided else [])}"
                    " — include every source column (the value is then "
                    "recomputed/validated) or none of them"
                )
            expr = F.expr(f.generated_expr).cast(f.data_type)
            if f.name not in df.columns:
                try:
                    df = df.withColumn(f.name, expr)
                except AnalysisException:
                    # Source columns absent from a partial payload — the
                    # expression can't resolve; leave the column to the
                    # stitch/coercion path (stored value + stored
                    # sources both survive, still consistent).
                    continue
            else:
                try:
                    flt = df.filter(~F.col(f.name).eqNullSafe(expr))
                except AnalysisException:
                    continue
                if flt.limit(1).count():
                    raise SchemaError(
                        f"generated column {f.name!r} payload values "
                        f"differ from GENERATED ALWAYS AS "
                        f"({f.generated_expr})"
                    )
        return df

    @staticmethod
    def _expr_source_cols(expr_sql: str, schema_names) -> set:
        """Lower-cased schema columns referenced by a generated-column
        expression — lexical scan (identifiers that are not function
        calls, plus backquoted identifiers), intersected with the
        schema so SQL keywords/literals never count. A column name
        shadowed by a same-named function reads as a reference
        (conservative: over-counting sources rejects a partial payload
        loudly instead of silently desyncing)."""
        import re

        names = {n.lower() for n in schema_names}
        src: set = set()
        for m in re.finditer(r"`([^`]+)`|\b([A-Za-z_]\w*)\b", expr_sql):
            ident = m.group(1) or m.group(2)
            if not m.group(1) and expr_sql[m.end():].lstrip().startswith("("):
                continue  # function call, not a column reference
            if ident.lower() in names:
                src.add(ident.lower())
        return src

    def _enforce_constraints(
        self, df: DataFrame, props: dict, table: str, namespace: str
    ) -> None:
        """Reject the write if any payload row FALSIFIES a CHECK
        constraint (SQL semantics: TRUE and UNKNOWN pass, FALSE fails).
        One short-circuit job over the payload, only when constraints
        exist. A constraint referencing columns absent from a PARTIAL
        payload is skipped for that write — the payload alone cannot
        falsify it (the stitched row keeps its already-validated
        values for the absent columns)."""
        constraints = self._table_constraints(props)
        if not constraints:
            return
        applicable = []
        for name, expr in constraints.items():
            try:
                df.select(F.expr(expr))
            except Exception:
                continue  # references columns this payload doesn't carry
            applicable.append((name, expr))
        if not applicable:
            return
        combined = " OR ".join(f"(({e}) = false)" for _n, e in applicable)
        if not df.filter(F.expr(combined)).take(1):
            return
        for name, expr in applicable:
            n_bad = df.filter(F.expr(f"({expr}) = false")).count()
            if n_bad:
                raise ConstraintViolationError(
                    f"CHECK constraint {name!r} ({expr}) violated by "
                    f"{n_bad} row(s) written to {namespace}.{table}"
                )

    def _maybe_autocompact(
        self, table: str, namespace: str, props: dict[str, Any]
    ) -> None:
        """Append-trigger compaction (reference `_trigger_compaction`,
        `catalog/main/impl.py:1012-1091`; thresholds
        `types/tables.py:652-663`): compact when the deltas/files/records
        accumulated since the last resolved state exceed the table's
        trigger properties."""
        if props.get("read_optimization", "max") != "max":
            return
        log = self._log(table, namespace)
        deltas = files = records = 0
        window = log.replay_reverse_until(
            {"OPTIMIZE", "REPLACE", "MERGE", "DELETE", "CREATE", "TRUNCATE"}
        )
        for c in window:
            adds = c.adds
            deltas += 1
            files += len(adds)
            records += sum(a.get("records") or 0 for a in adds)
        if (
            deltas >= int(props.get("compaction.trigger.deltas", 100))
            or files >= int(props.get("compaction.trigger.files", 1000))
            or records >= int(props.get("compaction.trigger.records", 64_000_000))
        ):
            sfr = props.get(
                "compaction.small_file_records", DEFAULT_MAX_RECORDS_PER_FILE
            )
            try:
                self.optimize_table(
                    table,
                    namespace,
                    small_file_records=None if sfr == "full" else int(sfr),
                    partition_filter=self._trigger_scope(window),
                )
            except CommitConflictError:
                # The triggering write already committed; compaction is
                # best-effort and will re-trigger on a later write. Letting
                # this propagate would make write_to_table's retry loop
                # re-run (and duplicate) the append.
                pass

    @staticmethod
    def _trigger_scope(window: "list[Commit]") -> "dict[str, Any] | None":
        """Partition scope for an auto-compaction round (reference
        triggers compaction per WRITE TARGET, `catalog/main/impl.py:
        986-1091`): the union of partition values the trigger window's
        adds touched. On a 100 TB table where appends land in one hot
        partition, the triggered bin-pack then reads only that
        partition's small files. None (= whole table) when any add
        lacks partition values (unpartitioned table / pre-evolution
        files) or the touched set is too wide to be worth scoping —
        `optimize_table` re-verifies safety either way."""
        touched: dict[str, set] = {}
        for c in window:
            for a in c.adds:
                pv = a.get("partition_values")
                if not pv:
                    return None
                for k, v in pv.items():
                    touched.setdefault(k, set()).add(v)
        if not touched or any(len(v) > 16 for v in touched.values()):
            return None
        return {k: sorted(v) for k, v in touched.items()}

    def _split_by_key_overlap(
        self,
        snap: Snapshot,
        payload: DataFrame,
        cols: list[str],
    ) -> "tuple[list[FileEntry], dict | None]":
        """Copy-by-reference planning (reference `merge.py:408-502`:
        untouched hash buckets reuse previous files without rewrite).

        Spark-first equivalent: a file is carried forward *by reference*
        — not read, not rewritten, not removed — when its min/max range
        on ANY key column is disjoint from the payload's range on that
        column (a row matching on every key would have to fall inside
        every per-column range). Conservative: files without usable
        stats, or non-comparable stat types, count as touched.

        Returns the touched files and the payload bounds
        (`_payload_bounds`), or None for the bounds when the table holds
        no file to split and none were computed.
        """
        # Positional-delete sidecars are neither touched nor untouched —
        # they carry no merge-key stats (so they'd always classify as
        # "touched" and get removed by the rewrite commit, resurrecting
        # deleted rows in files that stayed live by reference). Callers
        # read them alongside the touched set and keep them live; stale
        # entries pointing at rewritten files match nothing.
        files = [
            f for f in snap.files if f.delta_type != DeltaType.POSITIONAL_DELETE
        ]
        if not files or not cols:
            return files, None
        bounds = self._payload_bounds(payload, cols)
        return [f for f in files if self._stats_overlap(f.stats, bounds)], bounds

    @staticmethod
    def _payload_bounds(payload: DataFrame, cols: list[str]) -> dict:
        """Per-column (min, max) of the payload on `cols` — one tiny
        aggregate job; dates normalized to ISO strings to match the
        footer-stats encoding.

        A column where the payload carries a NULL key contributes a
        bound tagged ``has_null``: merge/delete key matching is
        null-safe (`<=>`) and parquet min/max ignore nulls, so range
        disjointness alone cannot clear a file — the file must ALSO
        prove zero nulls via its recorded footer `null_count`
        (`_stats_overlap`); files without one stay touched."""
        import datetime

        bounds: dict[str, tuple] = {}
        # SQL text: one parse instead of a Py4J round trip per Column call.
        names = [sql_ident(c) for c in cols]
        agg_row = payload.selectExpr(
            *[f"min({c}) AS lo_{i}" for i, c in enumerate(names)],
            *[f"max({c}) AS hi_{i}" for i, c in enumerate(names)],
            *[f"max(CAST({c} IS NULL AS INT)) AS nn_{i}" for i, c in enumerate(names)],
        ).collect()[0]
        for i, c in enumerate(cols):
            lo, hi = agg_row[f"lo_{i}"], agg_row[f"hi_{i}"]
            if lo is None or hi is None:
                continue
            if isinstance(lo, (datetime.datetime, datetime.date)):
                lo, hi = lo.isoformat(), hi.isoformat()
            bounds[c] = (lo, hi, agg_row[f"nn_{i}"] == 1)
        return bounds

    @staticmethod
    def _stats_overlap(stats: "dict | None", bounds: dict) -> bool:
        """True unless the file stats PROVE disjointness on some bound
        column (conservative: missing/uncomparable stats = may overlap).
        A `has_null` bound additionally requires the file's footer
        null_count to be zero — a NULL-key payload row matches any
        NULL-key file row regardless of ranges."""
        for c, (lo, hi, has_null) in bounds.items():
            st = (stats or {}).get(c)
            fmin = st.get("min") if st else None
            fmax = st.get("max") if st else None
            comparable = (
                fmin is not None
                and fmax is not None
                and (
                    (
                        isinstance(fmin, (int, float))
                        and isinstance(lo, (int, float))
                    )
                    or (isinstance(fmin, str) and isinstance(lo, str))
                )
            )
            if not comparable:
                continue
            if has_null and (st.get("nulls") is None or st["nulls"] > 0):
                continue  # file may hold the NULL-key row — touched
            if fmax < lo or fmin > hi:
                return False
        return True

    @classmethod
    def _cow_rebase_rule(cls, commit: Commit, bounds_fn):
        """`CommitLog.commit` predicate for a fully-resolved CoW rewrite.

        A CoW MERGE/DELETE computed against snapshot S collides with any
        commit that lands first. Recomputing is a whole Spark job, but
        the collision is often with a DISJOINT writer (different key
        range). Delta-style resolution: besides what the default rule
        allows, rebase past an intervening commit that provably does not
        interact with ours — no `_clashes`, no wholesale op, and its
        added files' key stats disjoint from our payload's key bounds.
        On a resolved CoW table one key lives in one file, so any
        cross-writer key interaction implies one of those observable
        overlaps (missing stats count as overlap and force the
        recompute). `bounds_fn` returns the payload bounds; it is called
        at most once, and only when a conflict needs them. `_plan_cow`
        passes the bounds its key-overlap split already computed, so a
        lost slot reruns no Spark job."""
        default = default_rebase_rule(commit)
        bounds = None

        def rebase_past(inter: Commit) -> bool:
            nonlocal bounds
            if default(inter):
                return True
            if _clashes(commit, inter) or inter.operation in _WHOLESALE_OPS:
                return False
            if bounds is None:
                bounds = bounds_fn()
            return bool(bounds) and not any(
                cls._stats_overlap(a.get("stats"), bounds) for a in inter.adds
            )

        return rebase_past

    def _normalize_merge_batch(self, df: DataFrame, schema: Schema) -> DataFrame:
        """Dedupe the incoming batch per merge key (last row wins within
        a batch unless merge order says otherwise — reference dedupes the
        incremental batch before merging, `compactor_v2/utils/dedupe.py`).

        `dedupe_last_writer`'s plan, with the window as SQL text: one
        parse instead of a Py4J round trip per Column call."""
        order = [
            f"{sql_ident(name)} {'DESC' if order == 'desc' else 'ASC'} "
            f"NULLS {'LAST' if nulls == 'last' else 'FIRST'}"
            for name, order, nulls in schema.merge_order_specs()
            if name in df.columns
        ]
        rank = (
            "row_number() OVER (PARTITION BY "
            + ", ".join(map(sql_ident, schema.merge_keys))
            + " ORDER BY "
            + ", ".join(order + ["__dcs_row DESC"])
            + ")"
        )
        return (
            df.withColumn("__dcs_row", F.monotonically_increasing_id())
            .withColumn("__dcs_rn", F.expr(rank))
            .filter("__dcs_rn = 1")
            .drop("__dcs_row", "__dcs_rn")
        )

    @_retried(10)
    def delete_where(
        self,
        table: str,
        predicate: Expr,
        namespace: str = DEFAULT_NAMESPACE,
    ) -> int:
        """Predicate delete via POSITIONAL deletes (merge-on-read).

        Matching rows are recorded as (file basename, row index) tuples
        in a positional-delete file — no merge keys required, no data
        rewrite (the reference's position-delete manifest entry type,
        `manifest.py:36-70`, and its equality→position converter,
        `compute/converter/steps/convert.py`). Resolution happens at
        read; OPTIMIZE folds the deletes away. Returns the number of
        rows marked deleted.
        """
        snap = self.snapshot(table, namespace)
        data_files = [
            f
            for f in snap.files
            if f.delta_type != DeltaType.POSITIONAL_DELETE and not f.content_type
        ]
        if not data_files:
            return 0
        rows = self._scan(snap, data_files, with_pos=True)
        # apply existing positional deletes so re-deletes are no-ops
        pos_existing = [
            f for f in snap.files if f.delta_type == DeltaType.POSITIONAL_DELETE
        ]
        if pos_existing:
            dels = self._pos_deletes(snap.table_root, pos_existing)
            rows = rows.join(
                self._hint_small(snap, dels, pos_existing),
                (rows["__dcs_file"] == dels["_file"])
                & (rows["__dcs_pos"] == dels["_pos"]),
                "left_anti",
            )
        matches = rows.filter(predicate.to_column()).select(
            F.col("__dcs_file").alias("_file"),
            F.col("__dcs_pos").alias("_pos"),
        )
        adds = write_data_files(
            matches, self._table_root(table, namespace), fs=self.fs
        )
        n = sum(a["add"].get("records") or 0 for a in adds)
        if n == 0:
            return 0
        self._log(table, namespace).commit(
            Commit(
                version=snap.version + 1,
                operation="DELETE",
                delta_type=DeltaType.POSITIONAL_DELETE,
                actions=adds,
            )
        )
        return n

    def export_table(
        self,
        table: str,
        url: str,
        namespace: str = DEFAULT_NAMESPACE,
        fmt: str | None = None,
        **read_kwargs: Any,
    ) -> None:
        """Export a snapshot to a plain directory in any supported format
        (the `dc.copy(table → URL)` direction of the reference's
        universal copy API, `api.py:97-480`)."""
        from deltacat_spark.sources.formats import write_url

        write_url(self.read_table(table, namespace, **read_kwargs), url, fmt)

    def register_view(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        view_name: str | None = None,
        **read_kwargs: Any,
    ) -> str:
        """Register a snapshot read as a temp view for `spark.sql`."""
        name = view_name or table
        self.read_table(table, namespace, **read_kwargs).createOrReplaceTempView(
            name
        )
        return name

    def sql(
        self,
        query: str,
        tables: "list[str] | None" = None,
        count_rows: bool = True,
        mv_rewrite: bool = True,
    ) -> DataFrame:
        """Run SQL over catalog tables (the surface the reference stubs
        as NotImplemented `dc.query`, reference `api.py:480-481` —
        inherited from Spark here).

        SELECT (and any other read statement) goes straight to Spark
        over temp-view registrations. Three DML statement forms are
        bridged to the catalog write path (each returns a one-row
        DataFrame ``(operation, rows)``):

        * ``INSERT INTO t [(cols)] SELECT ...`` / ``... VALUES (...)``
          → ``write_to_table(mode="auto")`` (APPEND or MERGE per the
          table's keys). A bare VALUES payload's ``colN`` names bind
          positionally to the table schema.
        * ``DELETE FROM t [WHERE cond]`` → positional ``delete_where``
          (no WHERE ⇒ ``truncate_table``). The condition is parsed by
          Spark itself (`plans/expr.py:raw`), not by this method.
        * ``UPDATE t SET a = e, ... [WHERE cond]`` → read + column
          rewrite of matching rows + MERGE upsert (requires merge keys).

        `tables`: tables to (re-)register as views first; defaults to
        the catalog tables the query text references (string literals
        stripped first — a name inside a literal is not a reference).
        Each registration costs a snapshot resolution, so registering
        the whole namespace per query (10³ tables ⇒ 10³ log replays) is
        the wrong shape — only referenced names are resolved.

        ``count_rows=False`` skips the separate count job DML statements
        run to report their ``rows`` (reported as -1) — the escape for
        pipeline use where the payload is large and the count unused.

        **Materialized-view query rewrite** (``mv_rewrite=True``): a
        SELECT that is textually equivalent (whitespace/case-normalized
        OUTSIDE literals — `_normalize_sql`) to a registered
        materialized view's definition is answered by reading the MV
        table instead of re-evaluating the SQL — but ONLY when the MV
        is FRESH (its recorded source watermark equals the source
        table's current version), so a rewrite can never serve stale
        data. The routing decision is observable at
        ``self.last_sql_rewrite`` (MV name, or None).
        """
        # RESTORE/CLONE own their VERSION/TIMESTAMP AS OF clause — the
        # read-path rewrite would swap the source table for a pinned
        # temp view and break the statement.
        if not re.match(
            r"\s*(?:restore\s+table\b"
            r"|create\s+table\s+\w+\s+(?:shallow|deep)\s+clone\b)",
            query,
            re.IGNORECASE,
        ):
            query = self._rewrite_time_travel(query)
        query = self._rewrite_table_changes(query)
        self.last_sql_rewrite = None
        dml = self._sql_dml(query, count_rows=count_rows)
        if dml is not None:
            return dml
        if mv_rewrite:
            hit = self._mv_rewrite_target(query)
            if hit is not None:
                self.last_sql_rewrite = hit
                return self.read_table(hit)
        if tables is None:
            self._register_referenced(query)
        else:
            for t in tables:
                self.register_view(t)
        return self.spark.sql(query)

    def _rewrite_time_travel(self, query: str) -> str:
        """Bridge `FROM t VERSION AS OF n` / `TIMESTAMP AS OF 'ts'|ms`
        (the standard lakehouse SQL idiom) onto the existing
        `version_as_of`/`timestamp_as_of` read path: each occurrence
        registers a pinned-snapshot temp view (`t__v3`, `t__tt<ms>`)
        and the clause is rewritten to that view name, so a query can
        freely join a table's current state against its own history.
        A timestamp may be epoch millis or an ISO datetime string
        (naive strings are UTC — commit timestamps are UTC epoch ms).
        Works inside DML too (e.g. INSERT ... SELECT ... FROM t
        VERSION AS OF 2): the rewrite runs before statement dispatch.
        """
        import re

        pat = re.compile(
            # the tag alternative is '([^']+)' not '(\w+)': the
            # literal-blind scan below matches against _strip_literals
            # output where quoted CONTENT is blanked (the re-match on
            # the original slice recovers the real tag name)
            r"\b(\w+)\s+(?:version\s+as\s+of\s+(?:(\d+)|'([^']+)')"
            r"|timestamp\s+as\s+of\s+(?:'([^']+)'|(\d+)))",
            re.IGNORECASE,
        )
        known = None

        def sub(m: "re.Match") -> str:
            nonlocal known
            t, ver, tag_name, ts_str, ts_ms = m.groups()
            if known is None:
                # SQL identifiers are case-insensitive everywhere else in
                # this surface; map lower → canonical so `FROM Events
                # VERSION AS OF 2` pins the view on table `events`.
                known = {n.lower(): n for n in self.list_tables()}
            if t.lower() not in known:
                return m.group(0)
            t = known[t.lower()]
            if ver is not None:
                view = f"{t}__v{ver}"
                self.register_view(t, view_name=view, version_as_of=int(ver))
                return view
            if tag_name is not None:
                # `VERSION AS OF 'name'` — a named tag (Iceberg-style
                # ref); resolves through the same pinned-view path.
                v = self.resolve_tag(t, tag_name)
                view = f"{t}__tag_{tag_name}"
                self.register_view(t, view_name=view, version_as_of=v)
                return view
            ms = _ts_to_ms(ts_str, ts_ms)
            view = f"{t}__tt{ms}"
            self.register_view(t, view_name=view, timestamp_as_of=ms)
            return view

        # literal-blind: a 'VERSION AS OF' inside a string stays text
        stripped = _strip_literals(query)
        out, last = [], 0
        for m in pat.finditer(stripped):
            out.append(query[last : m.start()])
            out.append(sub(re.match(pat, query[m.start() : m.end()])))
            last = m.end()
        out.append(query[last:])
        return "".join(out)

    def _rewrite_table_changes(self, query: str) -> str:
        """Bridge `table_changes('t', from_v[, to_v])` (the Delta-style
        CDC table function) onto `read_changes`: each call site
        registers a temp view of the change rows — `_commit_version`,
        `_change_type`, `_change_cols` stamped — and the call is
        rewritten to that view name, so changes compose with ordinary
        SQL (joins, aggregation, WHERE on `_change_type`)."""
        pat = re.compile(
            r"table_changes\(\s*'(\w+)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
            re.IGNORECASE,
        )

        def sub(m: "re.Match") -> str:
            t, fv, tv = m.groups()
            view = f"{t}__changes_{fv}_{tv if tv else 'latest'}"
            df = self.read_changes(t, int(fv), int(tv) if tv else None)
            df.createOrReplaceTempView(view)
            return view

        return pat.sub(sub, query)

    def _referenced_tables(self, text: str) -> list[str]:
        """Catalog tables the SQL text references, literal-blind."""
        import re

        stripped = _strip_literals(text)
        return [
            t
            for t in self.list_tables()
            if re.search(rf"\b{re.escape(t)}\b", stripped, re.IGNORECASE)
        ]

    # -- saved views ---------------------------------------------------
    @property
    def _views_dir(self) -> str:
        return self.fs.join(self.root, "_dcs_views")

    def create_saved_view(
        self, name: str, view_sql: str, replace: bool = False
    ) -> None:
        """Persist a named SQL view (text, Delta/Hive-style virtual
        view — no data materialized; `Catalog.sql` expands it on read).
        The reference has no view surface; this completes the SQL-only
        user story alongside DDL/DML."""
        import time as _time

        if name in self.list_tables():
            raise ValueError(f"{name!r} is an existing table")
        path = self.fs.join(self._views_dir, f"{name}.json")
        if not replace and self.fs.exists(path):
            raise ValueError(f"view {name!r} already exists")
        self.fs.makedirs(self._views_dir)
        self.fs.write_text_atomic(
            path,
            json.dumps(
                {
                    "name": name,
                    "sql": view_sql,
                    "created_ms": int(_time.time() * 1000),
                }
            ),
        )

    def drop_saved_view(self, name: str, if_exists: bool = False) -> None:
        path = self.fs.join(self._views_dir, f"{name}.json")
        if not self.fs.exists(path):
            if if_exists:
                return
            raise FileNotFoundError(f"no view {name!r}")
        self.fs.delete(path)

    def list_saved_views(self) -> "dict[str, str]":
        """name -> view SQL for every saved view."""
        out: dict[str, str] = {}
        if not self.fs.isdir(self._views_dir):
            return out
        for fname in self.fs.list_dir(self._views_dir):
            if fname.endswith(".json") and not fname.endswith(".mv.json"):
                try:
                    d = json.loads(
                        self.fs.read_text(self.fs.join(self._views_dir, fname))
                    )
                    out[d["name"]] = d["sql"]
                except (ValueError, KeyError):
                    continue
        return out

    # -- materialized views --------------------------------------------
    def _mv_path(self, name: str) -> str:
        return self.fs.join(self._views_dir, f"{name}.mv.json")

    @staticmethod
    def _mv_record_wise(view_sql: str) -> bool:
        """Conservative classification: only a plain
        SELECT-project/filter over one table is distributive over
        unions (safe for the incremental append path). Anything that
        smells of aggregation/reordering forces full-rebuild refreshes.
        Subqueries (correlated, IN/EXISTS, scalar) are NOT distributive
        over unions even when they reference the same single table —
        `WHERE id NOT IN (SELECT id FROM t WHERE flag)` evaluated over
        only the new slice is wrong — so any second SELECT forces
        full-rebuild too."""
        import re

        stripped = _strip_literals(view_sql).lower()
        if len(re.findall(r"\bselect\b", stripped)) != 1:
            return False
        return not re.search(
            r"\b(group\s+by|distinct|join|union|order\s+by|limit|having|"
            r"exists)\b"
            r"|\bover\s*\("
            r"|\b(count|sum|avg|min|max|first|last|collect_\w+|approx_\w+)"
            r"\s*\(",
            stripped,
        )

    @staticmethod
    def _view_preserves_columns(view_sql: str, cols: "list[str]") -> bool:
        """True when the view's SELECT list provably carries every
        column of `cols` through UNCHANGED — bare identifier items (or
        `*`). `SELECT id*2 AS id` transforms the value, so a derived
        row would no longer be addressable by its source key; only
        identity items qualify (conservative: a miss keeps the exact
        full-rebuild path)."""
        import re

        stripped = _strip_literals(view_sql)
        m = re.match(
            r"\s*select\s+(.*?)\s+from\s", stripped, re.IGNORECASE | re.DOTALL
        )
        if not m:
            return False
        items, depth, cur = [], 0, []
        for ch in m.group(1):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                items.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        items.append("".join(cur).strip())
        if any(i == "*" for i in items):
            return True
        bare = {i.lower() for i in items if re.fullmatch(r"\w+", i)}
        return {c.lower() for c in cols} <= bare

    def create_materialized_view(
        self, name: str, view_sql: str, replace: bool = False
    ) -> dict:
        """`CREATE MATERIALIZED VIEW` — a real derived TABLE kept equal
        to the view SQL. Single-table record-wise SELECTs refresh
        incrementally (O(new data), watermark rides the data commit —
        `materialize.py:refresh_incremental`); single-table GROUP BY
        views take the incremental-aggregate merge path; everything
        else — including MULTI-TABLE views (joins/unions across
        catalog tables) — refreshes by exact full rebuild over pinned
        per-source snapshots with one watermark per source
        (`_refresh_mv_multi`). Returns the bootstrap refresh audit
        dict."""
        refs = self._referenced_tables(view_sql)
        if not refs:
            raise ValueError(
                "materialized view SQL references no catalog table"
            )
        if self.table_exists(name) or self.fs.exists(self._mv_path(name)):
            if not replace:
                raise ValueError(f"{name!r} already exists")
            # CREATE OR REPLACE: the old MV table's watermark describes
            # the OLD definition's contents — left in place, an unchanged
            # source version would no-op the bootstrap refresh and the
            # query rewrite would serve the old definition's rows as the
            # new SQL's answer. REPLACE starts a fresh derived table.
            if self.table_exists(name):
                self.drop_table(name)
        self.fs.makedirs(self._views_dir)
        from deltacat_spark.catalog.materialize import (
            parse_agg_view,
            parse_join_agg_view,
        )

        single = len(refs) == 1
        # Record-wise view over a MERGE-KEYED source that carries the
        # keys through unchanged: each derived row is addressable by
        # its source key, so MERGE/DELETE windows can maintain the MV
        # keyed (upsert touched keys' post-images, delete vanished
        # ones) instead of full-rebuilding — keyed sources never have
        # insert-only windows, so without this they ALWAYS rebuilt.
        record_keys = None
        if single and self._mv_record_wise(view_sql):
            try:
                src_schema = self.snapshot(refs[0]).schema
            except FileNotFoundError:
                src_schema = None
            mkeys = src_schema.merge_keys if src_schema else []
            if mkeys and self._view_preserves_columns(view_sql, mkeys):
                record_keys = mkeys
        self.fs.write_text_atomic(
            self._mv_path(name),
            json.dumps(
                {
                    "name": name,
                    "sql": view_sql,
                    # precomputed at create time so the per-SELECT
                    # rewrite probe doesn't re-normalize every MV's SQL
                    "sql_norm": _normalize_sql(view_sql),
                    "src": refs[0],
                    # multi-table MVs refresh by exact full rebuild over
                    # PINNED per-source snapshots (version-consistent),
                    # with one watermark per source
                    "srcs": refs,
                    "record_wise": single
                    and self._mv_record_wise(view_sql),
                    "record_keys": record_keys,
                    # single-table GROUP BY with mergeable aggregates →
                    # the incremental-aggregate refresh path (partials
                    # merged group-by-group via the MV's merge keys)
                    "agg_spec": (
                        parse_agg_view(view_sql, _strip_literals(view_sql))
                        if single
                        else None
                    ),
                    # two-table inner-join GROUP BY → delta partial-agg
                    # maintenance under insert-only windows
                    "join_agg_spec": (
                        parse_join_agg_view(view_sql, n_tables=len(refs))
                        if len(refs) >= 2
                        else None
                    ),
                }
            ),
        )
        return self.refresh_materialized_view(name)

    def refresh_materialized_view(self, name: str) -> dict:
        from deltacat_spark.catalog.materialize import refresh_incremental

        if not self.fs.exists(self._mv_path(name)):
            raise FileNotFoundError(f"no materialized view {name!r}")
        d = json.loads(self.fs.read_text(self._mv_path(name)))
        src, vsql = d["src"], d["sql"]
        srcs = d.get("srcs") or [src]
        if len(srcs) > 1:
            return self._refresh_mv_multi(
                name, vsql, srcs, d.get("join_agg_spec")
            )

        def transform(df: DataFrame) -> DataFrame:
            tmp = f"__mv_src_{name}"
            df.createOrReplaceTempView(tmp)
            # table-reference-position substitution only — a column or
            # alias spelled like the source table survives untouched
            return self.spark.sql(_substitute_table_refs(vsql, src, tmp))

        return refresh_incremental(
            self,
            src,
            name,
            transform,
            record_wise=bool(d["record_wise"]),
            agg_spec=d.get("agg_spec"),
            record_keys=d.get("record_keys"),
        )

    @staticmethod
    def _mv_join_record_wise(vsql: str, n_tables: int = 2) -> bool:
        """Conservative classifier for the k-table INCREMENTAL JOIN
        path: exactly n_tables-1 INNER (or bare/CROSS) JOINs,
        record-wise select list (no aggregation/dedup/reordering), no
        subqueries. LEFT/RIGHT/FULL are excluded — null-extension rows
        are not distributive over unions (an insert on the right can
        RETRACT a previously-emitted null-extended left row)."""
        import re

        stripped = _strip_literals(vsql).lower()
        if len(re.findall(r"\bselect\b", stripped)) != 1:
            return False
        if len(re.findall(r"\bjoin\b", stripped)) != n_tables - 1:
            return False
        if re.search(r"\b(left|right|full|semi|anti|natural)\s+(outer\s+)?join\b", stripped):
            return False
        return not re.search(
            r"\b(group\s+by|distinct|union|order\s+by|limit|having|exists)\b"
            r"|\bover\s*\("
            r"|\b(count|sum|avg|min|max|first|last|collect_\w+|approx_\w+)"
            r"\s*\(",
            stripped,
        )

    def _mv_join_delta_terms(
        self, name: str, vsql: str, srcs: list, cur: dict, last: dict
    ) -> "DataFrame":
        """The k-way first-order delta of a multi-join view (telescoping
        identity, bag semantics):

            Q(A1+d1, ..., Ak+dk) - Q(A1, ..., Ak)
              = SUM_i Q(A1_old, ..., A(i-1)_old, dAi,
                        A(i+1)_cur, ..., Ak_cur)

        each term runs the FULL view SQL with source i swapped for its
        change slice, everything before it pinned OLD and everything
        after it pinned CURRENT — so every cross term of the expansion
        lands exactly once. Terms are change-slice-sized joins; the
        pinned sides are snapshot reads with pushdown intact."""
        old_v, cur_v, delta_v = {}, {}, {}
        for t in srcs:
            old_v[t] = f"__mv_old_{name}_{t}"
            self.register_view(t, view_name=old_v[t], version_as_of=last[t])
            cur_v[t] = f"__mv_cur_{name}_{t}"
            self.register_view(t, view_name=cur_v[t], version_as_of=cur[t])
            delta_v[t] = f"__mv_d_{name}_{t}"
            self.read_changes(
                t, last[t], cur[t]
            ).drop(
                "_commit_version", "_change_type", "_change_cols"
            ).createOrReplaceTempView(delta_v[t])
        delta = None
        for i, t in enumerate(srcs):
            if last[t] == cur[t]:
                continue  # empty change slice — term contributes nothing
            text = vsql
            for j, u in enumerate(srcs):
                view = (
                    old_v[u] if j < i else delta_v[u] if j == i else cur_v[u]
                )
                text = _substitute_table_refs(text, u, view)
            term = self.spark.sql(text)
            delta = term if delta is None else delta.unionByName(term)
        return delta

    def _mv_join_keyed_refresh(
        self,
        name: str,
        vsql: str,
        srcs: list,
        cur: dict,
        last: dict,
        join_agg_spec: dict,
    ) -> "dict | None":
        """Keyed incremental maintenance for a k-way JOIN + GROUP BY MV
        under MERGE/DELETE windows — the join analogue of the
        single-table `incremental_agg_keyed` path and the last cell of
        the MV maintenance matrix. Every MOVED source must be
        merge-keyed with a CDC-visible MERGE/DELETE window
        (`_touched_keys_for_window`); returns None when ineligible (or
        when the cost gate says most groups moved) and the caller falls
        through to the exact pinned rebuild.

        Soundness: any join-result row that differs between Q(old) and
        Q(cur) involves at least one changed source row, whose merge
        key is in that source's touched set. The union over moved
        sources i of the GROUP COLUMNS of

            Q(..all@last.., touched-slice_i@last, ..all@last..)  (pre)
          ∪ Q(..all@cur..,  touched-slice_i@cur,  ..all@cur..)   (post)

        is therefore a superset of every group whose aggregate moved
        (a vanished pre-row appears in some pre term, a born post-row
        in some post term). Those groups are then recomputed EXACTLY
        over the pinned CURRENT snapshots — each source that carries a
        group column is sliced to touched-group membership (bounds
        predicate prunes the scan, null-safe semi join restricts it),
        and a final null-safe group semi join makes the restriction
        exact — so MIN/MAX stay exact too (no retraction arithmetic).
        Vanished groups are deleted FIRST, the watermark vector rides
        the merge commit (crash-atomic: a retry replays the idempotent
        recompute).

        At 100 TB: cost is O(touched keys + touched groups' join
        rows), never O(table) — every term joins a key/group slice
        against pinned snapshot reads with pushdown intact."""
        from deltacat_spark.catalog.materialize import (
            MV_SRC_VERSION,
            _bounds_predicate,
            _null_safe_semi,
            _snapshot_row_estimate,
            _touched_keys_for_window,
        )

        touched: dict[str, tuple] = {}
        for t in srcs:
            if last[t] == cur[t]:
                continue
            schema = self.snapshot(t).schema
            mkeys = schema.merge_keys if schema else []
            if not mkeys:
                return None  # moved unkeyed source — keys unknowable
            res = _touched_keys_for_window(
                self, t, DEFAULT_NAMESPACE, cur[t], last[t], mkeys
            )
            if res is None:
                return None  # wholesale/CDC-invisible window
            if isinstance(res, str):
                continue  # benign-only window — nothing moved
            touched[t] = (mkeys, res.persist())

        wm = {f"{MV_SRC_VERSION}.{t}": str(v) for t, v in cur.items()}
        if not touched:
            self.alter_table(name, properties=wm)
            return {
                "mode": "incremental_join_agg_keyed",
                "src_versions": cur,
                "touched_groups": 0,
            }
        group_cols = list(join_agg_spec["group_cols"])
        try:
            # ---- touched groups: pre/post slice terms per moved source
            pinned: dict[tuple, str] = {}

            def _pin(u: str, version: int) -> str:
                key = (u, version)
                if key not in pinned:
                    vname = f"__mvk_{name}_{u}_v{version}"
                    self.register_view(
                        u, view_name=vname, version_as_of=version
                    )
                    pinned[key] = vname
                return pinned[key]

            gparts = []
            for t, (mkeys, kdf) in touched.items():
                kpred = _bounds_predicate(kdf, mkeys)
                for tag, vers in (("pre", last), ("post", cur)):
                    text = vsql
                    for u in srcs:
                        if u == t:
                            vname = f"__mvk_{name}_{u}_sl_{tag}"
                            sl = self.read_table(
                                u, version_as_of=vers[u], predicate=kpred
                            )
                            _null_safe_semi(
                                sl, kdf, mkeys
                            ).createOrReplaceTempView(vname)
                        else:
                            vname = _pin(u, vers[u])
                        text = _substitute_table_refs(text, u, vname)
                    gparts.append(self.spark.sql(text).select(*group_cols))
            touched_groups = gparts[0]
            for p in gparts[1:]:
                touched_groups = touched_groups.unionByName(p)
            touched_groups = touched_groups.distinct().persist()
            n_tg = touched_groups.count()
            if n_tg == 0:
                touched_groups.unpersist()
                self.alter_table(name, properties=wm)
                return {
                    "mode": "incremental_join_agg_keyed",
                    "src_versions": cur,
                    "touched_groups": 0,
                }
            # COST GATE (same policy as the single-table keyed paths):
            # when the window touched most groups, the slice probes +
            # per-group recompute cost more than one rebuild pass. The
            # MV row count IS the group count (metadata read).
            mv_groups = max(
                _snapshot_row_estimate(self, name, DEFAULT_NAMESPACE), 1
            )
            try:
                gate = float(
                    self.snapshot(name).properties.get(
                        "mv.keyed_gate", "0.5"
                    )
                )
            except ValueError:
                gate = 0.5
            if n_tg >= gate * mv_groups:
                touched_groups.unpersist()
                return None  # most groups moved — rebuild is cheaper
            # ---- exact recompute of the touched groups @cur
            text = vsql
            for u in srcs:
                u_schema = self.snapshot(u).schema
                u_cols = (
                    {f.name.lower() for f in u_schema.fields}
                    if u_schema
                    else set()
                )
                cols_u = [g for g in group_cols if g.lower() in u_cols]
                vname = f"__mvk_{name}_{u}_rc"
                if cols_u:
                    gpred = _bounds_predicate(touched_groups, cols_u)
                    df = self.read_table(
                        u, version_as_of=cur[u], predicate=gpred
                    )
                    df = _null_safe_semi(df, touched_groups, cols_u)
                else:
                    df = self.read_table(u, version_as_of=cur[u])
                df.createOrReplaceTempView(vname)
                text = _substitute_table_refs(text, u, vname)
            recomputed = _null_safe_semi(
                self.spark.sql(text), touched_groups, group_cols
            ).persist()
            vanished = _null_safe_semi(
                touched_groups, recomputed, group_cols, anti=True
            )
            n_new = recomputed.count()
            n_gone = vanished.count()
            # DELETE first, MERGE (with the watermark) last — a crash
            # in between leaves the watermark at `last` and the retry
            # replays the idempotent recompute
            if n_gone:
                self.write_to_table(
                    vanished.select(*group_cols).distinct(),
                    name,
                    mode="delete",
                    commit_properties=wm if not n_new else None,
                )
            if n_new:
                self.write_to_table(
                    recomputed, name, mode="merge", commit_properties=wm
                )
            elif not n_gone:
                self.alter_table(name, properties=wm)
            recomputed.unpersist()
            touched_groups.unpersist()
            return {
                "mode": "incremental_join_agg_keyed",
                "src_versions": cur,
                "touched_groups": n_new + n_gone,
            }
        finally:
            for _t, (_mk, kdf) in touched.items():
                kdf.unpersist()

    def _refresh_mv_multi(
        self,
        name: str,
        vsql: str,
        srcs: list,
        join_agg_spec: "dict | None" = None,
    ) -> dict:
        """Multi-table MV refresh: exact full rebuild over PINNED
        per-source snapshots. The source versions are captured first
        and every source is registered `version_as_of` that capture, so
        the rebuilt contents and the recorded watermarks describe the
        same version vector even under concurrent writers. A refresh
        where no source moved is a metadata-only noop."""
        from deltacat_spark.catalog.materialize import MV_SRC_VERSION

        cur = {t: self.snapshot(t).version for t in srcs}

        def _wm(raw):
            # corrupted/cleared watermark strings read as None -> the
            # eligibility checks fail closed into the exact rebuild
            try:
                return int(raw)
            except (TypeError, ValueError):
                return None

        if self.table_exists(name):
            props = self.snapshot(name).properties
            last = {
                t: _wm(props.get(f"{MV_SRC_VERSION}.{t}")) for t in srcs
            }
            # '==', not '>=': a watermark PAST a source's current
            # version means the source was dropped/recreated — the MV
            # contents describe a dead incarnation and must rebuild
            if all(
                last[t] is not None and last[t] == cur[t] for t in srcs
            ):
                return {"mode": "noop", "src_versions": cur}
            # First-order delta maintenance for a k-table INNER-join
            # record-wise view under insert-only windows on every
            # source (telescoping IVM identity — see
            # `_mv_join_delta_terms`), appended in ONE commit carrying
            # the whole watermark vector — crash-atomic like the
            # single-table path. Anything else (non-insert windows,
            # outer joins, dead incarnations) falls through to the
            # exact pinned rebuild.
            from deltacat_spark.catalog.materialize import (
                _insert_only_window,
            )

            if (
                all(
                    last[t] is not None and last[t] <= cur[t]
                    for t in srcs
                )
                and self._mv_join_record_wise(vsql, len(srcs))
                and all(
                    _insert_only_window(
                        self, t, DEFAULT_NAMESPACE, cur[t], last[t]
                    )
                    for t in srcs
                )
            ):
                delta = self._mv_join_delta_terms(name, vsql, srcs, cur, last)
                wm = {
                    f"{MV_SRC_VERSION}.{t}": str(v) for t, v in cur.items()
                }
                if delta is None:
                    self.alter_table(name, properties=wm)
                else:
                    self.write_to_table(
                        delta, name, mode="add", commit_properties=wm
                    )
                return {"mode": "incremental_join", "src_versions": cur}
            # Join + GROUP BY views: partial-aggregate the SAME k delta
            # join terms (the full view SQL, GROUP BY included, runs
            # over each substituted combination), re-combine the
            # partial tables per group, then merge into the
            # group-KEYED MV with the single-table combiner (COUNT/SUM
            # add, MIN/MAX least/greatest — sound because insert-only
            # windows never retract). One commit carries the whole
            # watermark vector.
            if (
                join_agg_spec is not None
                and all(
                    last[t] is not None and last[t] <= cur[t]
                    for t in srcs
                )
                and all(
                    _insert_only_window(
                        self, t, DEFAULT_NAMESPACE, cur[t], last[t]
                    )
                    for t in srcs
                )
            ):
                from deltacat_spark.catalog.materialize import (
                    _merge_partial_into_old,
                )

                group_cols = list(join_agg_spec["group_cols"])
                aggs = list(join_agg_spec["aggs"])
                terms = self._mv_join_delta_terms(name, vsql, srcs, cur, last)
                wm = {
                    f"{MV_SRC_VERSION}.{t}": str(v) for t, v in cur.items()
                }
                combine = {
                    "count": F.sum,
                    "sum": F.sum,
                    "min": F.min,
                    "max": F.max,
                }
                partial = (
                    terms.groupBy(*group_cols).agg(
                        *[
                            combine[ag["func"]](F.col(ag["alias"])).alias(
                                ag["alias"]
                            )
                            for ag in aggs
                        ]
                    )
                    if terms is not None
                    else None
                )
                if partial is None or partial.isEmpty():
                    self.alter_table(name, properties=wm)
                    return {
                        "mode": "incremental_join_agg",
                        "src_versions": cur,
                        "touched_groups": 0,
                    }
                old = self.read_table(name).select(
                    *group_cols,
                    *[
                        F.col(ag["alias"]).alias(f"__old_{ag['alias']}")
                        for ag in aggs
                    ],
                )
                merged = _merge_partial_into_old(
                    partial, old, group_cols, aggs
                )
                n_touched = merged.count()
                self.write_to_table(
                    merged, name, mode="merge", commit_properties=wm
                )
                return {
                    "mode": "incremental_join_agg",
                    "src_versions": cur,
                    "touched_groups": n_touched,
                }
            # MERGE/DELETE windows on merge-keyed sources: keyed
            # touched-group recompute (`_mv_join_keyed_refresh` — the
            # join analogue of the single-table incremental_agg_keyed
            # path). Ineligible or gate-rejected windows return None
            # and fall through to the exact pinned rebuild.
            if join_agg_spec is not None and all(
                last[t] is not None and last[t] <= cur[t] for t in srcs
            ):
                res = self._mv_join_keyed_refresh(
                    name, vsql, srcs, cur, last, join_agg_spec
                )
                if res is not None:
                    return res
        # Pinned snapshots go under PRIVATE view names and the SQL's
        # table references are rewritten IN TABLE POSITION only
        # (`_substitute_table_refs` — a column/alias spelled like a
        # source table, e.g. `SELECT o.orders FROM orders o`, is never
        # touched) — registering under the bare table names would leave
        # version-pinned views shadowing the tables for any later raw
        # spark.sql in this session (the single-table path avoids this
        # the same way).
        text = vsql
        for t in srcs:
            tmp = f"__mv_src_{name}_{t}"
            self.register_view(t, view_name=tmp, version_as_of=cur[t])
            text = _substitute_table_refs(text, t, tmp)
        out = self.spark.sql(text)
        wm = {f"{MV_SRC_VERSION}.{t}": str(v) for t, v in cur.items()}
        if not self.table_exists(name) and join_agg_spec is not None:
            # Join-agg MV bootstrap: keyed on its group columns so
            # later insert-only windows merge partials group-by-group
            # instead of rewriting the table.
            from deltacat_spark.schema import Field, Schema

            group = {g.lower() for g in join_agg_spec["group_cols"]}
            fields = [
                Field(
                    f.name,
                    f.dataType,
                    nullable=f.nullable and f.name.lower() not in group,
                    merge_key=f.name.lower() in group,
                )
                for f in out.schema.fields
            ]
            self.create_table(name, schema=Schema(fields))
            self.write_to_table(
                out, name, mode="merge", commit_properties=wm
            )
        else:
            self.write_to_table(
                out,
                name,
                mode="replace" if self.table_exists(name) else "create",
                commit_properties=wm,
            )
        return {"mode": "rebuild", "src_versions": cur}

    def _mv_rewrite_target(self, query: str) -> "str | None":
        """The registered materialized view (if any) whose defining SQL
        is textually equivalent to `query` AND whose recorded source
        watermark (`mv.src_version` — stamped by every refresh) equals
        the source table's CURRENT version. Equality, not ≥: versions
        only grow, and a stale MV must never answer a query — the
        caller falls through to direct evaluation instead. Matching is
        `_normalize_sql` textual equivalence: conservative (formatting
        differences miss the rewrite, which is always safe) and
        literal-exact (a query differing only inside a string literal
        never matches). ORDER BY queries are never rewritten (a table
        read cannot honor the ordering).

        Cost: one tiny-JSON read per registered MV per SELECT (the
        freshness price — watermarks must be CURRENT, so they cannot be
        cached across statements); definitions carry their normalized
        SQL precomputed. `sql(..., mv_rewrite=False)` skips the probe
        entirely for rewrite-indifferent pipelines."""
        mvs = self.list_materialized_views()
        if not mvs:
            return None
        from deltacat_spark.catalog.materialize import MV_SRC_VERSION

        qn = _normalize_sql(query)
        # An ORDER BY query's answer is ORDERED; a table read is not.
        # Refuse the rewrite rather than silently drop the ordering —
        # conservative (a miss is always safe).
        if re.search(r"\border\s+by\b", _strip_literals(qn)):
            return None
        for name, d in mvs.items():
            if (d.get("sql_norm") or _normalize_sql(d.get("sql", ""))) != qn:
                continue
            if not self.table_exists(name):
                continue
            srcs = d.get("srcs") or [d["src"]]
            try:
                props = self.snapshot(name).properties
                if len(srcs) == 1:
                    raw = props.get(MV_SRC_VERSION)
                    fresh = (
                        raw is not None
                        and int(raw) == self.snapshot(srcs[0]).version
                    )
                else:
                    fresh = all(
                        props.get(f"{MV_SRC_VERSION}.{t}") is not None
                        and int(props[f"{MV_SRC_VERSION}.{t}"])
                        == self.snapshot(t).version
                        for t in srcs
                    )
                if not fresh:
                    continue
            except (FileNotFoundError, ValueError):
                continue
            return name
        return None

    def drop_materialized_view(self, name: str, if_exists: bool = False) -> None:
        path = self._mv_path(name)
        if not self.fs.exists(path):
            if if_exists:
                return
            raise FileNotFoundError(f"no materialized view {name!r}")
        self.fs.delete(path)
        if self.table_exists(name):
            self.drop_table(name)

    def list_materialized_views(self) -> "dict[str, dict]":
        out: dict[str, dict] = {}
        if not self.fs.isdir(self._views_dir):
            return out
        for fname in self.fs.list_dir(self._views_dir):
            if fname.endswith(".mv.json"):
                try:
                    d = json.loads(
                        self.fs.read_text(self.fs.join(self._views_dir, fname))
                    )
                    out[d["name"]] = d
                except (ValueError, KeyError):
                    continue
        return out

    def _register_referenced(
        self, text: str, _seen: "set[str] | None" = None
    ) -> None:
        """Register every catalog table AND saved view the SQL text
        references as temp views — views expand recursively (a view
        over a view over tables), with a seen-set cycle guard. Same
        literal-blind matching as `_referenced_tables`."""
        import re

        seen = _seen if _seen is not None else set()
        for t in self._referenced_tables(text):
            if t not in seen:
                seen.add(t)
                self.register_view(t)
        stripped = _strip_literals(text)
        for name, vsql in self.list_saved_views().items():
            if name in seen:
                continue
            if re.search(rf"\b{re.escape(name)}\b", stripped, re.IGNORECASE):
                seen.add(name)
                self._register_referenced(vsql, seen)
                self.spark.sql(vsql).createOrReplaceTempView(name)

    def _pin_count(
        self, df: DataFrame, count_rows: bool
    ) -> "tuple[DataFrame, int]":
        """Pin a DML payload so the reported row count and the written
        data come from ONE evaluation (a rand()/uuid() payload would
        otherwise report one sample and write another) and the plan
        isn't computed twice. Caller must ``_unpin`` after the write.
        ``count_rows=False`` skips both the cache and the count job
        (rows reported as -1)."""
        if not count_rows:
            return df, -1
        df = df.cache()
        return df, df.count()

    @staticmethod
    def _unpin(df: DataFrame) -> None:
        try:
            df.unpersist()
        except Exception:
            pass  # never let cache cleanup mask the DML result

    def _sql_create_table(
        self,
        q: str,
        table: str,
        cols_sql: str,
        part_sql: "str | None",
        props_sql: "str | None",
    ) -> DataFrame:
        """`CREATE TABLE t (col TYPE [PRIMARY KEY] [NOT NULL], ...,
        [PRIMARY KEY (a, b)]) [PARTITIONED BY (col, ...)]
        [TBLPROPERTIES ('k'='v', ...)]` — PRIMARY KEY maps onto the
        engine's merge keys (the SQL spelling of the reference's
        `merge_key` schema flag). Types are parsed by Spark's own DDL
        dialect."""
        import re

        if_not_exists = bool(
            re.match(r"create\s+table\s+if\s+not\s+exists\b", q, re.IGNORECASE)
        )
        if self.table_exists(table):
            if if_not_exists:
                return self._dml_result("CREATE TABLE", 0)
            raise ValueError(f"table {table} already exists")
        # split the column list on top-level commas (types like
        # decimal(10,2) and table constraints keep their parens)
        parts, depth, start = [], 0, 0
        for i, ch in enumerate(cols_sql):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(cols_sql[start:i])
                start = i + 1
        parts.append(cols_sql[start:])
        fields: list[Field] = []
        pk_cols: set[str] = set()
        for part in (p.strip() for p in parts):
            if not part:
                continue
            cm = re.fullmatch(
                r"primary\s+key\s*\(([^)]*)\)", part, re.IGNORECASE
            )
            if cm:
                pk_cols |= {c.strip() for c in cm.group(1).split(",") if c.strip()}
                continue
            gen_expr = None
            gm = re.search(
                r"\s+generated\s+always\s+as\s*\((.*)\)\s*$",
                part,
                re.IGNORECASE | re.DOTALL,
            )
            if gm:
                gen_expr = gm.group(1).strip()
                part = part[: gm.start()]
            cm = re.fullmatch(
                r"(\w+)\s+(.*?)(\s+primary\s+key)?(\s+not\s+null)?",
                part,
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                raise ValueError(f"malformed column definition: {part!r}")
            name, typ, pk, notnull = cm.groups()
            dt = (
                self.spark.sql(f"SELECT CAST(NULL AS {typ}) AS c")
                .schema[0]
                .dataType
            )
            fields.append(
                Field(
                    name,
                    dt,
                    nullable=not (notnull or pk),
                    merge_key=bool(pk),
                    generated_expr=gen_expr,
                )
            )
        for f_ in fields:
            if f_.name in pk_cols:
                f_.merge_key, f_.nullable = True, False
        unknown = pk_cols - {f_.name for f_ in fields}
        if unknown:
            raise ValueError(f"PRIMARY KEY references unknown columns {sorted(unknown)}")
        scheme = None
        if part_sql:
            cols = {f_.name for f_ in fields}
            scheme = []
            for c in (c.strip() for c in part_sql.split(",") if c.strip()):
                if c not in cols:
                    raise ValueError(f"PARTITIONED BY references unknown column {c!r}")
                scheme.append(PartitionKey(c))
        props = None
        if props_sql:
            props = {}
            for pm in re.finditer(
                r"'([^']+)'\s*=\s*(?:'([^']*)'|([^,\s)]+))", props_sql
            ):
                k, vq, vb = pm.groups()
                props[k] = vq if vq is not None else vb
        self.create_table(
            table,
            schema=Schema(fields),
            partition_scheme=scheme,
            properties=props,
        )
        return self._dml_result("CREATE TABLE", 0)

    def _dml_result(self, operation: str, rows: int) -> DataFrame:
        return local_df(self.spark,
            [(operation, rows)], "operation string, rows long"
        )

    def _insert_payload(
        self, table: str, payload: str, collist: "str | None"
    ) -> DataFrame:
        """Resolve an INSERT payload (SELECT or VALUES) to a DataFrame
        with table-aligned column names."""
        import re

        if payload.lower().startswith("select"):
            # the SELECT may read catalog tables / saved views
            self._register_referenced(payload)
        df = self.spark.sql(payload)
        names = None
        if collist:
            names = [c.strip() for c in collist.split(",") if c.strip()]
        elif all(re.fullmatch(r"col\d+", c) for c in df.columns):
            # bare VALUES: bind positionally to the table schema
            snap = self.snapshot(table)
            if snap.schema is not None:
                names = [f.name for f in snap.schema.fields][: len(df.columns)]
        if names:
            if len(names) != len(df.columns):
                raise ValueError(
                    f"INSERT column list has {len(names)} names for "
                    f"{len(df.columns)} payload columns"
                )
            df = df.toDF(*names)
        return df

    def _sql_merge(
        self,
        table,
        alias_a,
        alias_b,
        src,
        salias_a,
        salias_b,
        on,
        actions,
        count_rows: bool = True,
    ) -> DataFrame:
        """`MERGE INTO` bridged onto the engine's keyed upsert/delete
        programs:

            MERGE INTO t [AS a] USING (<select>)|src_table [AS s]
            ON t.k = s.k [AND ...]
            [WHEN MATCHED [AND <pred>] THEN
                UPDATE SET * | UPDATE SET col = expr, ... | DELETE]
            [WHEN NOT MATCHED [AND <pred>] THEN INSERT *]

        The ON condition must be the conjunction of equality predicates
        over EXACTLY the table's merge keys — that is the condition
        under which MERGE ≡ the keyed upsert/delete the write path
        implements (arbitrary ON conditions would need a general
        target-rewrite MERGE; rejected with a clear error instead of
        silently wrong results). Within that frame the general row
        shapes all reduce to ONE keyed write (or, for the
        DELETE+INSERT combination, one atomic two-commit transaction):

        * ``WHEN MATCHED AND p`` / ``WHEN NOT MATCHED AND p``: the
          source is split by a key semi/anti join against the target
          and each half filtered by its predicate — predicates may
          reference BOTH aliases (``t.col``/``s.col``) because the
          matched half is evaluated on the key-equality join.
        * ``UPDATE SET col = expr, …``: matched rows materialize as
          full rows (assigned columns from the expressions, the rest
          from the target) — the same per-column stitch
          ``partial_upsert`` performs, but composed with inserts into
          a single commit. Assigning a merge-key column is rejected
          (the upsert would match on the NEW key and duplicate rows).
        * star-forms without predicates keep the original no-join
          fast paths (plain upsert / key delete).
        """
        import re

        t_alias = (alias_a or alias_b or table).lower()
        s_alias = (salias_a or salias_b or (src if not src.startswith("(") else "src")).lower()
        if src.startswith("("):
            inner = src[1:-1].strip()
            self._register_referenced(inner)
            src_df = self.spark.sql(inner)
        else:
            src_df = self.read_table(src)
        snap = self.snapshot(table)
        mk = set(snap.schema.merge_keys) if snap.schema else set()
        if not mk:
            raise SchemaError("MERGE INTO requires a table with merge keys")
        # ON must be key-equality conjuncts covering exactly the merge keys
        on_cols: set[str] = set()
        for conj in re.split(r"\s+and\s+", on.strip(), flags=re.IGNORECASE):
            em = re.fullmatch(
                r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*", conj
            )
            if not em:
                raise ValueError(
                    f"MERGE ON must be alias.col = alias.col conjuncts, got {conj!r}"
                )
            qa, ca, qb, cb = em.groups()
            pair = {qa.lower(): ca, qb.lower(): cb}
            if set(pair) != {t_alias, s_alias} or ca != cb:
                raise ValueError(
                    f"MERGE ON conjunct {conj!r} must equate the same column "
                    f"of {t_alias!r} and {s_alias!r}"
                )
            on_cols.add(ca)
        if on_cols != mk:
            raise ValueError(
                f"MERGE ON columns {sorted(on_cols)} must equal the table's "
                f"merge keys {sorted(mk)}"
            )
        acts = actions.strip().rstrip(";")
        clauses = re.findall(
            r"when\s+(not\s+matched|matched)\s*(?:\s+and\s+(.*?))?\s*then\s+"
            r"(update\s+set\s+.*?|delete|insert\s+\*)\s*"
            r"(?=when\s+(?:not\s+)?matched\b|$)",
            acts,
            re.IGNORECASE | re.DOTALL,
        )
        consumed = re.sub(
            r"when\s+(not\s+matched|matched)\s*(?:\s+and\s+(.*?))?\s*then\s+"
            r"(update\s+set\s+.*?|delete|insert\s+\*)\s*"
            r"(?=when\s+(?:not\s+)?matched\b|$)",
            "",
            acts,
            flags=re.IGNORECASE | re.DOTALL,
        ).strip()
        if not clauses or consumed:
            raise ValueError(
                "unsupported MERGE actions (supported: WHEN MATCHED "
                "[AND pred] THEN UPDATE SET *|UPDATE SET col = expr, ..."
                "|DELETE, WHEN NOT MATCHED [AND pred] THEN INSERT *): "
                f"{actions!r}"
            )
        matched: "tuple[str | None, str] | None" = None  # (pred, action)
        unmatched_pred: "str | None" = None
        has_insert = False
        for kind, pred, action in clauses:
            pred = pred.strip() or None
            if kind.lower().startswith("not"):
                if has_insert:
                    raise ValueError(
                        "multiple WHEN NOT MATCHED clauses are not supported"
                    )
                if not re.fullmatch(r"insert\s+\*", action, re.IGNORECASE):
                    raise ValueError(
                        "WHEN NOT MATCHED supports only INSERT * "
                        f"(got {action!r}) — explicit column/VALUES inserts "
                        "must align the source SELECT instead"
                    )
                has_insert, unmatched_pred = True, pred
            else:
                if matched is not None:
                    raise ValueError(
                        "multiple WHEN MATCHED clauses are not supported"
                    )
                matched = (pred, action)

        keys = sorted(mk)
        m_pred, m_action = matched if matched else (None, None)
        set_list: "list[tuple[str, str]] | None" = None
        if m_action is not None and re.match(r"update", m_action, re.IGNORECASE):
            setlist_sql = re.sub(
                r"^update\s+set\s+", "", m_action, flags=re.IGNORECASE
            ).strip()
            if setlist_sql != "*":
                set_list = _split_set_list(setlist_sql)
                bad = sorted({c for c, _ in set_list} & mk)
                if bad:
                    raise ValueError(
                        f"MERGE UPDATE SET on merge-key column(s) {bad} is "
                        "not supported — the upsert matches on the NEW key "
                        "values and would duplicate rows; DELETE + INSERT "
                        "the new keys instead"
                    )

        is_delete = m_action is not None and re.fullmatch(
            r"delete", m_action, re.IGNORECASE
        )
        # ---- no-join fast paths (star forms, no predicates) ----------
        if (
            m_action is not None
            and m_pred is None
            and unmatched_pred is None
            and set_list is None
        ):
            if not is_delete and has_insert:
                # plain upsert: update all matched, insert all unmatched
                src_df, n = self._pin_count(src_df, count_rows)
                try:
                    if n:
                        self.write_to_table(src_df, table, mode="merge")
                finally:
                    self._unpin(src_df)
                return self._dml_result("MERGE", n)
            if not is_delete:
                # UPDATE-only: a plain upsert would insert unmatched
                # source rows — restrict the payload to existing keys.
                existing = self.read_table(table, columns=keys)
                payload = src_df.join(existing, keys, "left_semi")
                payload, n = self._pin_count(payload, count_rows)
                try:
                    if n:
                        self.write_to_table(payload, table, mode="merge")
                finally:
                    self._unpin(payload)
                return self._dml_result("MERGE", n)
            if not has_insert:
                del_keys = src_df.select(*keys).distinct()
                del_keys, n = self._pin_count(del_keys, count_rows)
                try:
                    self.write_to_table(del_keys, table, mode="delete")
                finally:
                    self._unpin(del_keys)
                return self._dml_result("MERGE", n)

        # ---- general path: split source by key match, evaluate WHEN
        # predicates, reduce to one keyed write (or one atomic txn) ----
        tgt = self.read_table(table)
        src_df = src_df.alias(s_alias)
        join_cond = None
        for k in keys:
            c = F.col(f"{s_alias}.{k}") == F.col(f"{t_alias}.{k}")
            join_cond = c if join_cond is None else (join_cond & c)

        upd_payload = None
        del_payload = None
        if m_action is not None:
            # Matched rows with BOTH aliases visible — WHEN predicates
            # and SET expressions may reference t.col and s.col. The
            # join is key-equality on the merge keys: one shuffle (or a
            # broadcast when either side is small — AQE's call).
            joined = src_df.join(tgt.alias(t_alias), join_cond, "inner")
            if m_pred is not None:
                joined = joined.filter(F.expr(m_pred))
            if is_delete:
                del_payload = joined.select(
                    *[F.col(f"{s_alias}.{k}").alias(k) for k in keys]
                ).distinct()
            else:
                # Full-row materialization: assigned columns from the
                # SET expressions, source columns for SET *, target
                # values for everything else (per-column stitch ≡
                # partial_upsert, composed joinside so updates and
                # inserts land in ONE commit).
                assigned = dict(set_list) if set_list else None
                src_cols = set(src_df.columns)
                out_cols = []
                for f_ in (snap.schema.fields if snap.schema else []):
                    c = f_.name
                    if assigned is not None and c in assigned:
                        out_cols.append(F.expr(assigned[c]).alias(c))
                    elif assigned is None and c in src_cols:
                        out_cols.append(F.col(f"{s_alias}.{c}").alias(c))
                    else:
                        out_cols.append(F.col(f"{t_alias}.{c}").alias(c))
                upd_payload = joined.select(*out_cols)

        ins_payload = None
        if has_insert:
            anti = src_df.join(tgt.select(*keys), keys, "left_anti")
            if unmatched_pred is not None:
                anti = anti.filter(F.expr(unmatched_pred))
            ins_payload = anti

        if del_payload is not None and ins_payload is not None:
            # DELETE + INSERT need two different write modes; a
            # transaction's marker seal keeps the pair atomic.
            del_payload, nd = self._pin_count(del_payload, count_rows)
            ins_payload, ni = self._pin_count(ins_payload, count_rows)
            try:
                with self.transaction() as txn:
                    txn.write(del_payload, table, mode="delete")
                    txn.write(ins_payload, table, mode="merge")
            finally:
                self._unpin(del_payload)
                self._unpin(ins_payload)
            return self._dml_result(
                "MERGE", -1 if not count_rows else nd + ni
            )
        if del_payload is not None:
            del_payload, n = self._pin_count(del_payload, count_rows)
            try:
                self.write_to_table(del_payload, table, mode="delete")
            finally:
                self._unpin(del_payload)
            return self._dml_result("MERGE", n)
        payload = upd_payload
        if payload is None:
            payload = ins_payload
        elif ins_payload is not None:
            payload = payload.unionByName(
                ins_payload, allowMissingColumns=True
            )
        payload, n = self._pin_count(payload, count_rows)
        try:
            if n:
                self.write_to_table(payload, table, mode="merge")
        finally:
            self._unpin(payload)
        return self._dml_result("MERGE", n)

    def _sql_utility(self, q: str) -> "DataFrame | None":
        """Delta-style utility statements: SHOW TABLES, DESCRIBE
        HISTORY, OPTIMIZE [WHERE col = v [AND ...]] [ZORDER BY (cols)],
        VACUUM [RETAIN n VERSIONS] [DRY RUN]."""
        import json as _json
        import re

        m = re.fullmatch(
            r"explain\s+((?:extended|formatted|cost|codegen)\s+)?(.+)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            mode, inner = (m.group(1) or ""), m.group(2).strip().rstrip(";")
            if not re.match(
                r"(select|with|values|table)\b", inner, re.IGNORECASE
            ):
                raise ValueError(
                    "EXPLAIN supports read statements "
                    "(SELECT/WITH/VALUES/TABLE) only"
                )
            # Surface the MV routing decision: if the inner SELECT would
            # be answered from a fresh materialized view, explain THAT
            # read and say so — the plan a user actually gets.
            hit = self._mv_rewrite_target(inner)
            if hit is not None:
                self.register_view(hit)
                plan = self.spark.sql(
                    f"EXPLAIN {mode}SELECT * FROM {hit}"
                ).collect()[0][0]
                note = (
                    "== Materialized View Rewrite ==\n"
                    f"answered from materialized view '{hit}'\n\n"
                )
                return local_df(self.spark,
                    [(note + plan,)], "plan string"
                )
            self._register_referenced(inner)
            return self.spark.sql(f"EXPLAIN {mode}{inner}")
        if re.fullmatch(r"show\s+materialized\s+views", q, re.IGNORECASE):
            from deltacat_spark.catalog.materialize import MV_SRC_VERSION

            rows = []
            for name, d in sorted(self.list_materialized_views().items()):
                srcs = d.get("srcs") or [d["src"]]
                if d.get("record_wise"):
                    mode = "incremental"
                elif d.get("agg_spec"):
                    mode = "incremental_agg"
                elif len(srcs) > 1:
                    mode = "rebuild_multi"
                else:
                    mode = "rebuild"
                fresh = False
                if self.table_exists(name):
                    # same '==' gate as _mv_rewrite_target: a watermark
                    # PAST the source's current version (e.g. the source
                    # was dropped and recreated) is stale, not fresh —
                    # the two freshness surfaces must agree
                    try:
                        props = self.snapshot(name).properties
                        if len(srcs) == 1:
                            raw = props.get(MV_SRC_VERSION)
                            fresh = raw is not None and int(raw) == (
                                self.snapshot(srcs[0]).version
                            )
                        else:
                            fresh = all(
                                props.get(f"{MV_SRC_VERSION}.{t}")
                                is not None
                                and int(props[f"{MV_SRC_VERSION}.{t}"])
                                == self.snapshot(t).version
                                for t in srcs
                            )
                    except (FileNotFoundError, ValueError):
                        fresh = False
                rows.append((name, ",".join(srcs), mode, fresh))
            return local_df(self.spark,
                rows or [("", "", "", False)],
                "name string, sources string, refresh_mode string,"
                " fresh boolean",
            ).filter(F.col("name") != "")
        if re.fullmatch(r"show\s+views", q, re.IGNORECASE):
            return local_df(self.spark,
                [(n,) for n in sorted(self.list_saved_views())] or [("",)],
                "view string",
            ).filter(F.col("view") != "")
        if re.fullmatch(r"show\s+tables", q, re.IGNORECASE):
            return local_df(self.spark,
                [(t,) for t in sorted(self.list_tables())] or [("",)],
                "table string",
            ).filter(F.col("table") != "")
        m = re.fullmatch(
            r"describe\s+history\s+(\w+)(?:\s+limit\s+(\d+))?",
            q,
            re.IGNORECASE,
        )
        if m:
            table, limit = m.groups()
            rows = self.history(table, limit=int(limit) if limit else None)
            return local_df(self.spark,
                [
                    (
                        int(r["version"]),
                        int(r.get("timestamp_ms") or 0),
                        str(r.get("operation") or ""),
                        _json.dumps(r, default=str),
                    )
                    for r in rows
                ],
                "version long, timestamp_ms long, operation string, detail string",
            )
        m = re.fullmatch(
            r"optimize\s+(\w+)"
            r"(?:\s+where\s+(.*?))?"
            r"(?:\s+zorder\s+by\s+\(([^)]*)\))?",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, where, zcols = m.groups()
            pf = None
            if where:
                pf = {}
                for conj in re.split(r"\s+and\s+", where, flags=re.IGNORECASE):
                    em = re.fullmatch(
                        r"\s*(\w+)\s*=\s*(?:'([^']*)'|(\S+))\s*", conj
                    )
                    if not em:
                        raise ValueError(
                            "OPTIMIZE WHERE supports only col = value "
                            f"conjuncts (partition pruning), got {conj!r}"
                        )
                    col_, vq, vb = em.groups()
                    pf[col_] = vq if vq is not None else vb
            zb = (
                [c.strip() for c in zcols.split(",") if c.strip()]
                if zcols
                else None
            )
            self.optimize_table(table, partition_filter=pf, zorder_by=zb)
            return self._dml_result("OPTIMIZE", 0)
        m = re.fullmatch(r"describe\s+(?:table\s+)?(\w+)", q, re.IGNORECASE)
        if m and self.table_exists(m.group(1)):
            snap = self.snapshot(m.group(1))
            part_cols = {
                PartitionKey.from_dict(d).source
                for d in (snap.partition_scheme or [])
            }
            rows = [
                (
                    f.name,
                    f.data_type.simpleString(),
                    bool(f.merge_key),
                    f.name in part_cols,
                )
                for f in (snap.schema.fields if snap.schema else [])
            ] or [("", "", False, False)]
            return local_df(self.spark,
                rows,
                "col_name string, data_type string, merge_key boolean,"
                " partition boolean",
            ).filter(F.col("col_name") != "")
        m = re.fullmatch(r"show\s+create\s+table\s+(\w+)", q, re.IGNORECASE)
        if m:
            table = m.group(1)
            snap = self.snapshot(table)
            if snap.schema is None:
                raise SchemaError(f"table {table} has no schema")
            keys = sorted(snap.schema.merge_keys)
            col_lines = []
            for f_ in snap.schema.fields:
                line = f"  {f_.name} {f_.data_type.simpleString().upper()}"
                if not f_.nullable and f_.name not in keys:
                    line += " NOT NULL"
                if f_.generated_expr:
                    # after NOT NULL — the CREATE parser strips the
                    # GENERATED clause from the end of the column def
                    line += f" GENERATED ALWAYS AS ({f_.generated_expr})"
                col_lines.append(line)
            if keys:
                col_lines.append(f"  PRIMARY KEY ({', '.join(keys)})")
            ddl = f"CREATE TABLE {table} (\n" + ",\n".join(col_lines) + "\n)"
            if snap.partition_scheme:
                pcols = ", ".join(
                    PartitionKey.from_dict(d).source
                    for d in snap.partition_scheme
                )
                ddl += f"\nPARTITIONED BY ({pcols})"
            # Only user-set properties (incl. constraint.*) — defaults
            # are engine config, not table DDL. create_table persists
            # DEFAULT_PROPERTIES into the CREATE commit, so filter them
            # back out here (keep a default key only when its value was
            # overridden) — otherwise the round-tripped DDL pins engine
            # defaults against future upgrades.
            props = {
                k: v
                for k, v in sorted(snap.properties.items())
                if v != ""
                and not (
                    k in DEFAULT_PROPERTIES and str(DEFAULT_PROPERTIES[k]) == str(v)
                )
            }
            if props:
                kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
                ddl += f"\nTBLPROPERTIES ({kv})"
            return local_df(self.spark,
                [(ddl,)], "create_statement string"
            )
        m = re.fullmatch(r"describe\s+detail\s+(\w+)", q, re.IGNORECASE)
        if m:
            # Delta-style DESCRIBE DETAIL: one row of table-level
            # metadata, all of it read from the resolved snapshot — no
            # storage LISTing (the log is the source of truth for the
            # live file set and its byte/record totals).
            table = m.group(1)
            snap = self.snapshot(table)
            data_files = [f for f in snap.files if f.content_type is None]
            pcols = [
                PartitionKey.from_dict(d).source
                for d in (snap.partition_scheme or [])
            ]
            return local_df(self.spark,
                [
                    (
                        table,
                        snap.table_root,
                        int(snap.version),
                        int(snap.timestamp_ms),
                        ",".join(pcols),
                        len(data_files),
                        sum(f.bytes or 0 for f in data_files),
                        sum(f.records or 0 for f in data_files),
                        _json.dumps(dict(sorted(snap.properties.items()))),
                    )
                ],
                "name string, location string, version long,"
                " last_modified_ms long, partition_columns string,"
                " num_files long, size_bytes long, num_records long,"
                " properties string",
            )
        m = re.fullmatch(
            r"show\s+tblproperties\s+(\w+)(?:\s*\(\s*'?([\w.]+)'?\s*\))?",
            q,
            re.IGNORECASE,
        )
        if m:
            table, key = m.groups()
            props = self.snapshot(table).properties
            if key is not None:
                if key not in props:
                    raise ValueError(
                        f"property {key!r} not set on table {table!r}"
                    )
                rows = [(key, str(props[key]))]
            else:
                rows = [(k, str(v)) for k, v in sorted(props.items())]
            return local_df(self.spark,
                rows or [("", "")], "key string, value string"
            ).filter(F.col("key") != "")
        m = re.fullmatch(r"show\s+partitions\s+(\w+)", q, re.IGNORECASE)
        if m:
            snap = self.snapshot(m.group(1))
            if not snap.partition_scheme:
                raise ValueError(
                    f"table {m.group(1)} is not partitioned"
                )
            cols = [
                PartitionKey.from_dict(d).part_name()
                for d in snap.partition_scheme
            ]
            seen = sorted(
                {
                    "/".join(
                        f"{c}={f.partition_values.get(c)}" for c in cols
                    )
                    for f in snap.files
                    if f.partition_values
                    and all(c in f.partition_values for c in cols)
                }
            )
            return local_df(self.spark,
                [(p,) for p in seen] or [("",)], "partition string"
            ).filter(F.col("partition") != "")
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+rename\s+to\s+(\w+)", q, re.IGNORECASE
        )
        if m:
            self.rename_table(m.group(1), m.group(2))
            return self._dml_result("ALTER TABLE RENAME", 0)
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+create\s+(?:or\s+replace\s+)?tag\s+"
            r"(\w+)(?:\s+as\s+of\s+version\s+(\d+))?",
            q,
            re.IGNORECASE,
        )
        if m:
            table, tag, ver = m.groups()
            replace = bool(
                re.search(r"\bor\s+replace\b", q, re.IGNORECASE)
            )
            pinned = self.create_tag(
                table,
                tag,
                version=int(ver) if ver else None,
                replace=replace,
            )
            return self._dml_result("ALTER TABLE CREATE TAG", pinned)
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+drop\s+tag\s+(\w+)", q, re.IGNORECASE
        )
        if m:
            self.drop_tag(m.group(1), m.group(2))
            return self._dml_result("ALTER TABLE DROP TAG", 0)
        m = re.fullmatch(r"show\s+tags\s+(\w+)", q, re.IGNORECASE)
        if m:
            tags = sorted(self.list_tags(m.group(1)).items())
            return local_df(self.spark,
                [(k, int(v)) for k, v in tags] or [("", -1)],
                "tag string, version long",
            ).filter(F.col("tag") != "")
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+set\s+tblproperties\s*\((.*)\)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, props_sql = m.groups()
            props = {}
            for pm in re.finditer(
                r"'([^']+)'\s*=\s*(?:'([^']*)'|([^,\s)]+))", props_sql
            ):
                k, vq, vb = pm.groups()
                props[k] = vq if vq is not None else vb
            if not props:
                raise ValueError(
                    f"no properties parsed from TBLPROPERTIES ({props_sql!r})"
                )
            self.alter_table(table, properties=props)
            return self._dml_result("ALTER TABLE SET TBLPROPERTIES", len(props))
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+add\s+constraint\s+(\w+)\s+"
            r"check\s*\((.*)\)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, cname, expr = m.groups()
            snap = self.snapshot(table)
            if self._table_constraints(snap.properties).get(cname):
                raise ValueError(f"constraint {cname!r} already exists")
            # Delta semantics: the EXISTING data must already satisfy a
            # new constraint — one short-circuit scan at declaration.
            existing = self.read_table(table)
            try:
                bad = existing.filter(F.expr(f"({expr}) = false")).take(1)
            except Exception as e:
                raise ValueError(
                    f"CHECK expression does not resolve against "
                    f"{table}: {expr!r}"
                ) from e
            if bad:
                raise ConstraintViolationError(
                    f"existing rows of {table} violate CHECK ({expr})"
                )
            self.alter_table(table, properties={f"constraint.{cname}": expr})
            return self._dml_result("ALTER TABLE ADD CONSTRAINT", 0)
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+drop\s+constraint\s+(\w+)",
            q,
            re.IGNORECASE,
        )
        if m:
            table, cname = m.groups()
            snap = self.snapshot(table)
            if not self._table_constraints(snap.properties).get(cname):
                raise ValueError(f"no constraint {cname!r} on {table}")
            # empty value = tombstone (property replay merges additively)
            self.alter_table(table, properties={f"constraint.{cname}": ""})
            return self._dml_result("ALTER TABLE DROP CONSTRAINT", 0)
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+drop\s+columns?\s+\(?\s*([\w\s,]+?)\s*\)?",
            q,
            re.IGNORECASE,
        )
        if m:
            table, cols_sql = m.groups()
            cols = [c.strip() for c in cols_sql.split(",") if c.strip()]
            self.alter_table(table, drop_columns=cols)
            return self._dml_result("ALTER TABLE DROP COLUMNS", len(cols))
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+alter\s+column\s+(\w+)\s+type\s+(.+)",
            q,
            re.IGNORECASE,
        )
        if m:
            table, colname, typ = m.groups()
            snap = self.snapshot(table)
            if snap.schema is None or colname not in {
                f.name for f in snap.schema.fields
            }:
                raise ValueError(f"no such column {colname!r} on {table}")
            dt = (
                self.spark.sql(f"SELECT CAST(NULL AS {typ}) AS c")
                .schema[0]
                .dataType
            )
            from deltacat_spark.schema import _promote

            cur = next(
                f for f in snap.schema.fields if f.name == colname
            )
            # evolve()'s permissive-unify would silently KEEP the wider
            # current type on a narrowing write — right for ingest,
            # wrong for an explicit ALTER, which must either take
            # effect or fail loudly.
            if _promote(cur.data_type, dt, colname) != dt:
                raise SchemaError(
                    f"ALTER COLUMN {colname} TYPE "
                    f"{dt.simpleString()} is not a widening of "
                    f"{cur.data_type.simpleString()}"
                )
            self.alter_table(table, schema=Schema([Field(colname, dt)]))
            return self._dml_result("ALTER TABLE ALTER COLUMN", 1)
        m = re.fullmatch(
            r"alter\s+table\s+(\w+)\s+add\s+columns?\s*\(?\s*(.*?)\s*\)?",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, cols_sql = m.groups()
            snap = self.snapshot(table)
            if snap.schema is None:
                raise SchemaError(f"table {table} has no schema")
            fields = list(snap.schema.fields)
            added = 0
            for part in cols_sql.split(","):
                toks = part.strip().split(None, 1)
                if len(toks) != 2:
                    raise ValueError(
                        f"ADD COLUMN expects 'name type', got {part!r}"
                    )
                name, typ = toks
                # Spark parses the type string (decimal(10,2), array<int>,
                # ...) — same dialect as DDL, no bespoke parser.
                dt = (
                    self.spark.sql(f"SELECT CAST(NULL AS {typ}) AS c")
                    .schema[0]
                    .dataType
                )
                fields.append(Field(name, dt))
                added += 1
            self.alter_table(table, schema=Schema(fields))
            return self._dml_result("ALTER TABLE ADD COLUMNS", added)
        m = re.fullmatch(
            r"vacuum\s+(\w+)(?:\s+retain\s+(\d+)\s+versions)?"
            r"(\s+dry\s+run)?",
            q,
            re.IGNORECASE,
        )
        if m:
            table, retain, dry = m.groups()
            # API-default 24h grace period stands — SQL must not be a
            # back door past the in-flight-writer protection.
            report = self.vacuum(
                table,
                retain_versions=int(retain) if retain else None,
                dry_run=bool(dry),
            )
            return self._dml_result(
                "VACUUM DRY RUN" if dry else "VACUUM", int(report)
            )
        return None

    def _sql_dml(
        self, query: str, count_rows: bool = True
    ) -> "DataFrame | None":
        """Dispatch INSERT/DELETE/UPDATE statements; None for reads."""
        import re

        q = query.strip().rstrip(";")
        util = self._sql_utility(q)
        if util is not None:
            return util
        m = re.match(
            r"create\s+(or\s+replace\s+)?materialized\s+view\s+(\w+)\s+as\s+"
            r"(select\b.*)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            replace, name, vsql = m.groups()
            audit = self.create_materialized_view(
                name, vsql, replace=bool(replace)
            )
            return self._dml_result(
                f"CREATE MATERIALIZED VIEW ({audit['mode']})", 0
            )
        m = re.fullmatch(
            r"refresh\s+materialized\s+view\s+(\w+)", q, re.IGNORECASE
        )
        if m:
            audit = self.refresh_materialized_view(m.group(1))
            return self._dml_result(
                f"REFRESH MATERIALIZED VIEW ({audit['mode']})", 0
            )
        m = re.fullmatch(
            r"drop\s+materialized\s+view\s+(if\s+exists\s+)?(\w+)",
            q,
            re.IGNORECASE,
        )
        if m:
            self.drop_materialized_view(m.group(2), if_exists=bool(m.group(1)))
            return self._dml_result("DROP MATERIALIZED VIEW", 0)
        m = re.match(
            r"create\s+(or\s+replace\s+)?view\s+(\w+)\s+as\s+(select\b.*)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            replace, name, vsql = m.groups()
            # fail fast on an unparseable/unresolvable view body
            self._register_referenced(vsql)
            self.spark.sql(vsql).schema
            self.create_saved_view(name, vsql, replace=bool(replace))
            return self._dml_result("CREATE VIEW", 0)
        m = re.fullmatch(
            r"drop\s+view\s+(if\s+exists\s+)?(\w+)", q, re.IGNORECASE
        )
        if m:
            self.drop_saved_view(m.group(2), if_exists=bool(m.group(1)))
            return self._dml_result("DROP VIEW", 0)
        m = re.match(
            r"create\s+table\s+(\w+)\s+as\s+(select\b.*)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, select = m.groups()
            self._register_referenced(select)
            df = self.spark.sql(select)
            self.create_table(table, schema=Schema.from_dataframe(df))
            df, n = self._pin_count(df, count_rows)
            try:
                self.write_to_table(df, table, mode="auto")
            finally:
                self._unpin(df)
            return self._dml_result("CREATE TABLE AS SELECT", n)
        m = re.match(
            r"create\s+table\s+(?:if\s+not\s+exists\s+)?(\w+)\s*\(",
            q,
            re.IGNORECASE,
        )
        if m:
            # balanced-paren scan: column types nest parens (decimal(10,2),
            # map<...>), so a lazy regex can't find the closing paren
            table = m.group(1)
            depth, i = 1, m.end()
            while i < len(q) and depth:
                if q[i] == "(":
                    depth += 1
                elif q[i] == ")":
                    depth -= 1
                i += 1
            if depth:
                raise ValueError("unbalanced parens in CREATE TABLE")
            cols_sql, rest = q[m.end() : i - 1], q[i:].strip()
            pm = re.match(
                r"(?:partitioned\s+by\s*\(([^)]*)\))?\s*"
                r"(?:tblproperties\s*\((.*)\))?\s*$",
                rest,
                re.IGNORECASE | re.DOTALL,
            )
            if not pm:
                raise ValueError(
                    f"unsupported CREATE TABLE suffix: {rest!r}"
                )
            return self._sql_create_table(
                q, table, cols_sql, pm.group(1), pm.group(2)
            )
        m = re.fullmatch(
            r"drop\s+table\s+(if\s+exists\s+)?(\w+)", q, re.IGNORECASE
        )
        if m:
            if_exists, table = m.groups()
            if not self.table_exists(table):
                if if_exists:
                    return self._dml_result("DROP TABLE", 0)
                raise TableNotFoundError(table)
            self.drop_table(table)
            return self._dml_result("DROP TABLE", 0)
        m = re.fullmatch(r"truncate\s+table\s+(\w+)", q, re.IGNORECASE)
        if m:
            n = (
                self.read_table(m.group(1)).count() if count_rows else -1
            )
            self.truncate_table(m.group(1))
            return self._dml_result("TRUNCATE TABLE", n)
        m = re.fullmatch(
            r"restore\s+table\s+(\w+)\s+to\s+"
            r"(?:version\s+as\s+of\s+(\d+)"
            r"|timestamp\s+as\s+of\s+(?:'([^']+)'|(\d+)))",
            q,
            re.IGNORECASE,
        )
        if m:
            table, ver, ts_str, ts_ms = m.groups()
            new_v = self.restore_table(
                table,
                version=int(ver) if ver is not None else None,
                timestamp=(
                    _ts_to_ms(ts_str, ts_ms) if ver is None else None
                ),
            )
            # `rows` carries the NEW log version (the restore commit) —
            # the number a caller needs for follow-up time travel.
            return self._dml_result("RESTORE TABLE", new_v)
        m = re.fullmatch(
            r"create\s+table\s+(\w+)\s+(shallow|deep)\s+clone\s+(\w+)"
            r"(?:\s+version\s+as\s+of\s+(\d+)"
            r"|\s+timestamp\s+as\s+of\s+(?:'([^']+)'|(\d+)))?",
            q,
            re.IGNORECASE,
        )
        if m:
            dst, kind, src, ver, ts_str, ts_ms = m.groups()
            self.clone_table(
                src,
                dst,
                version=int(ver) if ver is not None else None,
                timestamp=(
                    _ts_to_ms(ts_str, ts_ms)
                    if ver is None and (ts_str is not None or ts_ms is not None)
                    else None
                ),
                deep=kind.lower() == "deep",
            )
            return self._dml_result(
                f"CREATE TABLE {kind.upper()} CLONE", 0
            )
        m = re.match(
            r"copy\s+into\s+(\w+)\s+from\s+'([^']+)'"
            r"(?:\s+fileformat\s*=\s*(\w+))?\s*$",
            q,
            re.IGNORECASE,
        )
        if m:
            table, url, fmt = m.groups()
            from deltacat_spark.sources.formats import read_url

            df = read_url(self.spark, url, fmt.lower() if fmt else None)
            df, n = self._pin_count(df, count_rows)
            try:
                self.write_to_table(df, table, mode="auto")
            finally:
                self._unpin(df)
            return self._dml_result("COPY INTO", n)
        m = re.match(
            r"insert\s+overwrite\s+(?:table\s+)?(\w+)\s*(\(([^)]*)\))?\s*"
            r"(select\b.*|values\b.*)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, _, collist, payload = m.groups()
            df = self._insert_payload(table, payload, collist)
            df, n = self._pin_count(df, count_rows)
            try:
                self.write_to_table(df, table, mode="replace")
            finally:
                self._unpin(df)
            return self._dml_result("INSERT OVERWRITE", n)
        m = re.match(
            r"insert\s+into\s+(\w+)\s*(\(([^)]*)\))?\s*(select\b.*|values\b.*)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, _, collist, payload = m.groups()
            df = self._insert_payload(table, payload, collist)
            df, n = self._pin_count(df, count_rows)
            try:
                self.write_to_table(df, table, mode="auto")
            finally:
                self._unpin(df)
            return self._dml_result("INSERT", n)
        m = re.match(
            r"merge\s+into\s+(\w+)(?:\s+as\s+(\w+)|\s+(\w+))?\s+using\s+"
            r"(\(.*\)|\w+)(?:\s+as\s+(\w+)|\s+(\w+))?\s+on\s+(.*?)\s+"
            r"(when\s+.*)$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._sql_merge(*m.groups(), count_rows=count_rows)
        m = re.match(
            r"delete\s+from\s+(\w+)(\s+where\s+(.*))?$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, _, cond = m.groups()
            if cond is None:
                n = self.read_table(table).count() if count_rows else -1
                self.truncate_table(table)
                return self._dml_result("DELETE", n)
            snap = self.snapshot(table)
            mk = sorted(snap.schema.merge_keys) if snap.schema else []
            if mk:
                # Keyed table: route through the native equality-DELETE
                # write mode (CDC change rows, MoR delete deltas, and
                # the concurrency machinery all see it as a first-class
                # delete). Positional deletes stay the keyless path.
                keys = (
                    self.read_table(table)
                    .filter(F.expr(cond))
                    .select(*mk)
                    .distinct()
                )
                keys, n = self._pin_count(keys, count_rows)
                try:
                    if n:
                        self.write_to_table(keys, table, mode="delete")
                finally:
                    self._unpin(keys)
                return self._dml_result("DELETE", n)
            from deltacat_spark.plans.expr import raw

            n = self.delete_where(table, raw(cond))
            return self._dml_result("DELETE", n)
        m = re.match(
            r"update\s+(\w+)\s+set\s+(.*?)(\s+where\s+(.*))?$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, setlist, _, cond = m.groups()
            assignments = _split_set_list(setlist)
            snap = self.snapshot(table)
            mk = set(snap.schema.merge_keys) if snap.schema else set()
            bad = sorted({c for c, _ in assignments} & mk)
            if bad:
                # The merge upsert anti-joins existing rows on the
                # UPDATED key values — `SET k = k + 1` would keep every
                # old-key row AND append the new-key rows (silent
                # duplication). Reject rather than corrupt.
                raise ValueError(
                    f"UPDATE SET on merge-key column(s) {bad} is not "
                    "supported — the upsert matches rows by the NEW key "
                    "values and would duplicate rows; DELETE the old "
                    "keys and INSERT the new rows instead"
                )
            base = self.read_table(table)
            matched = base.filter(F.expr(cond)) if cond else base
            # SQL UPDATE semantics (r14, same fix as the Delta path):
            # every SET right-hand side evaluates against the PRE-image
            # simultaneously — one select, never chained withColumn
            # (which would feed already-updated columns into later SET
            # expressions: `SET a = b, b = a` must swap). Identifier
            # matching stays case-insensitive like the rest of the SQL
            # surface.
            set_map = {c.lower(): e for c, e in assignments}
            unknown = set(set_map) - {c.lower() for c in matched.columns}
            if unknown:
                raise ValueError(
                    f"UPDATE SET column(s) {sorted(unknown)} not in "
                    f"table {table}"
                )
            matched = matched.select(
                *[
                    (
                        F.expr(set_map[c.lower()]).alias(c)
                        if c.lower() in set_map
                        else F.col(c)
                    )
                    for c in matched.columns
                ]
            )
            matched, n = self._pin_count(matched, count_rows)
            try:
                if n:
                    self.write_to_table(matched, table, mode="merge")
            finally:
                self._unpin(matched)
            return self._dml_result("UPDATE", n)
        return None

    def history(
        self, table: str, namespace: str = DEFAULT_NAMESPACE, limit: int | None = None
    ) -> list[dict[str, Any]]:
        """Commit history, newest first (Delta-style DESCRIBE HISTORY):
        one dict per commit with version / timestamp / operation /
        delta_type / add-remove counts / records added / stream position
        / txn visibility. Pure log replay — no data scan at any size."""
        log = self._log(table, namespace)
        out = []
        for c in log.replay():
            out.append(
                {
                    "version": c.version,
                    "timestamp_ms": c.timestamp_ms,
                    "operation": c.operation,
                    "delta_type": c.delta_type,
                    "n_adds": len(c.adds),
                    "n_removes": len(c.removes),
                    "records_added": sum(a.get("records") or 0 for a in c.adds),
                    "stream_position": c.stream_position,
                    "watermark": c.watermark,
                    "pending_txn": c.pending_txn,
                    "txn_status": (
                        self._txn_markers.status(c.pending_txn)
                        if c.pending_txn
                        else None
                    ),
                }
            )
        out.sort(key=lambda d: d["version"], reverse=True)
        return out[:limit] if limit is not None else out

    def table_stats(
        self, table: str, namespace: str = DEFAULT_NAMESPACE
    ) -> dict[str, Any]:
        """Summary stats from the log alone — no data scan (reference
        delta-stats / audit surface, SURVEY §2.9)."""
        snap = self.snapshot(table, namespace)
        return {
            "version": snap.version,
            "files": len(snap.files),
            "records": sum(f.records or 0 for f in snap.files),
            "bytes": sum(f.bytes or 0 for f in snap.files),
            "unresolved_deltas": sum(
                1
                for f in snap.files
                if f.delta_type
                in (
                    DeltaType.UPSERT,
                    DeltaType.DELETE,
                    DeltaType.POSITIONAL_DELETE,
                )
            ),
            "watermark": snap.watermark,
            "partition_scheme": snap.partition_scheme,
            # Latest ANALYZE, if any (column NDV/null counts ride the
            # property channel so they survive checkpoints + time travel).
            "column_stats": (
                json.loads(snap.properties["column_stats"])
                if "column_stats" in snap.properties
                else None
            ),
        }

    @_retried(10)
    def analyze_table(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        columns: list[str] | None = None,
        rsd: float = 0.05,
    ) -> dict[str, Any]:
        """ANALYZE: column-level NDV + null-count statistics in ONE
        aggregate pass over the resolved table, committed as a table
        property so every later session plans from metadata alone
        (reference stats collection, `compute/stats/` — SURVEY §2.9 —
        reborn as ANALYZE TABLE ... FOR COLUMNS).

        NDV is HyperLogLog++ (`approx_count_distinct`, relative error
        ``rsd``) — the only one-pass NDV that holds at 100 TB; null
        counts and row count are exact. All columns aggregate in a
        single job (one scan, map-side partials), and the result is a
        1-row driver collect — control-plane scalars, never data.
        Returns the stats dict; `table_stats` surfaces the last ANALYZE
        under ``column_stats``.
        """
        import json as _json

        snap = self.snapshot(table, namespace)
        df = self._read_files(snap, snap.files)
        if snap.schema is not None:
            df = snap.schema.read_projection(df)
        cols = columns or [f.name for f in df.schema.fields]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(
                F.approx_count_distinct(c, rsd=rsd).alias(f"__ndv__{c}")
            )
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}")
            )
        row = df.agg(*aggs).collect()[0].asDict()
        stats = {
            "rows": row["__rows"],
            "columns": {
                c: {"ndv": row[f"__ndv__{c}"], "nulls": row[f"__nulls__{c}"]}
                for c in cols
            },
        }
        self._log(table, namespace).commit(
            Commit(
                version=snap.version + 1,
                operation="ANALYZE",
                properties={"column_stats": _json.dumps(stats)},
                metrics={"analyzed_columns": len(cols)},
            )
        )
        return stats

    def read_delta(
        self, table: str, version: int, namespace: str = DEFAULT_NAMESPACE
    ) -> DataFrame:
        """Read exactly one commit's data files (reference
        `download_delta`, `storage/main/impl.py:947-1085`)."""
        snap = self.snapshot(table, namespace, version_as_of=version)
        files = [f for f in snap.files if f.version == version]
        if not files:
            return self._empty(snap)
        return self._scan(snap, files)

    def read_changes(
        self,
        table: str,
        from_version: int,
        to_version: int | None = None,
        namespace: str = DEFAULT_NAMESPACE,
    ) -> DataFrame:
        """CDC-style incremental read: rows from delta commits in
        (from_version, to_version], stamped with `_commit_version` /
        `_change_type` / `_change_cols`.

        `_change_cols` (partial-payload CDC semantics, documented
        decision): change rows always carry the delta's WRITTEN form —
        for a partial upsert, columns absent from the payload are NULL,
        not stitched post-images. `_change_cols` is the comma-joined
        payload column list for such rows (NULL ⇒ full-row change), so a
        consumer can distinguish "column set to NULL" from "column not
        carried" and fetch post-images itself where it needs them
        (`read_table(version_as_of=_commit_version)`).

        Exact for append-family and merge-on-read tables (their commits
        carry delta files). Copy-on-write MERGE/DELETE commits rewrite
        resolved files (delta_type None) and are skipped — use
        read_optimization=none for full CDC fidelity.
        """
        snap = self.snapshot(table, namespace, version_as_of=to_version)
        log = self._log(table, namespace)
        # CDC must agree with snapshot reads: commits from an aborted or
        # still-pending multi-table transaction are invisible to
        # Snapshot.of, so they must not surface as change rows either
        # (same _txn_visible rule; read-your-writes for the sealing txn).
        visible, _ = Snapshot._txn_visible(
            log, log.replay(to_version, start_after=from_version)
        )
        parts = []
        for c in visible:
            if c.delta_type == DeltaType.POSITIONAL_DELETE and c.adds:
                # The sidecar holds (_file, _pos) tuples, not table rows —
                # scanning it with the table schema would emit all-null
                # rows. Join the tuples back to the pre-delete snapshot to
                # emit the actual deleted rows (CDC-exact; costs one scan
                # of the prior live set per pos-delete commit).
                prev = self.snapshot(table, namespace, version_as_of=c.version - 1)
                prev_data = [
                    f
                    for f in prev.files
                    if f.delta_type != DeltaType.POSITIONAL_DELETE
                    and not f.content_type
                ]
                if not prev_data:
                    continue
                rows = self._scan(snap, prev_data, with_pos=True)
                dels = self._pos_deletes(
                    snap.table_root,
                    [FileEntry(path=a["path"], bytes=a.get("bytes")) for a in c.adds],
                )
                deleted = (
                    rows.join(
                        dels,
                        (rows["__dcs_file"] == dels["_file"])
                        & (rows["__dcs_pos"] == dels["_pos"]),
                        "left_semi",
                    )
                    .drop("__dcs_file", "__dcs_pos")
                )
                parts.append(
                    deleted.withColumn(
                        "_commit_version", F.lit(c.version)
                    )
                    .withColumn(
                        "_change_type", F.lit(DeltaType.POSITIONAL_DELETE)
                    )
                    .withColumn("_change_cols", F.lit(None).cast("string"))
                )
                continue
            if c.delta_type is not None and c.adds:
                change_adds, change_type = c.adds, c.delta_type
            elif c.cdc_files:
                # CoW commit with row-level change sidecars
                # (`cdc.enabled` tables) — exact CDC despite the rewrite.
                change_adds, change_type = c.cdc_files, c.operation
            else:
                continue
            entries = [
                FileEntry(
                    path=a["path"],
                    records=a.get("records"),
                    bytes=a.get("bytes"),
                    version=c.version,
                    file_index=i,
                    delta_type=c.delta_type,
                    payload_cols=a.get("payload_cols"),
                )
                for i, a in enumerate(change_adds)
            ]
            df = self._scan(snap, entries)
            # Partial-payload semantics (DOCUMENTED DECISION): change
            # rows carry the delta's WRITTEN form — columns absent from
            # the payload are NULL, not stitched post-images (stitching
            # would cost a prior-snapshot resolve per commit). The
            # `_change_cols` stamp (comma-joined payload columns; NULL ⇒
            # full row) lets consumers distinguish "set to NULL" from
            # "not carried". Uniform across commits in one feed.
            pcols = {e.payload_cols and ",".join(e.payload_cols) for e in entries}
            change_cols = (
                F.lit(next(iter(pcols)))
                if len(pcols) == 1
                else F.lit(None).cast("string")
            )
            parts.append(
                df.withColumn("_commit_version", F.lit(c.version))
                .withColumn("_change_type", F.lit(change_type))
                .withColumn("_change_cols", change_cols)
            )
        if not parts:
            base = self._empty(snap)
            return (
                base.withColumn("_commit_version", F.lit(None).cast("long"))
                .withColumn("_change_type", F.lit(None).cast("string"))
                .withColumn("_change_cols", F.lit(None).cast("string"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    # transactions
    # ------------------------------------------------------------------
    # NOTE: the SQL surface lives at `register_view` / `sql` (above,
    # near `history`) — referenced-tables-only registration so a
    # 10^3-table namespace never pays 10^3 snapshot resolutions per
    # query.

    def transaction(self):
        """Interactive multi-op transaction (reference
        `dc.transaction()`; see `catalog/transaction.py`)."""
        from deltacat_spark.catalog.transaction import Transaction

        return Transaction(self)

    def transaction_commits(
        self, txn_id: str
    ) -> "dict[tuple[str, str], list[Commit]]":
        """The sealed transaction's op set: every commit stamped with
        `txn_id`, grouped by ``(namespace, table)`` in version order
        (reference `read_transaction`,
        `storage/model/transaction.py:293` — the historic-replay half is
        `read_transaction` below). Control-plane metadata scan over the
        catalog's commit logs; raises KeyError for an unknown id and
        RuntimeError for one whose seal never became visible."""
        found: dict[tuple[str, str], list[Commit]] = {}
        for ns in self.list_namespaces():
            for t in self.list_tables(ns):
                hits = [
                    c
                    for c in self._log(t, ns).replay()
                    if c.txn_id == txn_id or c.pending_txn == txn_id
                ]
                if hits:
                    found[(ns, t)] = hits
        if not found:
            raise KeyError(f"no sealed transaction {txn_id!r}")
        status = self._txn_markers.status(txn_id)
        if any(c.pending_txn == txn_id for cs in found.values() for c in cs):
            if status != "committed":
                raise RuntimeError(
                    f"transaction {txn_id!r} is {status}, not sealed"
                )
        return found

    def read_transaction(
        self, txn_id: str
    ) -> "dict[str, DataFrame]":
        """Historic replay of a sealed transaction
        (reference `TransactionHistoricTimeProvider`,
        `storage/model/transaction.py:727-766`): each table the
        transaction touched, read AS OF the transaction's LAST commit to
        it — later overwrites are invisible, exactly the state the seal
        produced. Returns ``{"namespace.table": DataFrame}``."""
        found = self.transaction_commits(txn_id)
        return {
            f"{ns}.{t}": self.read_table(
                t, ns, version_as_of=max(c.version for c in commits)
            )
            for (ns, t), commits in found.items()
        }

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def _scope_optimize(
        self,
        snap: Snapshot,
        partition_filter: "dict[str, Any]",
    ) -> "tuple[list[FileEntry], list[FileEntry], str | None]":
        """Classify the live set for partition-scoped OPTIMIZE.

        Returns ``(in_scope, out_of_scope, fallback_reason)``;
        ``fallback_reason`` non-None means scoping cannot be proven safe
        and the caller must do a full rewrite. Safety argument (see
        `optimize_table` docstring): every delta that can touch a
        rewritten row must be IN the fold, because the rewrite bumps row
        versions past every older delta's merge order. Files without
        recorded partition values ("unknown") can hold rows of any
        partition, so they join the fold — safe only while no
        out-of-scope delta could address their rows. Out-of-scope
        unresolved deltas are safe to leave live only when partition
        membership is a function of the merge keys (then their keys are
        provably disjoint from the scope) and they are not positional
        (positional deletes address physical files)."""
        unresolved_types = (
            DeltaType.UPSERT,
            DeltaType.DELETE,
            DeltaType.POSITIONAL_DELETE,
        )
        scoped: list[FileEntry] = []
        out: list[FileEntry] = []
        unknown: list[FileEntry] = []
        for f in snap.files:
            pv = f.partition_values
            if pv is None or any(k not in pv for k in partition_filter):
                unknown.append(f)
                continue
            match = True
            for k, v in partition_filter.items():
                allowed = v if isinstance(v, (list, tuple, set)) else [v]
                if pv[k] not in [str(a) for a in allowed]:
                    match = False
                    break
            (scoped if match else out).append(f)
        unknown_unres = [
            f for f in unknown if f.delta_type in unresolved_types
        ]
        if unknown_unres and out:
            # A delta with no recorded partition values may target rows in
            # out-of-scope files; folding it into the scope and removing it
            # would silently drop its effect on those rows.
            return [], [], (
                "unresolved deltas without partition values may target "
                "out-of-scope rows"
            )
        out_unres = [f for f in out if f.delta_type in unresolved_types]
        if out_unres:
            if unknown:
                return [], [], (
                    "files without partition values alongside "
                    "out-of-scope unresolved deltas"
                )
            if any(
                f.delta_type == DeltaType.POSITIONAL_DELETE for f in out_unres
            ):
                return [], [], (
                    "out-of-scope positional deletes address physical files"
                )
            sources = {
                PartitionKey.from_dict(d).source
                for d in (snap.partition_scheme or [])
            }
            keys = set(snap.schema.merge_keys) if snap.schema else set()
            if not sources or not sources <= keys:
                return [], [], (
                    "out-of-scope unresolved deltas and partition columns "
                    "are not all merge keys"
                )
        return scoped + unknown, out, None

    def optimize_table(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        small_file_records: int | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 4,
        partition_filter: "dict[str, Any] | None" = None,
        max_commit_retries: int = 3,
    ) -> None:
        """Compaction with concurrent-writer retry: an OPTIMIZE commit
        carries removes so it never auto-rebases — if a writer lands
        mid-compaction, recompute from the fresh snapshot (the orphaned
        output files of the losing attempt are vacuum-reclaimable)."""
        _retry_on_conflict(
            lambda: self._optimize_once(
                table,
                namespace,
                small_file_records,
                zorder_by,
                zorder_bits,
                partition_filter,
            ),
            max_commit_retries,
        )

    def _optimize_once(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        small_file_records: int | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 4,
        partition_filter: "dict[str, Any] | None" = None,
    ) -> None:
        """Compaction: fold any unresolved deltas + rewrite the live set
        (reference `compact_partition` v2 collapsed into one Spark job —
        SURVEY §2.9/§3.3).

        `small_file_records`: INCREMENTAL bin-packing — only files below
        the record threshold are read and rewritten; files already at
        target size stay live BY REFERENCE (the reference's incremental
        compaction rounds, `compactor_v2` round bounding). Cost scales
        with small-file bytes, not table size — the only OPTIMIZE shape
        that survives a 100 TB table accreting small appends. Falls back
        to a full rewrite when unresolved MoR deltas exist (folding a
        delete/upsert requires the whole key space), recorded in the
        commit metrics as mode=full.

        `partition_filter`: PARTITION-SCOPED compaction (reference
        compacts one partition per session —
        `compute/compactor_v2/compaction_session.py:68-216`;
        `catalog/main/impl.py:986-1091` triggers per write target).
        Same `{col: value | [values]}` shape as `read_table`'s filter.
        Only files whose recorded partition values match are folded and
        rewritten; everything else stays live BY REFERENCE — paths
        untouched in the log. This kills the "any pending MoR delta ⇒
        full-table rewrite" cliff: a 100 TB table with one hot partition
        receiving upserts compacts at the cost of that partition.
        Composes with `small_file_records` (bin-pack within the scope
        when the scope holds no unresolved deltas). Falls back to a
        full rewrite (recorded in the commit metrics as
        `partition_fallback`) when scoping cannot be proven safe:
        (a) a file in scope cannot be classified (no recorded partition
        values for a filter column — pre-evolution files may hold rows
        of ANY partition, so out-of-scope deltas could target rewritten
        rows), or (b) out-of-scope unresolved deltas exist and the
        partition source columns are not all merge keys (an upsert can
        then MOVE a row across partitions; rewriting the target
        partition would bump the old row past the delta's merge order
        and undo the move), or (c) out-of-scope positional deletes
        exist (they address physical files, not partitions).
        Out-of-scope deltas that merely stay live re-apply on read as
        no-ops against the rewritten scope: the rewrite's higher commit
        version wins last-writer-wins, and folded-out deleted rows are
        simply absent.

        `zorder_by`: multi-dimensional clustering rewrite — the live set
        is laid out along a Morton curve over the named columns
        (`plans/transforms.py:zorder_column`), one `repartitionByRange`
        shuffle on the z-value, so every output file gets a tight
        min/max envelope on EVERY z-ordered column and
        `Snapshot.prune` skips files for predicates on any of them (a
        linear sort scheme only serves its leading column). Overrides
        `small_file_records` (re-clusters everything it touches).
        COMPOSES with `partition_filter`: only the scoped partition is
        re-laid-out (Delta-style per-partition ZORDER — the only shape
        that works on a 100 TB table with one hot partition), same
        safety classifier and fallback as scoped compaction.
        """
        import time as _time

        t0 = _time.time()
        snap = self.snapshot(table, namespace)
        if not snap.files:
            return
        mode = "full"
        rewrite, keep = snap.files, []
        fallback: str | None = None
        if partition_filter:
            if not snap.partition_scheme:
                raise ValueError(
                    "partition_filter requires a partitioned table "
                    f"(no partition scheme on this table)"
                )
            in_scope, out_scope, fallback = self._scope_optimize(
                snap, partition_filter
            )
            if fallback is None:
                if not in_scope:
                    return  # nothing lives in this partition
                rewrite, keep, mode = in_scope, out_scope, "partition"
        unresolved = any(
            f.delta_type
            in (DeltaType.UPSERT, DeltaType.DELETE, DeltaType.POSITIONAL_DELETE)
            for f in rewrite
        )
        if zorder_by:
            small_file_records = None  # zorder is always a full rewrite
        if small_file_records is not None and not unresolved:
            small_set = [
                f
                for f in rewrite
                if (f.records or 0) < small_file_records and not f.content_type
            ]
            if len(small_set) < 2:
                return  # nothing to bin-pack
            small = {f.path for f in small_set}
            keep = keep + [f for f in rewrite if f.path not in small]
            rewrite = small_set
            mode = "partition-incremental" if mode == "partition" else "incremental"
        resolved = self._read_files(snap, rewrite)
        if snap.schema is not None:
            resolved = snap.schema.read_projection(resolved)
        # No `write.partition_salt`: salting spreads one partition over
        # many writer tasks, and so over many files — what OPTIMIZE undoes.
        layout = {**self._table_layout(snap), "partition_salt": None}
        max_rpf = layout["max_records_per_file"]
        if mode.endswith("incremental"):
            # Bin-pack: N small input splits must not become N small
            # output files — coalesce (no shuffle) to the target count.
            total = sum(f.records or 0 for f in rewrite)
            resolved = resolved.coalesce(max(1, -(-total // max_rpf)))
        if zorder_by:
            mode = "partition-zorder" if mode == "partition" else "zorder"
            from deltacat_spark.plans.transforms import zorder_column

            resolved, zname = zorder_column(resolved, zorder_by, zorder_bits)
            # Size output files from what is actually rewritten — the
            # scope under a partition filter, not the whole table.
            total = sum(f.records or 0 for f in rewrite)
            nfiles = max(1, -(-total // max_rpf))
            resolved = (
                resolved.repartitionByRange(nfiles, F.col(zname))
                .sortWithinPartitions(zname)
                .drop(zname)
            )
            # The z-layout IS the sort; a linear sort scheme would undo it.
            layout["sort_scheme"] = None
        adds = write_data_files(
            resolved, self._table_root(table, namespace), fs=self.fs, **layout
        )
        commit = Commit(
            version=snap.version + 1,
            operation="OPTIMIZE",
            # audit info (reference compaction_session_audit_info, §2.9)
            metrics={
                "mode": mode,
                **({"zorder_by": list(zorder_by)} if zorder_by else {}),
                **(
                    {"partition_filter": dict(partition_filter)}
                    if partition_filter
                    else {}
                ),
                **({"partition_fallback": fallback} if fallback else {}),
                "input_files": len(rewrite),
                "kept_by_reference": len(keep),
                "output_files": len(adds),
                "output_records": sum(a["add"].get("records") or 0 for a in adds),
                "output_bytes": sum(a["add"].get("bytes") or 0 for a in adds),
                "duration_s": round(_time.time() - t0, 3),
            },
            actions=adds + [{"remove": {"path": f.path}} for f in rewrite],
        )
        self._log(table, namespace).commit(
            commit,
            _scoped_optimize_rebase_rule(commit, partition_filter)
            if mode in _SCOPED_OPTIMIZE_MODES
            else None,
        )

    @_retried(3)
    def repartition_table_by_range(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        column: str = "",
        num_partitions: int = 8,
    ) -> None:
        """Range repartition rewrite (reference `repartition_range`,
        `compute/compactor/steps/repartition.py:42-244` — whose own
        comment cites Spark's repartition(column) as the model). Value
        ranges → `repartitionByRange`, files sliced per range; commits
        as an OPTIMIZE generation."""
        snap = self.snapshot(table, namespace)
        if not snap.files:
            return
        resolved = self._read_files(snap, snap.files)
        if snap.schema is not None:
            resolved = snap.schema.read_projection(resolved)
        arranged = resolved.repartitionByRange(num_partitions, F.col(column))
        # The range layout replaces the table's partition and sort scheme.
        adds = write_data_files(
            arranged,
            self._table_root(table, namespace),
            fs=self.fs,
            **{
                **self._table_layout(snap),
                "partition_scheme": None,
                "sort_scheme": None,
                "partition_salt": None,
            },
        )
        self._log(table, namespace).commit(
            Commit(
                version=snap.version + 1,
                operation="OPTIMIZE",
                actions=adds + [{"remove": {"path": f.path}} for f in snap.files],
            )
        )

    def vacuum(
        self,
        table: str,
        namespace: str = DEFAULT_NAMESPACE,
        retain_versions: int | None = None,
        min_age_seconds: float = 86_400.0,
        txn_timeout_seconds: float = 86_400.0,
        dry_run: bool = False,
    ) -> "int | VacuumReport":
        """Delete unreferenced data files (janitor equivalent, reference
        `compute/janitor.py:85-228`; the janitor reports what it
        cleaned — `dry_run` and the report mirror that).

        `dry_run=True`: delete NOTHING (stale-txn markers included) and
        return a :class:`VacuumReport` listing exactly the files (and
        bytes) the real run would remove plus the stale txn ids it would
        abort — the operational preflight before pointing vacuum at a
        real table. The real run returns the same report (``removed``
        populated); ``int(report)`` keeps the old removed-count
        contract.

        Default: only files referenced by NO log version (orphans from
        failed writes / empty part files). With `retain_versions=N`,
        files referenced only by versions older than `latest - N` are
        also deleted — time travel beyond the retention window stops
        resolving (Delta-style retention), the log itself stays intact.

        `min_age_seconds` (default 24h, Delta-style tombstone retention):
        unreferenced files younger than this are kept — writers stage
        data files BEFORE appending the commit, so a concurrent in-flight
        write's files look orphaned until its commit lands. Pass 0 only
        when no writer can be active.

        Also acts as the stale-transaction janitor (reference
        `compute/janitor.py:85-228`): pending cross-table transaction
        markers older than `txn_timeout_seconds` (a separate knob from
        the file grace period — a live in-flight txn inside the timeout
        is never touched) are aborted first, so a writer that crashed
        between `begin` and seal stops pinning provisional snapshots,
        and its never-visible files become reclaimable below.
        Aborted-txn commits' adds are excluded from the referenced set
        (they can never become visible).
        """
        import time as _time
        troot = self._table_root(table, namespace)
        log = self._log(table, namespace)
        if not dry_run:
            # Janitor backstop for checkpoint files written before
            # write-time pruning existed (write_checkpoint now keeps
            # the newest 3 by construction).
            log.prune_checkpoints(keep=3)
        aborted_txns = self._txn_markers.abort_stale(
            txn_timeout_seconds, dry_run=dry_run
        )
        # Dry run leaves stale markers pending, but the report must
        # predict the REAL run — treat would-abort txns as aborted when
        # computing the referenced set.
        would_abort = set(aborted_txns)
        latest = log.latest_version() or 0
        horizon = latest - retain_versions if retain_versions is not None else 0
        referenced: set[str] = set()
        # Full log scan (not the checkpoint-truncated snapshot tail) —
        # vacuum must see every retained version's adds.
        live = {f.path for f in self.snapshot(table, namespace).files}
        for c in log.replay():
            pt = c.pending_txn
            if pt and pt != self._txn_ctx and (
                pt in would_abort
                or self._txn_markers.status(pt) == "aborted"
            ):
                continue  # hidden forever — files are dead
            if c.version >= horizon:
                for a in c.adds:
                    referenced.add(a["path"])
                for a in c.cdc_files:
                    referenced.add(a["path"])
        referenced |= live
        # Shallow-clone protection: every clone registered against this
        # table pins the source files ANY of its log versions reference
        # (conservative — the clone's own vacuum governs its retention).
        # A registration whose table no longer exists is swept here.
        clones_dir = self.fs.join(troot, "_dcs_clones")
        if self.fs.isdir(clones_dir):
            prefix = troot.rstrip("/") + "/"
            for name in self.fs.list_dir(clones_dir):
                if not name.endswith(".json"):
                    continue
                mpath = self.fs.join(clones_dir, name)
                try:
                    croot = json.loads(self.fs.read_text(mpath))["root"]
                except (ValueError, KeyError):
                    continue
                clog = CommitLog(croot, fs=self.fs)
                if clog.latest_version() is None:
                    if not dry_run:
                        self.fs.delete(mpath)
                    continue
                for cc in clog.replay():
                    for a in cc.adds:
                        p = a["path"]
                        if p.startswith(prefix):
                            referenced.add(p[len(prefix):])
        doomed: list[str] = []
        nbytes = 0
        data_dir = self.fs.join(troot, "data")
        cutoff = _time.time() - min_age_seconds
        for p in self.fs.walk_files(data_dir):
            if (
                p.endswith(".parquet")
                and self.fs.relpath(p, troot) not in referenced
                and self.fs.mtime(p) <= cutoff
            ):
                try:
                    nbytes += self.fs.size(p)
                except (FileNotFoundError, OSError):
                    pass
                doomed.append(self.fs.relpath(p, troot))
                if not dry_run:
                    self.fs.delete(p)
                    # Reclaim the file's bloom sidecar with it (same
                    # deterministic path mapping as the writer).
                    from deltacat_spark.storage.bloom import sidecar_relpath

                    sc = self.fs.join(
                        troot, sidecar_relpath(self.fs.relpath(p, troot))
                    )
                    if self.fs.exists(sc):
                        self.fs.delete(sc)
        return VacuumReport(doomed, nbytes, aborted_txns, dry_run)
