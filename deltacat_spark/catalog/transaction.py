"""Interactive multi-operation transactions.

Reference semantics (`transaction.py:768-932,1432-1639`; ambient txn
joins `catalog/main/impl.py:264-266,460-463`): multiple reads/writes
participate in one transaction; reads are snapshot-pinned at txn start
(snapshot isolation / time travel, `transaction.py:727-766`) and see the
transaction's own uncommitted writes (read-your-writes); the commit is
atomic.

Spark-first realization:
* writes are *buffered as DataFrame plans* — no files move until seal;
* reads compose the pinned snapshot with the buffered plans using the
  same merge/delete/append operators the write path uses;
* at seal, consecutive append-family writes to the same table coalesce
  into ONE commit (atomic for the dominant multi-batch-load case);
  merge/delete seal through the normal CoW/MoR path;
* a seal spanning MULTIPLE tables is atomic via the catalog-level
  two-phase marker protocol (`storage/commit.py:TxnMarkers`, mirroring
  reference `storage/model/transaction.py:1432-1639`): every per-table
  commit is stamped `pending_txn` (invisible to readers), and one atomic
  marker rename makes them ALL visible — a crash or error mid-seal
  leaves NO table changed;
* `pause()`/`Transaction.resume()` mirror the reference's paused-txn
  lifecycle (`transaction.py:1582-1639`, status `PAUSED` at
  `types.py:85-104`): pause spills every buffered op's rows to parquet
  under `{root}/_dcs_txn/paused/{txn_id}/` plus a JSON manifest (pins,
  op modes, pause time) — the Spark-first analogue of the reference's
  msgpack state file, since DataFrame *lineage* cannot outlive a
  SparkSession but spilled plans can. Resume (on ANY catalog instance /
  session over the same root) reloads the manifest, re-reads the spills,
  and seals atomically; nothing is visible to readers until that seal.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, types as T

from pyspark.sql import functions as F

from deltacat_spark.catalog.filescan import scan_files
from deltacat_spark.operators.merge import (
    equality_delete,
    partial_upsert,
    upsert,
)
from deltacat_spark.storage.commit import TxnMarkers
from deltacat_spark.storage.snapshot import FileEntry


@dataclass
class _Op:
    df: DataFrame
    table: str
    namespace: str
    mode: str
    kwargs: dict = dc_field(default_factory=dict)


class Transaction:
    def __init__(self, catalog):
        self.catalog = catalog
        self.txn_id = uuid.uuid4().hex
        self.ops: list[_Op] = []
        self._pins: dict[tuple[str, str], int] = {}
        self.sealed = False
        self.paused = False
        # Set on resume: spill dir to clean up after a successful seal.
        self._paused_dir: str | None = None

    # -- buffered writes ----------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        namespace: str = "default",
        mode: str = "auto",
        **kwargs: Any,
    ) -> None:
        assert not self.sealed, "transaction already sealed"
        assert not self.paused, "transaction is paused — resume() it first"
        self.ops.append(_Op(df, table, namespace, mode, kwargs))

    # -- reads: pinned snapshot + overlay of buffered writes ----------
    def _pin(self, table: str, namespace: str) -> int | None:
        key = (namespace, table)
        if key not in self._pins:
            try:
                self._pins[key] = self.catalog.snapshot(table, namespace).version
            except FileNotFoundError:
                self._pins[key] = -1
        v = self._pins[key]
        return None if v < 0 else v

    def sql(self, query: str, count_rows: bool = True) -> DataFrame:
        """SQL with transaction semantics: SELECTs read the pinned
        snapshots + buffered-writes overlay (read-your-writes), and
        INSERT INTO / INSERT OVERWRITE / UPDATE / DELETE FROM buffer
        ops that land atomically at seal — one multi-statement SQL
        transaction. INSERT OVERWRITE buffers a REPLACE: later reads in
        this txn see the new generation, nothing outside until seal.

        DELETE requires merge keys here (the positional-delete program
        is a catalog-level commit and cannot be buffered); MERGE INTO
        inside a transaction is not supported — use :meth:`write`.
        ``count_rows=False`` skips the per-statement count job
        (``rows`` reported as -1) for pipeline use.
        """
        import re

        from pyspark.sql import functions as F

        from deltacat_spark.catalog.catalog import _split_set_list

        cat = self.catalog
        q = query.strip().rstrip(";")

        def overlay_views(text: str) -> None:
            for t in cat._referenced_tables(text):
                self.read(t).createOrReplaceTempView(t)

        if re.match(r"merge\s+into\b", q, re.IGNORECASE):
            raise ValueError(
                "MERGE INTO inside a transaction is not supported — "
                "buffer the source with txn.write(df, table, mode='merge')"
            )
        if re.match(r"create\s+table\b", q, re.IGNORECASE):
            raise ValueError(
                "CREATE TABLE inside a transaction is not supported — "
                "DDL commits immediately; issue it outside the transaction"
            )
        m = re.match(
            r"insert\s+(into|overwrite)\s+(?:table\s+)?(\w+)\s*"
            r"(\(([^)]*)\))?\s*(select\b.*|values\b.*)",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            verb, table, _, collist, payload = m.groups()
            overwrite = verb.lower() == "overwrite"
            if payload.lower().startswith("select"):
                overlay_views(payload)
            df = cat.spark.sql(payload)
            names = None
            if collist:
                names = [c.strip() for c in collist.split(",") if c.strip()]
            elif all(re.fullmatch(r"col\d+", c) for c in df.columns):
                snap = cat.snapshot(table)
                if snap.schema is not None:
                    names = [f.name for f in snap.schema.fields][
                        : len(df.columns)
                    ]
            if names:
                df = df.toDF(*names)
            n = df.count() if count_rows else -1
            self.write(df, table, mode="replace" if overwrite else "auto")
            return cat._dml_result(
                "INSERT OVERWRITE" if overwrite else "INSERT", n
            )
        m = re.match(
            r"delete\s+from\s+(\w+)(\s+where\s+(.*))?$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, _, cond = m.groups()
            snap = cat.snapshot(table)
            mk = sorted(snap.schema.merge_keys) if snap.schema else []
            if not mk:
                raise ValueError(
                    "DELETE inside a transaction requires merge keys "
                    "(positional deletes commit immediately and cannot "
                    "be buffered)"
                )
            rows = self.read(table)
            if cond:
                rows = rows.filter(F.expr(cond))
            keys = rows.select(*mk).distinct()
            n = keys.count() if count_rows else -1
            if n:
                self.write(keys, table, mode="delete")
            return cat._dml_result("DELETE", n)
        m = re.match(
            r"update\s+(\w+)\s+set\s+(.*?)(\s+where\s+(.*))?$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, setlist, _, cond = m.groups()
            assignments = _split_set_list(setlist)
            snap = cat.snapshot(table)
            mk = set(snap.schema.merge_keys) if snap.schema else set()
            bad = sorted({c for c, _ in assignments} & mk)
            if bad:
                # Same hazard as Catalog.sql UPDATE: the seal's upsert
                # matches on the NEW key values — old-key rows would
                # survive alongside the appended new-key rows.
                raise ValueError(
                    f"UPDATE SET on merge-key column(s) {bad} is not "
                    "supported — the upsert matches rows by the NEW key "
                    "values and would duplicate rows; DELETE the old "
                    "keys and INSERT the new rows instead"
                )
            base = self.read(table)
            matched = base.filter(F.expr(cond)) if cond else base
            # simultaneous pre-image evaluation (r14, same fix as
            # Catalog.sql UPDATE): one select, never chained withColumn
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
            n = matched.count() if count_rows else -1
            if n:
                self.write(matched, table, mode="merge")
            return cat._dml_result("UPDATE", n)
        overlay_views(q)
        return cat.spark.sql(q)

    def read(self, table: str, namespace: str = "default") -> DataFrame:
        pin = self._pin(table, namespace)
        base = None
        schema = None
        if pin is not None:
            snap = self.catalog.snapshot(table, namespace, version_as_of=pin)
            schema = snap.schema
            base = self.catalog._read_files(snap, snap.files)
            if schema is not None:
                base = schema.read_projection(base)
        for op in self.ops:
            if (op.table, op.namespace) != (table, namespace):
                continue
            batch = op.df
            if base is None:
                base = batch
                continue
            mode = op.mode
            keys = schema.merge_keys if schema else []
            if mode == "auto":
                mode = "merge" if keys else "append"
            if mode in ("append", "add", "chrono"):
                base = base.unionByName(batch, allowMissingColumns=True)
            elif mode == "merge":
                # Mid-txn schema evolution: widen the composed base so a
                # batch carrying a new column previews like the seal.
                for c in batch.columns:
                    if c not in base.columns:
                        base = base.withColumn(
                            c, F.lit(None).cast(batch.schema[c].dataType)
                        )
                if set(batch.columns) < set(base.columns):
                    # Partial payload: per-column stitch, matching the
                    # sealed CoW/MoR partial-upsert semantics — a plain
                    # upsert would drop (or crash on) absent columns.
                    base = partial_upsert(base, batch, keys)
                else:
                    base = upsert(base, batch, keys)
            elif mode == "delete":
                cols = [c for c in batch.columns if c in base.columns]
                base = equality_delete(base, batch, cols)
            elif mode == "replace":
                base = batch
        if base is None:
            raise FileNotFoundError(f"{namespace}.{table}")
        return base

    # -- pause / resume ------------------------------------------------
    def pause(self) -> str:
        """Suspend this transaction durably; returns the txn id to
        ``resume()`` with (reference `transaction.py:1582-1601`).

        Every buffered op's ROWS are spilled to parquet under
        ``{root}/_dcs_txn/paused/{txn_id}/`` and a JSON manifest records
        pins + op metadata; the atomic manifest write is the publish
        point (a crash mid-pause leaves an un-resumable partial dir,
        never a half-restored txn). The spill also severs the plans from
        this SparkSession, so the txn survives session/process death —
        nothing becomes visible to readers until the resumed txn seals.
        """
        assert not self.sealed, "transaction already sealed"
        assert not self.paused, "transaction already paused"
        cat = self.catalog
        fs = cat.fs
        for op in self.ops:
            try:
                json.dumps(op.kwargs)
            except TypeError as e:
                raise ValueError(
                    "pause() requires JSON-serializable write kwargs; "
                    f"got {op.kwargs!r} for table {op.namespace}.{op.table}"
                ) from e
        pdir = fs.join(cat.root, TxnMarkers.DIR, "paused", self.txn_id)
        fs.makedirs(pdir)
        ops_meta = []
        for i, op in enumerate(self.ops):
            rel = f"op_{i:04d}"
            op.df.write.mode("overwrite").parquet(fs.spark_path(fs.join(pdir, rel)))
            ops_meta.append(
                {
                    "table": op.table,
                    "namespace": op.namespace,
                    "mode": op.mode,
                    "kwargs": op.kwargs,
                    "path": rel,
                    # Explicit schema: an empty spill has no part files
                    # to infer from.
                    "schema": op.df.schema.json(),
                }
            )
        manifest = {
            "txn_id": self.txn_id,
            "pause_time_ms": int(time.time() * 1000),
            "pins": [[ns, t, v] for (ns, t), v in self._pins.items()],
            "ops": ops_meta,
        }
        fs.write_text_atomic(fs.join(pdir, "manifest.json"), json.dumps(manifest))
        self.paused = True
        return self.txn_id

    @classmethod
    def resume(cls, catalog, txn_id: str) -> "Transaction":
        """Restore a paused transaction on ANY catalog instance over the
        same root (reference `transaction.py:1603-1639`): reload the
        manifest, re-read the spilled ops, and continue buffering /
        seal atomically. The spill dir is removed on successful seal.
        """
        fs = catalog.fs
        pdir = fs.join(catalog.root, TxnMarkers.DIR, "paused", txn_id)
        mpath = fs.join(pdir, "manifest.json")
        if not fs.exists(mpath):
            raise FileNotFoundError(f"no paused transaction {txn_id}")
        m = json.loads(fs.read_text(mpath))
        # Reference parity: refuse to resume under a regressed clock —
        # commit timestamps must stay monotone across the pause.
        if int(time.time() * 1000) < m["pause_time_ms"]:
            raise RuntimeError(
                f"system clock is behind paused transaction {txn_id} "
                f"(pause_time_ms={m['pause_time_ms']})"
            )
        txn = cls(catalog)
        txn.txn_id = txn_id
        txn._pins = {(ns, t): v for ns, t, v in m["pins"]}
        for om in m["ops"]:
            schema = T.StructType.fromJson(json.loads(om["schema"]))
            # Listed through the fs seam and read by literal path:
            # `spark.read.parquet` would glob a root such as `wh[1]`.
            odir = fs.join(pdir, om["path"])
            parts = [
                FileEntry(path=name)
                for name in sorted(fs.list_dir(odir))
                if name.endswith(".parquet") and name[0] not in "._"
            ]
            df = (
                scan_files(catalog.spark, fs, odir, parts, schema)
                if parts
                else catalog.spark.createDataFrame([], schema)
            )
            txn.ops.append(
                _Op(df, om["table"], om["namespace"], om["mode"], dict(om["kwargs"]))
            )
        txn._paused_dir = pdir
        return txn

    # -- seal ----------------------------------------------------------
    def seal(self) -> None:
        assert not self.sealed
        assert not self.paused, "paused transaction — seal via resume()"
        self.sealed = True
        claim = None
        if self._paused_dir is not None:
            # Claim the paused txn before committing anything: the atomic
            # manifest rename makes concurrent resume()+seal() of the same
            # txn id a race exactly one sealer wins — the loser (or a
            # resume after this seal) sees no manifest and fails instead
            # of double-committing the buffered ops.
            fs = self.catalog.fs
            src = fs.join(self._paused_dir, "manifest.json")
            claim = fs.join(self._paused_dir, "manifest.sealing")
            try:
                fs.rename(src, claim)
            except (FileNotFoundError, OSError) as e:
                raise RuntimeError(
                    f"paused transaction {self.txn_id} was already sealed "
                    "by a concurrent resume"
                ) from e
        try:
            self._seal_with_markers()
        except BaseException:
            if claim is not None:
                # Un-claim so the spill stays resumable after a failed seal.
                self.catalog.fs.rename(
                    claim, self.catalog.fs.join(self._paused_dir, "manifest.json")
                )
                self.sealed = False
            raise

    def _seal_with_markers(self) -> None:
        plans = self._planned_commits()
        if len(plans) > 1:
            # Atomic multi-commit seal: stamp every commit pending, flip
            # one marker at the end. Abort (or crash — the marker stays
            # "pending"/"aborted") leaves every table unchanged. Applies
            # to ANY seal producing more than one commit, not just
            # cross-table ones: a single-table seal with multiple
            # non-coalescible ops that failed midway would otherwise
            # leave a prefix of its ops committed — and for a RESUMED
            # txn the un-claim rename then makes a second resume+seal
            # re-apply that prefix (double-write). Pending commits are
            # visible to this txn itself (read-your-writes in
            # Snapshot._txn_visible), so chained same-table commits
            # resolve correctly before the marker flips.
            # The marker id IS the transaction's id, so sealed commits
            # are discoverable by it (`Catalog.read_transaction`).
            txn_id = self.txn_id
            markers = self.catalog._txn_markers
            try:
                markers.begin(txn_id)
            except FileExistsError:
                # A previous crashed seal of THIS txn left a stale
                # pending marker; its stamped commits never became
                # visible — abort the stale attempt and re-begin.
                markers.abort(txn_id)
                markers.begin(txn_id)
            self.catalog._txn_ctx = txn_id
            try:
                self._run_plans(plans)
            except BaseException:
                self.catalog._txn_ctx = None
                markers.abort(txn_id)
                raise
            self.catalog._txn_ctx = None
            markers.finalize(txn_id)
            self._cleanup_spill()
            return
        self._run_plans(plans)
        self._cleanup_spill()

    def _cleanup_spill(self) -> None:
        # A resumed txn's ops read from the paused spill dir; every seal
        # path has materialized them into table data files by now.
        if self._paused_dir is not None:
            self.catalog.fs.delete_dir(self._paused_dir)
            self._paused_dir = None

    def _auto_appends(self, op: _Op) -> bool:
        """True when an ``auto`` op will resolve to an append (no merge
        keys anywhere in sight) — those coalesce exactly like explicit
        appends. Autos that resolve to merge must NOT coalesce: a
        unioned batch loses the op-order LWW semantics between them."""
        if op.mode != "auto":
            return False
        sch = op.kwargs.get("schema")
        if sch is not None:
            return not getattr(sch, "merge_keys", [])
        try:
            snap_schema = self.catalog.snapshot(op.table, op.namespace).schema
        except FileNotFoundError:
            return True  # auto-create from the DataFrame: no merge keys
        return not (snap_schema and snap_schema.merge_keys)

    def _planned_commits(self) -> list[tuple[DataFrame, _Op]]:
        """The commit plan: ops with consecutive append-family writes to
        one table coalesced into single batches. ``len()`` of the result
        is the number of commits the seal will make — >1 means the seal
        needs the marker protocol to stay all-or-nothing."""
        plans: list[tuple[DataFrame, _Op]] = []
        i = 0
        while i < len(self.ops):
            op = self.ops[i]
            if op.mode in ("append", "add") or self._auto_appends(op):
                j = i
                batch = op.df
                while (
                    j + 1 < len(self.ops)
                    and self.ops[j + 1].table == op.table
                    and self.ops[j + 1].namespace == op.namespace
                    and self.ops[j + 1].mode == op.mode
                ):
                    j += 1
                    batch = batch.unionByName(
                        self.ops[j].df, allowMissingColumns=True
                    )
                plans.append((batch, op))
                i = j + 1
            else:
                plans.append((op.df, op))
                i += 1
        return plans

    def _run_plans(self, plans: list[tuple[DataFrame, _Op]]) -> None:
        # Stamp every commit with this transaction's id (audit-only;
        # visibility is still pending_txn + markers) so the sealed op
        # set replays via `Catalog.read_transaction(txn_id)`.
        self.catalog._txn_stamp = self.txn_id
        try:
            for batch, op in plans:
                self.catalog.write_to_table(
                    batch, op.table, op.namespace, mode=op.mode, **op.kwargs
                )
        finally:
            self.catalog._txn_stamp = None

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.seal()
        # on error: buffered plans are discarded — nothing was committed
