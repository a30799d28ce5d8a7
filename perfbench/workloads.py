"""The benchmark's workloads: set-up, a closed-loop timed phase, and an
oracle check.

Every workload drives only the public catalog API
(``deltacat_spark.catalog.Catalog``). Each operation is one public call,
timed by wall clock; reads are forced through a ``noop`` sink (scans) or
collected (lookups). The oracle that checks the final table is rebuilt
from the generated inputs with plain Spark DataFrame ops.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window as W, functions as F

import gen
from deltacat_spark.catalog import Catalog
from deltacat_spark.plans.expr import col
from deltacat_spark.schema import Schema


@dataclass
class Sample:
    kind: str  # append | merge | delete | scan | lookup | optimize
    ms: float
    rows: int = 0  # user rows submitted by a write


@dataclass
class Ctx:
    """What a workload needs from the harness."""

    spark: object
    root: str  # catalog root directory
    seed: int
    tracer: object  # tracing.Tracer or tracing.NoTracer
    samples: list[Sample] = field(default_factory=list)
    checks: list[tuple[str, bool]] = field(default_factory=list)

    def timed(self, kind: str, fn, rows: int = 0):
        """Run one operation, time it, and keep the sample."""
        with self.tracer.op(kind):
            t0 = time.perf_counter()
            out = fn()
            ms = (time.perf_counter() - t0) * 1000.0
        self.samples.append(Sample(kind, ms, rows))
        return out


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """Order-insensitive (row count, sum of row hashes)."""
    r = df.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def by_name(rows, cols: list[str]) -> list[tuple]:
    """Collected rows as sorted tuples of ``cols``."""
    return sorted(tuple(r[c] for c in cols) for r in rows)


def rows_of(df: DataFrame, cols: list[str]) -> list[tuple]:
    return by_name(df.collect(), cols)


def scan_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _versions(table_root: str) -> list[int]:
    names = os.listdir(os.path.join(table_root, "_dcs_log"))
    return sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())


def read_log(table_root: str) -> list[dict]:
    """Every commit of a table, in version order, read straight from the
    JSON files of its log directory."""
    out = []
    for v in _versions(table_root):
        path = os.path.join(table_root, "_dcs_log", f"{v:020d}.json")
        with open(path, encoding="utf-8") as fh:
            out.append(json.load(fh))
    return out


@dataclass
class LogStats:
    """Write and space amplification read from the commit log."""

    bytes_added: int = 0  # data files added after the timed phase began
    live_bytes: int = 0
    live_files: int = 0
    ops: list[str] = field(default_factory=list)  # timed-phase operations
    merge_removed: int = 0
    merge_live_before: int = 0
    merge_removed_records: int = 0


def log_stats(table_root: str, first_version: int) -> LogStats:
    live: dict[str, dict] = {}
    st = LogStats()
    for c in read_log(table_root):
        adds = [a["add"] for a in c.get("actions", []) if "add" in a]
        removes = [a["remove"]["path"] for a in c.get("actions", []) if "remove" in a]
        timed = c["version"] >= first_version
        if timed:
            st.ops.append(c["operation"])
            st.bytes_added += sum(a.get("bytes") or 0 for a in adds)
            if c["operation"] == "MERGE":
                st.merge_removed += len(removes)
                st.merge_live_before += len(live)
                st.merge_removed_records += sum(
                    live[p].get("records") or 0 for p in removes if p in live
                )
        for p in removes:
            live.pop(p, None)
        for a in adds:
            live[a["path"]] = a
    st.live_bytes = sum(a.get("bytes") or 0 for a in live.values())
    st.live_files = len(live)
    return st


def latest_version(table_root: str) -> int:
    return _versions(table_root)[-1]


class AppendStream:
    """One client appends 500-1,000 event rows per commit to an
    unpartitioned, keyless table with default properties; every 10th
    append is followed by a point lookup on ``user_id``."""

    write_kind = "append"
    load_appends = 5
    warm_appends = 15
    lookup_every = 10

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.events = gen.Events(ctx.spark, ctx.seed)
        self.ends = gen.append_slices(ctx.seed, 20_000)
        self.users = gen.pick(ctx.seed, 1, 2_000, 0, self.events.n_users)
        self.n_appended = 0
        self.lookups: list[tuple[int, int, list]] = []  # (rows so far, user, result)
        self.table = None

    def setup_once(self, rep: int) -> None:
        """Create the table and load its first ``load_appends`` batches."""
        self.cat = Catalog(self.ctx.spark, self.ctx.root)
        self.table = f"events_{rep}"
        schema = Schema.from_dataframe(self.events.rows(0, 1))
        self.cat.create_table(self.table, schema=schema)
        self.n_appended = 0
        for _ in range(self.load_appends):
            self._append(timed=False)

    def warm(self) -> None:
        """A few more untimed appends and a lookup, so timing starts with
        compiled code paths."""
        for _ in range(self.warm_appends):
            self._append(timed=False)
        self.cat.read_table(self.table, predicate=col("user_id").eq(0)).collect()
        self.first_version = latest_version(self.table_root) + 1

    def rows_submitted(self) -> tuple[int, int]:
        """User rows the timed phase submitted: (all writes, merges)."""
        return sum(s.rows for s in self.ctx.samples), 0

    @property
    def table_root(self) -> str:
        return os.path.join(self.ctx.root, "default", self.table)

    def _append(self, timed: bool = True) -> None:
        lo = self.ends[self.n_appended - 1] if self.n_appended else 0
        hi = self.ends[self.n_appended]
        df = self.events.rows(lo, hi)
        write = lambda: self.cat.write_to_table(df, self.table, mode="append")  # noqa: E731
        if timed:
            self.ctx.timed("append", write, rows=hi - lo)
        else:
            write()
        self.n_appended += 1

    def run(self, deadline: float, max_ops: int) -> None:
        ops = 0
        while time.perf_counter() < deadline and ops < max_ops:
            self._append()
            ops += 1
            if self.n_appended % self.lookup_every == 0 and ops < max_ops:
                user = self.users[len(self.lookups) % len(self.users)]
                pred = col("user_id").eq(user)
                got = self.ctx.timed(
                    "lookup",
                    lambda: self.cat.read_table(self.table, predicate=pred).collect(),
                )
                self.lookups.append(
                    (self.ends[self.n_appended - 1], user, by_name(got, gen.EVENT_COLUMNS))
                )
                ops += 1

    def check(self) -> int:
        """Compare the table and sampled lookups against the generator;
        returns the live row count."""
        cols = gen.EVENT_COLUMNS
        end = self.ends[self.n_appended - 1]
        got = digest(self.cat.read_table(self.table), cols)
        self.ctx.checks.append(("table", got == digest(self.events.rows(0, end), cols)))
        for n_rows, user, result in _sample(self.lookups, 3):
            want = rows_of(
                self.events.rows(0, n_rows).filter(F.col("user_id") == user), cols
            )
            self.ctx.checks.append((f"lookup user_id={user}", result == want))
        return got[0]


class Upsert:
    """One client on a keyed lineitem table, range-laid-out into 32 files.
    Each cycle: MERGE a contiguous 1% order window (recent orders
    favoured), DELETE one key in ten of another 1% window, scan the
    table, look up three keys. ``cow=False`` makes the table merge-on-read
    and runs ``optimize_table`` every ``optimize_every`` cycles."""

    write_kind = "merge"
    n_orders = 30_000
    layout_files = 32
    optimize_every = 4
    warm_cycles = 2

    def __init__(self, ctx: Ctx, cow: bool = True):
        self.ctx = ctx
        self.cow = cow
        self.li = gen.Lineitem(ctx.spark, ctx.seed)
        width = self.n_orders // 100
        self.merge_windows = gen.recent_windows(ctx.seed, 2_000, width, 0, self.n_orders)
        self.delete_windows = gen.recent_windows(
            ctx.seed + 1, 2_000, width, 0, self.n_orders
        )
        self.probe = gen.pick(ctx.seed, 2, 2_000, 0, self.n_orders)
        self.oracle_ops: list[tuple[int, str, gen.Window]] = []  # (rev, kind, window)
        self.lookups: list[tuple[int, int, list]] = []  # (ops so far, key, result)
        self.cycle = 0

    @property
    def table_root(self) -> str:
        return os.path.join(self.ctx.root, "default", self.table)

    def setup_once(self, rep: int) -> None:
        """Create the table and load every order at revision 0, laid out
        as ``layout_files`` files of contiguous, sorted key ranges.

        The load is one REPLACE of range-partitioned rows rather than a
        MERGE followed by ``repartition_table_by_range``: the latter
        samples its range bounds from files whose read order follows
        their random names, so the layout, and every count after it,
        would differ between runs of one seed."""
        self.cat = Catalog(self.ctx.spark, self.ctx.root)
        self.table = f"lineitem_{rep}"
        props = {"read_optimization": "max" if self.cow else "none"}
        self.cat.create_table(
            self.table, schema=gen.lineitem_schema(), properties=props
        )
        base = self.li.rows(gen.Window(0, self.n_orders), 0, self.layout_files)
        self.cat.write_to_table(base, self.table, mode="replace")
        self.oracle_ops, self.lookups, self.cycle = [], [], 0

    def warm(self) -> None:
        """Untimed cycles, so the timed phase starts with compiled code."""
        for _ in range(self.warm_cycles):
            self._cycle(timed=False)
        self.first_version = latest_version(self.table_root) + 1
        self.first_timed_op = len(self.oracle_ops)

    def _op(self, kind: str, fn, timed: bool):
        return self.ctx.timed(kind, fn) if timed else fn()

    def _cycle(self, timed: bool = True, max_ops: int = 1 << 30) -> int:
        i, ops = self.cycle, 0
        self.cycle += 1
        mw, dw = self.merge_windows[i], self.delete_windows[i]
        rev = len(self.oracle_ops) + 1
        payload = self.li.rows(mw, rev)
        self._op(
            "merge",
            lambda: self.cat.write_to_table(payload, self.table, mode="merge"),
            timed,
        )
        self.oracle_ops.append((rev, "merge", mw))
        ops += 1
        if ops < max_ops:
            keys = self.li.delete_keys(dw, salt=rev + 1)
            self._op(
                "delete",
                lambda: self.cat.write_to_table(keys, self.table, mode="delete"),
                timed,
            )
            self.oracle_ops.append((rev + 1, "delete", dw))
            ops += 1
        if ops < max_ops:
            self._op("scan", lambda: scan_noop(self.cat.read_table(self.table)), timed)
            ops += 1
        # Three point lookups: the order just merged, one in the delete
        # window, and one anywhere in the table.
        for order in ((mw.lo + mw.hi) // 2, dw.lo + i % (dw.hi - dw.lo), self.probe[i]):
            if ops >= max_ops:
                break
            key = gen.Lineitem.orderkey(order)
            pred = col("l_orderkey").eq(key)
            got = self._op(
                "lookup",
                lambda: self.cat.read_table(self.table, predicate=pred).collect(),
                timed,
            )
            self.lookups.append(
                (len(self.oracle_ops), key, by_name(got, gen.LINEITEM_COLUMNS))
            )
            ops += 1
        if not self.cow and self.cycle % self.optimize_every == 0 and ops < max_ops:
            self._op("optimize", lambda: self.cat.optimize_table(self.table), timed)
            ops += 1
        return ops

    def run(self, deadline: float, max_ops: int) -> None:
        ops = 0
        while time.perf_counter() < deadline and ops < max_ops:
            ops += self._cycle(max_ops=max_ops - ops)

    def check(self) -> int:
        cols = gen.LINEITEM_COLUMNS
        got = digest(self.cat.read_table(self.table), cols)
        whole = gen.Window(0, self.n_orders)
        want = digest(lineitem_oracle(self.li, self.oracle_ops, whole), cols)
        self.ctx.checks.append(("table", got == want))
        for n_ops, key, result in _sample(self.lookups, 3):
            order = (key - 1) // 4
            one = gen.Window(order, order + 1)
            want_rows = rows_of(lineitem_oracle(self.li, self.oracle_ops[:n_ops], one), cols)
            self.ctx.checks.append((f"lookup l_orderkey={key}", result == want_rows))
        return got[0]

    def rows_submitted(self) -> tuple[int, int]:
        """User rows the timed phase submitted: (all writes, merges)."""
        timed = self.oracle_ops[self.first_timed_op :]
        counts = payload_rows(self.li, timed)
        merged = sum(counts.get(rev, 0) for rev, kind, _ in timed if kind == "merge")
        return sum(counts.values()), merged


class ConcurrentUpsert(Upsert):
    """Three writer threads share one session; each runs a closed loop of
    CoW MERGEs on contiguous windows inside its own third of the key
    space of one range-laid-out lineitem table."""

    writers = 3

    def __init__(self, ctx: Ctx):
        super().__init__(ctx, cow=True)
        third = self.n_orders // self.writers
        width = self.n_orders // 100
        self.windows = [
            gen.recent_windows(ctx.seed + t, 2_000, width, t * third, (t + 1) * third)
            for t in range(self.writers)
        ]

    def warm(self) -> None:
        """One untimed MERGE per writer, one after another."""
        for t in range(self.writers):
            self._merge(t, 0, timed=False)
        self.first_version = latest_version(self.table_root) + 1
        self.first_timed_op = len(self.oracle_ops)

    def _merge(self, t: int, seq: int, timed: bool = True) -> None:
        # Revisions interleave by writer; each key belongs to one writer,
        # so only the order within a writer decides a key's winner.
        rev = 1 + seq * self.writers + t
        w = self.windows[t][seq]
        payload = self.li.rows(w, rev)
        cat = Catalog(self.ctx.spark, self.ctx.root)
        write = lambda: cat.write_to_table(payload, self.table, mode="merge")  # noqa: E731
        self._op("merge", write, timed)
        self.oracle_ops.append((rev, "merge", w))

    def run(self, deadline: float, max_ops: int) -> None:
        errors: list[BaseException] = []
        per_writer = -(-max_ops // self.writers)

        def writer(t: int) -> None:
            seq = 1
            try:
                while time.perf_counter() < deadline and seq <= per_writer:
                    self._merge(t, seq)
                    seq += 1
            except BaseException as e:  # re-raised on the main thread
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(t,), name=f"writer-{t}")
            for t in range(self.writers)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]
        self.oracle_ops.sort(key=lambda op: op[0])


def lineitem_oracle(
    li: gen.Lineitem, ops: list[tuple[int, str, gen.Window]], scope: gen.Window
) -> DataFrame:
    """The orders of ``scope`` after ``ops``: base rows at revision 0, then
    per key the newest op wins; a winning delete removes the key."""
    cols = gen.LINEITEM_COLUMNS
    types = {f.name: f.dataType for f in gen.lineitem_schema().to_struct_type()}
    parts = [li.rows(scope, 0).withColumn("__op", F.lit(0))]
    for rev, kind, w in ops:
        w = gen.Window(max(w.lo, scope.lo), min(w.hi, scope.hi))
        if w.lo >= w.hi:
            continue
        if kind == "merge":
            parts.append(li.rows(w, rev).withColumn("__op", F.lit(rev)))
        else:
            keys = li.delete_keys(w, salt=rev)
            parts.append(
                keys.select(
                    *[
                        F.col(c)
                        if c in gen.LINEITEM_KEYS
                        else F.lit(None).cast(types[c]).alias(c)
                        for c in cols
                    ]
                ).withColumn("__op", F.lit(-rev))
            )
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    newest = W.partitionBy(*gen.LINEITEM_KEYS).orderBy(F.abs(F.col("__op")).desc())
    return (
        allrows.withColumn("__rank", F.row_number().over(newest))
        .filter((F.col("__rank") == 1) & (F.col("__op") >= 0))
        .select(*cols)
    )


def payload_rows(li: gen.Lineitem, ops: list[tuple[int, str, gen.Window]]) -> dict[int, int]:
    if not ops:
        return {}
    parts = []
    for rev, kind, w in ops:
        df = li.rows(w, rev) if kind == "merge" else li.delete_keys(w, salt=rev)
        parts.append(df.select(F.lit(rev).alias("rev")))
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.union(p)
    return {r["rev"]: r["count"] for r in allrows.groupBy("rev").count().collect()}


def _sample(items: list, n: int) -> list:
    """Up to ``n`` evenly spaced items, always including the last."""
    if len(items) <= n:
        return list(items)
    step = len(items) / n
    return [items[min(len(items) - 1, int((k + 1) * step) - 1)] for k in range(n)]


WORKLOADS = {
    "append_stream": AppendStream,
    "upsert_cow": lambda ctx: Upsert(ctx, cow=True),
    "upsert_mor": lambda ctx: Upsert(ctx, cow=False),
    "concurrent_upsert": ConcurrentUpsert,
}
