"""Physical data-file IO for the table format.

Write path: executors write parquet (optionally hash/partition-layout
via `partitionBy` on generated transform columns, sorted within files by
the sort scheme, sliced by `maxRecordsPerFile` — the reference's
`records_per_compacted_file` slicing, `storage/main/impl.py:2578-2659`);
the driver then reads back parquet footers for per-file records/bytes +
column min/max stats recorded in the commit log (the reference's delta
stats, `compute/stats/models/delta_stats.py`, reborn as Delta-style
skipping stats).

Small in-memory payloads skip the Spark write job: an unpartitioned,
unsorted payload of allow-listed column types whose rows already live
in the driver (a local relation: `local_df`, createDataFrame from
pandas, INSERT ... VALUES) or come from a one-partition range, under a
fixed size estimate, is collected once with `toArrow()` and written by
pyarrow through the fs seam — the reference's own path for small
deltas. Encoding and statistics follow parquet-mr's outcome and the
files are cut as Spark's tasks would cut them, so the footer stats and
the file layout do not depend on which writer ran.

Each commit writes under its own `data/{uuid}/` directory so concurrent
writers never collide on filenames and failed writes are garbage, not
corruption (cleaned by vacuum).
"""

from __future__ import annotations

import math
import os
import uuid
from typing import Any
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, types as T

from deltacat_spark.catalog.filescan import scan_files
from deltacat_spark.storage.fs import LOCAL_FS
from deltacat_spark.storage.snapshot import FileEntry
from deltacat_spark.plans.transforms import (
    PART_PREFIX,
    PartitionKey,
    SortKey,
    partition_columns,
    sort_columns,
)

# Reference default: 4M records per compacted file
# (`compute/compactor_v2/constants.py:7`).
DEFAULT_MAX_RECORDS_PER_FILE = 4_000_000

_STATS_MAX_COLS = 32
_STATS_TYPES = {
    "BOOLEAN",
    "INT32",
    "INT64",
    "FLOAT",
    "DOUBLE",
    "BYTE_ARRAY",
}


def write_data_files(
    df: DataFrame,
    table_root: str,
    partition_scheme: list[PartitionKey] | None = None,
    sort_scheme: list[SortKey] | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    partition_salt: int | None = None,
    fs=LOCAL_FS,
    bloom_columns: list[str] | None = None,
) -> list[dict[str, Any]]:
    """Write a batch; return commit `add` action dicts.

    `partition_salt=N`: shuffle on (partition values, salt) across N
    explicit tasks instead of partition values alone — a low-cardinality
    partition scheme (e.g. 3 regions on a 1000-executor cluster) then
    uses N writers rather than one task per partition value. Salt is a
    deterministic hash of the row, never written to the files.

    `fs` (`storage/fs.py` seam): Spark writes to ``fs.spark_path(dest)``
    (the URI its Hadoop layer resolves), the driver-side Arrow writer
    and the footer-stats pass go through the seam — so tables on object
    stores use one consistent path mapping for data and control plane.
    """
    dest = fs.join(table_root, "data", uuid.uuid4().hex)
    tasks = _driver_writable(df, partition_scheme, sort_scheme)
    if not (tasks and _write_arrow(df, dest, max_records_per_file, fs, tasks)):
        _write_spark(
            df,
            dest,
            partition_scheme,
            sort_scheme,
            max_records_per_file,
            partition_salt,
            fs,
        )
    adds = collect_add_actions(dest, table_root, fs=fs)
    names = set(df.columns)
    if bloom_columns:
        from deltacat_spark.storage.bloom import attach_blooms, eligible_columns

        cols = eligible_columns(df, [c for c in bloom_columns if c in names])
        if cols and adds:
            try:
                files = [
                    FileEntry(path=a["add"]["path"], bytes=a["add"].get("bytes"))
                    for a in adds
                ]
                raw = scan_files(
                    df.sparkSession,
                    fs,
                    table_root,
                    files,
                    T.StructType([df.schema[c] for c in cols]),
                )
                attach_blooms(adds, table_root, raw, fs)
            except Exception as e:  # pragma: no cover - exercised via test
                # Blooms are a read optimization, never a durability
                # dependency: a failed bloom pass must not fail the
                # commit. Files without bloom_ref simply don't skip.
                import warnings

                warnings.warn(
                    f"bloom filter pass failed, committing without "
                    f"blooms: {type(e).__name__}: {e}"
                )
    return adds


def _write_spark(
    df: DataFrame,
    dest: str,
    partition_scheme: list[PartitionKey] | None,
    sort_scheme: list[SortKey] | None,
    max_records_per_file: int,
    partition_salt: int | None,
    fs,
) -> None:
    """One Spark write job: one file per task (per partition directory),
    sliced by `max_records_per_file`."""
    # A delta payload need not carry every table column: a DELETE delta
    # is a key filter, a partial-upsert delta a column subset. Partition
    # and sort keys whose source column is absent are skipped — the
    # delta file lands unpartitioned and the read path's pruning stays
    # conservative for files without recorded partition values.
    names = set(df.columns)
    if partition_scheme:
        partition_scheme = [pk for pk in partition_scheme if pk.source in names]
    if sort_scheme:
        sort_scheme = [sk for sk in sort_scheme if sk.column in names]
    part_cols = partition_columns(partition_scheme, df.schema)
    out = df
    for name, col in part_cols.items():
        out = out.withColumn(name, col)
    if part_cols:
        if partition_salt and partition_salt > 1:
            from pyspark.sql import functions as F

            salt = F.pmod(
                F.hash(*[F.col(c) for c in df.columns]), F.lit(partition_salt)
            )
            out = out.withColumn("__dcs_salt", salt)
            out = out.repartition(
                partition_salt, *part_cols.keys(), "__dcs_salt"
            ).drop("__dcs_salt")
        else:
            # Cluster rows of one partition into the same task so each
            # partition gets few, large files. Explicit count: a bare
            # repartition(cols) gets AQE-coalesced to one task on
            # small writes and serializes the partitionBy fanout;
            # each key still hashes to exactly one task, so per-dir
            # file counts are unchanged at any scale.
            out = out.repartition(
                out.sparkSession.sparkContext.defaultParallelism,
                *part_cols.keys(),
            )
    if sort_scheme:
        out = out.sortWithinPartitions(*sort_columns(sort_scheme))
    writer = out.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    )
    if part_cols:
        writer = writer.partitionBy(*part_cols.keys())
    writer.parquet(fs.spark_path(dest))


# Spark types the driver-side writer round-trips exactly: pyarrow gives
# them the parquet physical type, logical annotation and footer stats
# Spark's writer gives them. TimestampType is left out on purpose:
# Spark writes it as INT96 without stats, pyarrow as INT64 with
# tz-aware stats whose isoformat() ("...+00:00") would be compared as
# strings against the naive payload bounds of `_split_by_key_overlap`
# and could call an overlapping file disjoint. Decimal and nested
# types stay on Spark until their round trip and stats are shown to
# match.
_DRIVER_WRITE_TYPES = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BinaryType,
    T.DateType,
    T.TimestampNTZType,
)


# Largest payload the driver collects, by the optimizer's estimate
# (string and binary values are estimated at Spark's 20-byte default
# width). A fixed bound, deliberately not tied to a session option.
_DRIVER_WRITE_MAX_BYTES = 10 << 20

# Physical leaves whose rows already live in the driver (LocalTableScan:
# createDataFrame from pandas/Arrow, `local_df`, INSERT ... VALUES) or
# are generated from constants (Range). A cached payload (InMemoryTableScan)
# counts by the plan it caches. Every other leaf (file scans, RDD scans
# such as streaming micro-batches or createDataFrame from a list) reads
# data of unknown size and keeps the Spark write job.
_DRIVER_WRITE_LEAVES = ("LocalTableScan", "Range")

# Physical nodes that keep every row in its task and in order.
_ROW_PRESERVING = ("Project", "WholeStageCodegen", "InputAdapter", "ColumnarToRow")


def _in_memory(plan) -> bool:
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.nodeName()
        if name == "InMemoryTableScan":
            if not _in_memory(leaf.relation().cachedPlan()):
                return False
        elif name not in _DRIVER_WRITE_LEAVES:
            return False
    return True


def _local_tasks(plan) -> int:
    """Task count of the local relation `plan` passes through unchanged
    (row-preserving nodes and caches only), else 0."""
    while True:
        name = plan.nodeName()
        if name == "LocalTableScan":
            return plan.execute().getNumPartitions()
        if name == "InMemoryTableScan":
            plan = plan.relation().cachedPlan()
        elif name.split(" ")[0] in _ROW_PRESERVING:
            plan = plan.children().apply(0)
        else:
            return 0


def _driver_writable(
    df: DataFrame,
    partition_scheme: list[PartitionKey] | None,
    sort_scheme: list[SortKey] | None,
) -> int:
    """Number of Spark tasks whose files the driver-side Arrow writer
    reproduces for `df`, or 0 when the payload keeps the Spark write
    job (and its Hadoop file-commit protocol).

    Checks run cheapest first. The analyzed plan already exists, so the
    `maxRows` check is free and rejects every unbounded plan (all
    MERGE/DELETE rewrites, streaming micro-batches) before any
    planning. The leaf check then rejects every plan that reads table
    files or an RDD, including bounded ones such as a `limit()` over a
    scan. The payload is either one output partition, or a local
    relation passed through unchanged, written as the tasks Spark
    slices it into (a multi-partition range stays on Spark). The
    physical plan and size estimate come from the same `QueryExecution`
    that `toArrow()` then runs, so a qualifying write is planned once."""
    if partition_scheme or sort_scheme:
        return 0
    for f in df.schema.fields:
        dt = f.dataType
        if type(dt) not in _DRIVER_WRITE_TYPES or (
            isinstance(dt, T.StringType) and dt != T.StringType()  # collated
        ):
            return 0
    qe = df._jdf.queryExecution()
    if not qe.analyzed().maxRows().isDefined():
        return 0
    plan = qe.executedPlan()
    if not _in_memory(plan):
        return 0
    if int(qe.optimizedPlan().stats().sizeInBytes()) > _DRIVER_WRITE_MAX_BYTES:
        return 0
    if plan.outputPartitioning().numPartitions() == 1:
        return 1
    return _local_tasks(plan)


def _write_arrow(
    df: DataFrame, dest: str, max_records_per_file: int, fs, tasks: int = 1
) -> bool:
    """Collect `df` and write it under `dest` as Spark's write job over
    `tasks` partitions would: task i holds rows ``[i*n//tasks,
    (i+1)*n//tasks)`` (Spark's slicing of a local collection and of a
    range), one parquet file (one row group) per `max_records_per_file`
    slice of a task (<= 0 means one file per task), no file for an empty
    task.

    False, with nothing written, when a floating column holds NaN:
    parquet-mr records NaN as the column's max where pyarrow leaves NaN
    out of min/max, and the footer stats must not depend on the writer.
    """
    table = df.toArrow()
    for col in table.columns:
        if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py():
            return False
    n = table.num_rows
    job = uuid.uuid4()
    for task in range(tasks):
        lo, hi = task * n // tasks, (task + 1) * n // tasks
        step = max_records_per_file if max_records_per_file > 0 else hi - lo
        for i, start in enumerate(range(lo, hi, max(step, 1))):
            part = table.slice(start, min(step, hi - start))
            path = fs.join(
                dest, f"part-{task:05d}-{job}-c{i:03d}.snappy.parquet"
            )
            with fs.open_output_binary(path) as fh:
                pq.write_table(
                    part,
                    fh,
                    row_group_size=part.num_rows,
                    compression="snappy",
                    use_dictionary=_dictionary_columns(part),
                    write_statistics=_statistics_columns(part),
                    store_schema=False,
                )
    return True


_BYTE_TYPES = (pa.string(), pa.large_string(), pa.binary(), pa.large_binary())


def _statistics_columns(table: pa.Table) -> list[str]:
    """Columns to write statistics for: parquet-mr drops a column
    chunk's statistics, null count included, when min and max together
    take 4096 bytes or more."""
    out = []
    for name, col in zip(table.column_names, table.columns):
        if col.type in _BYTE_TYPES:
            mm = pc.min_max(col)
            lo, hi = (pc.binary_length(mm[k]).as_py() for k in ("min", "max"))
            if lo is not None and lo + hi >= 4096:
                continue
        out.append(name)
    return out


def _dictionary_columns(table: pa.Table) -> list[str]:
    """Columns worth dictionary-encoding: parquet-mr's outcome, which
    keeps a column's dictionary only when dictionary page plus
    bit-packed indices is smaller than the plain encoding (pyarrow's
    default dictionary-encodes every column, ~18% more bytes on
    high-cardinality data)."""
    out = []
    for name, col in zip(table.column_names, table.columns):
        if pa.types.is_boolean(col.type):
            continue  # parquet-mr never dictionary-encodes booleans
        values = pc.drop_null(col)
        n = len(values)
        if n == 0:
            continue
        uniq = pc.unique(values)
        d = len(uniq)
        if col.type in _BYTE_TYPES:
            plain = pc.sum(pc.binary_length(values)).as_py() + 4 * n
            page = pc.sum(pc.binary_length(uniq)).as_py() + 4 * d
        else:
            # INT8/INT16 are stored as INT32
            width = max(4, col.type.bit_width // 8)
            plain, page = width * n, width * d
        indices = (n * (d - 1).bit_length() + 7) // 8
        if page + indices < plain:
            out.append(name)
    return out


def collect_add_actions(
    dest: str, table_root: str, fs=LOCAL_FS
) -> list[dict[str, Any]]:
    """Paths are recorded *relative to the table root* so the table stays
    relocatable (rename_table is an O(1) directory move).

    File BASENAMES are made unique within the commit: Spark's
    partitionBy writer reuses one task filename (part-00000-<task uuid>)
    across every partition directory that task writes, but basenames are
    the table-wide row-identity anchor (MoR provenance map + positional
    deletes key on them because `input_file_name()` URI-prefixes full
    paths). Only colliding files are renamed, so the unpartitioned fast
    path stays rename-free (matters on object stores where a move is a
    server-side copy)."""
    paths = [
        p for p in sorted(fs.walk_files(dest)) if p.endswith(".parquet")
    ]
    from collections import Counter

    counts = Counter(p.rsplit("/", 1)[-1] for p in paths)
    deduped = []
    for i, path in enumerate(paths):
        fname = path.rsplit("/", 1)[-1]
        if counts[fname] > 1:
            new = path[: -len(fname)] + f"d{i:05d}-{fname}"
            fs.rename(path, new)
            path = new
        deduped.append(path)
    adds = []
    for path in deduped:
        fname = path.rsplit("/", 1)[-1]
        rel = fs.relpath(path, dest)
        rel_dir = rel[: -(len(fname) + 1)] if "/" in rel else ""
        pvals = _partition_values_from_relpath(rel_dir)
        adds.append(
            {
                "add": {
                    "path": fs.relpath(path, table_root),
                    "partition_values": pvals or None,
                    **_footer_stats(path, fs=fs),
                }
            }
        )
    adds = [a for a in adds if a["add"].get("records", 0) > 0]
    return adds


def _partition_values_from_relpath(rel: str) -> dict[str, str]:
    out: dict[str, str] = {}
    if rel in (".", ""):
        return out
    for seg in rel.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            if k.startswith(PART_PREFIX):
                k = k[len(PART_PREFIX):]
            out[k] = unquote(v)
    return out


def _footer_stats(path: str, fs=LOCAL_FS) -> dict[str, Any]:
    with fs.open_binary(path) as fh:
        md = pq.read_metadata(fh)
    stats: dict[str, dict[str, Any]] = {}
    # per-column null counts, summed over row groups — recorded only
    # when EVERY row group reports one (a partial sum would understate
    # and could wrongly prove "no nulls"). Tracked for all stats-typed
    # top-level columns, including all-null ones that carry no min/max.
    nulls: dict[str, int] = {}
    nulls_bad: set = set()
    # columns with a NaN bound in some row group: parquet-mr sorts NaN
    # above every value (as Spark does) and records it as the max, which
    # bounds nothing a predicate can compare against — no range at all.
    nan_bound: set = set()
    ncols = min(md.num_columns, _STATS_MAX_COLS)
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(ncols):
            col = g.column(i)
            st = col.statistics
            name = col.path_in_schema
            if "." in name:  # nested — skip
                continue
            if st is not None and st.has_null_count and name not in nulls_bad:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            else:
                nulls_bad.add(name)
                nulls.pop(name, None)
            if st is None or not st.has_min_max:
                continue
            if col.physical_type not in _STATS_TYPES:
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't cast stats for every logical type (e.g.
                # decimals on some physical encodings) — no stats, no
                # pruning for that column; never a failed commit.
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                nan_bound.add(name)
            if name in nan_bound:
                stats.pop(name, None)
                continue
            cur = stats.get(name)
            if cur is None:
                stats[name] = {"min": mn, "max": mx}
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
    for name, n in nulls.items():
        stats.setdefault(name, {})["nulls"] = n
    out: dict[str, Any] = {
        "records": md.num_rows,
        "bytes": fs.size(path),
    }
    if stats:
        out["stats"] = _jsonable(stats)
    return out


def _jsonable(stats: dict) -> dict:
    import datetime

    def conv(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return v

    return {
        c: {k: conv(v) for k, v in mm.items()} for c, mm in stats.items()
    }
