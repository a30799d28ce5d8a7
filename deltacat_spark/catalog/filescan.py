"""Parquet scans planned from the commit log, with no listing.

`spark.read.parquet(*paths)` treats its arguments as patterns: it globs
and stats every path on the driver, and above
`spark.sql.sources.parallelPartitionDiscovery.threshold` (32 paths) it
runs a distributed listing job before the scan's own job. The commit
log already records each live file's path and size, so the table format
needs none of that (*Delta Lake*, VLDB 2020, §3: the log, not a LIST, is
the file set). `scan_files` seeds Spark's own `InMemoryFileIndex` with
one `FileStatus` per log entry, through a throwaway
`FileStatusCache`, and wraps it in a parquet `HadoopFsRelation` — the
same relation `spark.read.parquet` builds, minus the listing.

Contract:

* Paths are taken literally: no glob, so a table under `wh[1]` or
  `wh{a,b}` reads like any other.
* Sizes come from the log; an entry without one is stat'ed once through
  the fs seam. Nothing else touches storage while the read is planned.
* A listed file that storage lacks fails the read at execution
  (`FAILED_READ_FILE.FILE_NOT_EXIST` under the default
  `spark.sql.files.ignoreMissingFiles=false`); it is never skipped.
* File URIs are built as `spark.read.parquet` qualifies them, so
  `input_file_name()` and `_metadata.file_path` give the same strings.
* The index's one root is a name derived from the file set, never
  listed. `InMemoryFileIndex` equality compares root paths, and Spark's
  cache and exchange reuse match scans by that equality; a per-set root
  keeps two reads of different files under one directory distinct,
  exactly as one root per file would, at one cache entry per read.
  `recursiveFileLookup` makes the index serve every cached file under
  that root and turns partition inference off, as for the file roots
  `spark.read.parquet` was given.

The JVM classes and each root's qualified URI are resolved once per
session; a read then costs 3 Py4J round trips per file plus 12.
"""

from __future__ import annotations

import hashlib
import posixpath
import weakref
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from deltacat_spark.storage.snapshot import FileEntry

_DS = "org.apache.spark.sql.execution.datasources"


class _Jvm:
    """One session's JVM handles, resolved once: each
    `jvm.org.apache…` lookup costs a round trip per name segment."""

    def __init__(self, spark: SparkSession):
        jvm = spark._jvm
        self.session = spark._jsparkSession
        self.conf = spark._jsc.hadoopConfiguration()
        cls = lambda name: getattr(jvm, name)  # noqa: E731
        self.Path = cls("org.apache.hadoop.fs.Path")
        self.FileStatus = cls("org.apache.hadoop.fs.FileStatus")
        self.ArrayList = cls("java.util.ArrayList")
        self.singleton = cls("java.util.Collections").singletonList
        # `ArrayList` → `FileStatus[]` in one call: filling a Py4J array
        # costs two calls per element.
        self.copy_of = cls("java.util.Arrays").copyOf
        self.status_array = (
            spark.sparkContext._gateway.new_array(self.FileStatus, 0).getClass()
        )
        self.Cache = cls(f"{_DS}.SharedInMemoryCache")
        self.Index = cls(f"{_DS}.InMemoryFileIndex")
        self.Relation = cls(f"{_DS}.HadoopFsRelation")
        self.Some = cls("scala.Some")
        self.none = cls("scala.Option").empty()
        self.parquet = cls(f"{_DS}.parquet.ParquetFileFormat")()
        self.no_partitions = cls("org.apache.spark.sql.types.StructType")()
        utils = cls("org.apache.spark.api.python.PythonUtils")
        self.to_seq = utils.toSeq
        self.index_options = utils.toScalaMap({"recursiveFileLookup": "true"})
        self.no_options = utils.toScalaMap({})
        # spark path of a root -> (qualified URI prefix, block size)
        self.roots: dict[str, tuple[str, int]] = {}
        # schema JSON -> (JVM StructType, Some(it))
        self.schemas: dict[str, tuple] = {}

    def qualified(self, root: str) -> "tuple[str, int]":
        """`root` as `spark.read.parquet` qualifies it, in a form that
        `Path(String)` maps back to the same URI, and its filesystem's
        block size. `file:///x` keeps its empty authority: rebuilding a
        child with `Path(parent, child)` would print `file:/x/child`."""
        hit = self.roots.get(root)
        if hit is None:
            p = self.Path(root)
            fs = p.getFileSystem(self.conf)
            uri = fs.makeQualified(p).toUri()
            scheme = uri.getScheme()
            prefix = f"{scheme}:"
            if uri.toString().startswith(f"{scheme}://"):
                prefix += "//" + (uri.getAuthority() or "")
            hit = (prefix + uri.getPath(), fs.getDefaultBlockSize(p))
            _remember(self.roots, root, hit)
        return hit

    def schema(self, schema: StructType) -> tuple:
        """(JVM StructType, the same as `Some`), parsed once. Every
        field is nullable, as `DataSource.resolveRelation` makes a file
        relation's data schema: a required field would change how
        Catalyst treats nulls and how a rewrite encodes the column."""
        key = schema.json()
        hit = self.schemas.get(key)
        if hit is None:
            struct = self.session.parseDataType(key).asNullable()
            hit = (struct, self.Some(struct))
            _remember(self.schemas, key, hit)
        return hit


def _remember(cache: dict, key, value) -> None:
    """Memoize, dropping everything once a session has seen 1024 keys."""
    if len(cache) >= 1024:
        cache.clear()
    cache[key] = value


# Keyed by session, since the JVM objects belong to it; an entry goes
# with its session.
_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, _Jvm]" = (
    weakref.WeakKeyDictionary()
)


def _jvm(spark: SparkSession) -> _Jvm:
    h = _SESSIONS.get(spark)
    if h is None:
        h = _SESSIONS[spark] = _Jvm(spark)
    return h


def scan_files(
    spark: SparkSession,
    fs,
    table_root: str,
    files: Sequence[FileEntry],
    schema: "StructType | None",
) -> DataFrame:
    """A parquet DataFrame over exactly `files` (paths relative to
    `table_root`, or absolute), read with `schema`; `None` infers it
    from the footers as `spark.read.parquet` would. `fs` is the
    catalog's filesystem seam: it maps paths to Spark URIs and sizes
    entries the log recorded without one."""
    if not files:
        raise ValueError("scan_files needs at least one file")
    h = _jvm(spark)
    root = fs.spark_path(table_root).rstrip("/")
    prefix, block = h.qualified(root)
    uris = []
    statuses = h.ArrayList(len(files))
    for f in files:
        path = f.abs_path(table_root)
        sp = fs.spark_path(path)
        if sp.startswith(root + "/"):
            uri = prefix + sp[len(root):]
        else:  # a shallow clone's absolute reference
            parent, name = posixpath.split(sp)
            uri = f"{h.qualified(parent)[0]}/{name}"
        size = f.bytes if f.bytes is not None else fs.size(path)
        # The log keeps no modification time; the scan does not use one.
        statuses.add(h.FileStatus(size, False, 1, block, 0, h.Path(uri)))
        uris.append(uri)
    digest = hashlib.sha1("\n".join(sorted(uris)).encode("utf-8")).hexdigest()
    key = h.Path(f"{prefix}/_scan/{digest}")
    # Too large to evict: an index that misses its root in the cache
    # lists the root instead, which does not exist.
    cache = h.Cache(1 << 62, -1).createForNewClient()
    cache.putLeafFiles(key, h.copy_of(statuses.toArray(), len(files), h.status_array))
    data_schema, given = h.schema(schema) if schema is not None else (None, h.none)
    index = h.Index(
        h.session, h.to_seq(h.singleton(key)), h.index_options, given, cache, h.none, h.none
    )
    if data_schema is None:
        data_schema = h.parquet.inferSchema(
            h.session, h.no_options, index.allFiles()
        ).get().asNullable()
    rel = h.Relation(
        index, h.no_partitions, data_schema, h.none, h.parquet, h.no_options, h.session
    )
    return DataFrame(h.session.baseRelationToDataFrame(rel), spark)
