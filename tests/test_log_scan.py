"""Reads planned from the commit log (`catalog/filescan.py`).

* `scan_files` reads exactly the listed files, with sizes from the log,
  and runs no listing job; a listed file that storage lacks fails the
  read; file URIs match `spark.read.parquet`'s byte for byte; two reads
  of different files in one directory never share a cached plan.
* A warehouse path with glob characters reads back (`spark.read.parquet`
  globbed it and found nothing).
* A shallow clone keeps its source files' bloom sidecars, so point
  lookups on the clone skip by bloom, and the source's vacuum keeps
  the sidecars the clone references."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from deltacat_spark.catalog import Catalog
from deltacat_spark.catalog.filescan import scan_files
from deltacat_spark.schema import Field, Schema
from deltacat_spark.storage.fs import LOCAL_FS, ArrowFS
from deltacat_spark.storage.snapshot import FileEntry

SCHEMA = T.StructType([T.StructField("id", T.LongType())])


@pytest.fixture(params=["local", "arrow"])
def table(request, tmp_path):
    """(fs, table root as the fs sees it, absolute table dir): LocalFS,
    or an ArrowFS over a subtree whose Spark URIs carry a prefix."""
    base = str(tmp_path)
    os.makedirs(os.path.join(base, "t", "data"))
    if request.param == "local":
        return LOCAL_FS, os.path.join(base, "t"), os.path.join(base, "t")
    from pyarrow.fs import LocalFileSystem, SubTreeFileSystem

    fs = ArrowFS(
        SubTreeFileSystem(base, LocalFileSystem()), spark_prefix=f"file://{base}/"
    )
    return fs, "t", os.path.join(base, "t")


def _write(table_dir, n, sub="d0"):
    """`n` one-row-group files of 10 ids each under data/<sub>/."""
    os.makedirs(os.path.join(table_dir, "data", sub), exist_ok=True)
    out = []
    for i in range(n):
        rel = f"data/{sub}/part-{i:05d}.parquet"
        pq.write_table(
            pa.table({"id": pa.array(range(10 * i, 10 * i + 10), pa.int64())}),
            os.path.join(table_dir, rel),
        )
        out.append(FileEntry(path=rel, bytes=os.path.getsize(os.path.join(table_dir, rel))))
    return out


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_missing_listed_file_fails_the_read(spark, table):
    fs, root, table_dir = table
    files = _write(table_dir, 3)
    os.remove(os.path.join(table_dir, files[1].path))
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        scan_files(spark, fs, root, files, SCHEMA).collect()


def test_file_uris_match_spark_read_parquet(spark, table):
    fs, root, table_dir = table
    files = _write(table_dir, 3)
    ours = scan_files(spark, fs, root, files, SCHEMA)
    theirs = spark.read.schema(SCHEMA).parquet(
        *[fs.spark_path(f.abs_path(root)) for f in files]
    )

    def uris(df):
        return sorted(
            tuple(r)
            for r in df.select(F.input_file_name(), "_metadata.file_path")
            .distinct()
            .collect()
        )

    assert uris(ours) == uris(theirs)
    assert len(uris(ours)) == 3


def test_forty_file_read_runs_one_job(spark, table):
    """`spark.read.parquet` lists more than 32 paths with a job of its
    own before the scan's job."""
    fs, root, table_dir = table
    files = _write(table_dir, 40)
    sc = spark.sparkContext
    group = f"log-scan-{id(files)}"
    sc.setJobGroup(group, "40-file scan")
    try:
        rows = scan_files(spark, fs, root, files, SCHEMA).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r.id for r in rows) == list(range(400))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_entry_without_size_is_stated(spark, table):
    fs, root, table_dir = table
    files = _write(table_dir, 2)
    unsized = [FileEntry(path=files[0].path), files[1]]
    assert _ids(scan_files(spark, fs, root, unsized, SCHEMA)) == list(range(20))


def test_schema_is_inferred_when_not_given(spark, table):
    fs, root, table_dir = table
    files = _write(table_dir, 2)
    df = scan_files(spark, fs, root, files, None)
    assert df.schema.simpleString() == "struct<id:bigint>"
    assert _ids(df) == list(range(20))


def test_reads_of_different_files_in_one_dir_stay_distinct(spark, tmp_path):
    """Spark's cache and exchange reuse match scans by file-index
    equality; a subset of a cached read's files must not be served
    from that cache."""
    table_dir = str(tmp_path)
    files = _write(table_dir, 3)
    full = scan_files(spark, LOCAL_FS, table_dir, files, SCHEMA).cache()
    try:
        assert full.count() == 30
        assert scan_files(spark, LOCAL_FS, table_dir, files[:1], SCHEMA).count() == 10
        again = scan_files(spark, LOCAL_FS, table_dir, files[::-1], SCHEMA)
        assert "InMemoryRelation" in again._jdf.queryExecution().optimizedPlan().toString()
    finally:
        full.unpersist()


@pytest.mark.parametrize("name", ["wh[1]", "wh{a,b}"])
def test_warehouse_path_with_glob_characters(spark, tmp_path, name):
    cat = Catalog(spark, str(tmp_path / name))
    cat.write_to_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), "t"
    )
    cat.write_to_table(
        spark.createDataFrame([(3, "c")], "id long, v string"), "t", mode="append"
    )
    assert [tuple(r) for r in cat.read_table("t").orderBy("id").collect()] == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_shallow_clone_keeps_bloom_skipping(spark, tmp_path):
    """Even ids only: an odd id lies inside some file's [min, max], so
    stats keep that file and only its bloom can skip it."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table(
        "src",
        schema=Schema(
            [Field("id", T.LongType(), merge_key=True), Field("v", T.IntegerType())]
        ),
        properties={"bloom_filter_columns": "id", "max_records_per_file": 20},
    )
    cat.write_to_table(
        spark.createDataFrame([(2 * i, i) for i in range(100)], "id long, v int"),
        "src",
        mode="merge",
    )
    cat.clone_table("src", "dst")
    odd = [[("id", "=", k)] for k in range(1, 200, 2)]

    def kept(table, fs=cat.fs):
        snap = cat.snapshot(table)
        assert len(snap.files) >= 4 and all(f.bloom_ref for f in snap.files)
        return sum(len(snap.prune(None, p, fs=fs)) for p in odd)

    assert kept("dst", fs=None) >= 90  # stats alone skip little
    assert kept("src") == 0
    assert kept("dst") == 0
    sidecars = [f.bloom_ref for f in cat.snapshot("dst").files]
    assert all(os.path.isabs(r) and os.path.exists(r) for r in sidecars)

    # Rewrite every source file, then vacuum the source: the clone
    # still pins the old files, so their sidecars stay too.
    cat.write_to_table(
        spark.createDataFrame([(2 * i, -i) for i in range(100)], "id long, v int"),
        "src",
        mode="merge",
    )
    cat.vacuum("src", retain_versions=0, min_age_seconds=0)
    assert all(os.path.exists(r) for r in sidecars)
    assert kept("dst") == 0
    assert sorted(tuple(r) for r in cat.read_table("dst").collect()) == [
        (2 * i, i) for i in range(100)
    ]


def test_schema_fields_read_as_nullable(spark, table):
    """As `spark.read.parquet` reads them: a required field in the given
    schema is read as nullable."""
    fs, root, table_dir = table
    files = _write(table_dir, 1)
    required = T.StructType([T.StructField("id", T.LongType(), nullable=False)])
    ours = scan_files(spark, fs, root, files, required)
    theirs = spark.read.schema(required).parquet(fs.spark_path(files[0].abs_path(root)))
    assert ours.schema == theirs.schema
    assert ours.schema["id"].nullable
