"""Driver-side Arrow writer for small in-memory payloads
(`catalog/io.py`: `_driver_writable` + `_write_arrow`).

A payload whose rows already live in the driver (a local relation:
`local_df`, createDataFrame from pandas, INSERT ... VALUES) or come from
a one-partition range is collected once with `toArrow()` and written by
pyarrow; everything else keeps the Spark write job. The two writers
must be indistinguishable to the table format: same rows back, same
`_footer_stats` (the commit log's skipping stats), same file layout.
Each test asserts which writer produced the files from the parquet
footer's `created_by`.
"""

import glob
import json
import math
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from deltacat_spark.catalog import io
from deltacat_spark.catalog.catalog import Catalog
from deltacat_spark.localdf import local_df
from deltacat_spark.plans.expr import col
from deltacat_spark.plans.transforms import PartitionKey, SortKey
from deltacat_spark.schema import Field, Schema
from deltacat_spark.storage.bloom import probe
from deltacat_spark.storage.fs import LOCAL_FS, ArrowFS

ARROW, SPARK = "parquet-cpp", "parquet-mr"


def _writer(path: str) -> str:
    created_by = pq.read_metadata(path).created_by
    for w in (ARROW, SPARK):
        if created_by.startswith(w):
            return w
    raise AssertionError(created_by)


def _writers(root: str) -> set:
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return {_writer(f) for f in files}


def _payload(spark, dt, exprs: list[str]):
    """One-partition Range plan whose `v` column takes the SQL literal
    `exprs[i]` on row i (bounded, so it qualifies for the Arrow path
    whenever its type does)."""
    case = " ".join(f"WHEN {i} THEN {e}" for i, e in enumerate(exprs))
    return spark.range(0, len(exprs), 1, 1).select(
        F.col("id").alias("k"), F.expr(f"CASE id {case} END").cast(dt).alias("v")
    )


def _norm(v):
    # NaN != NaN; repr keeps -0.0 apart from 0.0
    return "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)


def _rows(df) -> list:
    return sorted(tuple(_norm(x) for x in r) for r in df.collect())


def _stats(adds) -> list:
    return [{k: v for k, v in a["add"].items() if k not in ("path", "bytes")} for a in adds]


LONG_A, LONG_B = "'" + "a" * 2000 + "'", "'" + "b" * 2100 + "'"

# allow-listed type -> SQL literals: nulls, extremes, empty and
# non-ASCII strings, signed zeros and infinities.
TYPE_CASES = {
    "tinyint": ("tinyint", ["-128", "127", "0", "NULL"]),
    "smallint": ("smallint", ["-32768", "32767", "NULL", "1"]),
    "int": ("int", ["-2147483648", "2147483647", "NULL", "0"]),
    "bigint": ("bigint", ["-9223372036854775808", "9223372036854775807", "NULL"]),
    "float": (
        "float",
        ["CAST('Infinity' AS FLOAT)", "CAST('-Infinity' AS FLOAT)", "-0.0", "1.5", "NULL"],
    ),
    "double": (
        "double",
        ["1.7976931348623157E308", "-1.7976931348623157E308", "4.9E-324", "-0.0", "0.0", "NULL"],
    ),
    "boolean": ("boolean", ["true", "false", "NULL"]),
    "string": ("string", ["''", "'ü日本語'", "'zz'", "NULL", "'a'"]),
    "string_long_stats": ("string", [LONG_A, LONG_B]),
    "binary": ("binary", ["X''", "X'00FFFE'", "NULL", "X'616263'"]),
    "date": ("date", ["DATE'0001-01-01'", "DATE'9999-12-31'", "NULL", "DATE'1582-10-04'"]),
    "timestamp_ntz": (
        "timestamp_ntz",
        [
            "TIMESTAMP_NTZ'0001-01-01 00:00:00'",
            "TIMESTAMP_NTZ'9999-12-31 23:59:59.999999'",
            "NULL",
            "TIMESTAMP_NTZ'1900-01-01 00:00:00.000001'",
        ],
    ),
    "all_null": ("bigint", ["NULL", "NULL"]),
}


@pytest.mark.parametrize("case", sorted(TYPE_CASES))
def test_arrow_writer_matches_spark_writer(spark, tmp_path, case):
    dt, exprs = TYPE_CASES[case]
    df = _payload(spark, dt, exprs)
    assert io._driver_writable(df, None, None)
    arrow_root, spark_root = str(tmp_path / "a"), str(tmp_path / "s")
    arrow_adds = io.write_data_files(df, arrow_root)
    assert _writers(arrow_root) == {ARROW}
    dest = os.path.join(spark_root, "data", "x")
    io._write_spark(df, dest, None, None, io.DEFAULT_MAX_RECORDS_PER_FILE, None, LOCAL_FS)
    spark_adds = io.collect_add_actions(dest, spark_root)
    assert _writers(spark_root) == {SPARK}
    assert _stats(arrow_adds) == _stats(spark_adds)
    back = spark.read.parquet(os.path.join(arrow_root, arrow_adds[0]["add"]["path"]))
    assert back.schema["v"].dataType == df.schema["v"].dataType
    assert _rows(back) == _rows(df)


@pytest.mark.parametrize("dt", ["float", "double"])
def test_nan_payload_falls_back_to_spark(spark, tmp_path, dt):
    # parquet-mr records NaN as max; pyarrow leaves it out of min/max.
    df = _payload(spark, dt, ["CAST('NaN' AS DOUBLE)", "1.0", "NULL"])
    assert io._driver_writable(df, None, None)
    adds = io.write_data_files(df, str(tmp_path))
    assert _writers(str(tmp_path)) == {SPARK}
    assert len(adds) == 1 and adds[0]["add"]["records"] == 3
    back = spark.read.parquet(os.path.join(str(tmp_path), adds[0]["add"]["path"]))
    assert _rows(back) == _rows(df)
    # a NaN max bounds nothing: no min/max recorded, so no file skipping
    assert adds[0]["add"]["stats"]["v"] == {"nulls": 1}


def test_nan_column_is_not_skipped_on_equality(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = _payload(spark, "double", ["CAST('NaN' AS DOUBLE)", "1.0", "2.0"])
    cat.write_to_table(df, "t", mode="auto")
    assert cat.read_table("t", predicate=col("v").eq(1.0)).count() == 1


def _layout(adds) -> list:
    """(task, file-in-task, records, stats) per file, in task order."""
    out = []
    for a in adds:
        m = re.search(r"part-(\d+)-.*-c(\d+)", a["add"]["path"])
        out.append((int(m[1]), int(m[2]), a["add"]["records"], a["add"]["stats"]))
    return sorted(out, key=lambda t: t[:2])


@pytest.mark.parametrize(
    "n,max_records,cached",
    [(0, 0, False), (1, 0, False), (3, 0, False), (7, 0, False), (7, 0, True)]
    + [(750, 0, False), (750, 100, False), (750, 100, True)],
)
def test_local_rows_keep_spark_task_layout(spark, tmp_path, n, max_records, cached):
    # a local relation runs as min(rows, parallelism) tasks, cached or
    # not; the Arrow writer cuts the same files with the same rows (the
    # increasing id makes each file's id range name its rows)
    rows = [(i, f"v{i % 5}") for i in range(n)]
    df = local_df(spark, rows, "id long, v string")
    if cached:
        df = df.cache()
        df.count()
    if n:  # local_df builds an empty payload from a list (an RDD scan)
        tasks = io._driver_writable(df, None, None)
        assert tasks == min(n, spark.sparkContext.defaultParallelism)
    arrow_root, spark_root = str(tmp_path / "a"), str(tmp_path / "s")
    arrow_adds = io.write_data_files(df, arrow_root, max_records_per_file=max_records)
    dest = os.path.join(spark_root, "data", "x")
    io._write_spark(df, dest, None, None, max_records, None, LOCAL_FS)
    spark_adds = io.collect_add_actions(dest, spark_root)
    assert _layout(arrow_adds) == _layout(spark_adds)
    if n:
        assert _writers(arrow_root) == {ARROW}
        assert _writers(spark_root) == {SPARK}
    else:
        assert arrow_adds == spark_adds == []


def test_insert_values_takes_arrow_path(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.create_table(
        "u", schema=Schema([Field("id", T.LongType()), Field("name", T.StringType())])
    )
    cat.sql("INSERT INTO u VALUES (1, 'ann'), (2, 'bob'), (3, NULL)")
    assert _writers(str(tmp_path / "default" / "u")) == {ARROW}
    assert sorted(tuple(r) for r in cat.read_table("u").collect()) == [
        (1, "ann"),
        (2, "bob"),
        (3, None),
    ]


def test_coalesced_local_rows_take_arrow_path(spark, tmp_path):
    one = local_df(spark, [(1, "a"), (2, None)], "id long, v string").coalesce(1)
    assert io._driver_writable(one, None, None) == 1
    io.write_data_files(one, str(tmp_path))
    assert _writers(str(tmp_path)) == {ARROW}


@pytest.mark.parametrize(
    "expr",
    [
        "timestamp_seconds(id)",
        "CAST(id AS DECIMAL(10, 2))",
        "array(id)",
        "map(id, id)",
        "named_struct('a', id)",
    ],
    ids=["timestamp", "decimal", "array", "map", "struct"],
)
def test_types_outside_allow_list_take_spark_path(spark, tmp_path, expr):
    df = spark.range(0, 10, 1, 1).select("id", F.expr(expr).alias("v"))
    assert not io._driver_writable(df, None, None)
    io.write_data_files(df, str(tmp_path))
    assert _writers(str(tmp_path)) == {SPARK}


def test_partitioned_and_sorted_tables_take_spark_path(spark, tmp_path):
    df = spark.range(0, 100, 1, 1).select("id", (F.col("id") % 3).alias("cat"))
    assert io._driver_writable(df, None, None)
    assert not io._driver_writable(df, [PartitionKey("cat")], None)
    assert not io._driver_writable(df, None, [SortKey("id")])
    cat = Catalog(spark, str(tmp_path / "cat"))
    schema = Schema.from_dataframe(df)
    cat.create_table("p", schema=schema, partition_scheme=[PartitionKey("cat")])
    cat.create_table("s", schema=schema, sort_scheme=[SortKey("id")])
    for t in ("p", "s"):
        cat.write_to_table(df, t, mode="append")
        assert _writers(str(tmp_path / "cat" / "default" / t)) == {SPARK}
        assert cat.read_table(t).count() == 100


def test_multi_partition_payload_keeps_one_file_per_task(spark, tmp_path):
    df = spark.range(0, 800, 1, 8)
    assert not io._driver_writable(df, None, None)
    cat = Catalog(spark, str(tmp_path))
    cat.write_to_table(df, "t", mode="auto")
    files = cat.snapshot("t").files
    assert len(files) == 8
    assert _writers(str(tmp_path / "default" / "t")) == {SPARK}


@pytest.mark.parametrize("shape", ["coalesce", "limit"])
def test_plan_reading_files_takes_spark_path(spark, tmp_path, shape):
    # A scan has no maxRows, so an unbounded rewrite (every MERGE/DELETE)
    # is rejected before any planning; a limit() bounds the rows but not
    # their width, and the leaf check rejects it.
    spark.range(0, 10, 1, 1).write.parquet(str(tmp_path / "in"))
    src = spark.read.parquet(str(tmp_path / "in"))
    df = src.coalesce(1) if shape == "coalesce" else src.limit(5)
    assert not io._driver_writable(df, None, None)
    io.write_data_files(df, str(tmp_path / "out"))
    assert _writers(str(tmp_path / "out")) == {SPARK}


def test_rdd_payloads_take_spark_path(spark, tmp_path):
    # createDataFrame from a list and streaming micro-batches scan an
    # RDD: size unknown, so Spark writes them
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    assert not io._driver_writable(df, None, None)
    assert not io._driver_writable(df.limit(1), None, None)
    io.write_data_files(df, str(tmp_path))
    assert _writers(str(tmp_path)) == {SPARK}


def test_large_single_partition_payload_takes_spark_path(spark):
    # size estimate (8 B x 10^8 rows) above the fixed driver bound
    assert not io._driver_writable(spark.range(0, 10**8, 1, 8).coalesce(1), None, None)


def test_gate_ignores_broadcast_threshold(spark):
    # turning broadcast joins off must not turn the writer off
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert io._driver_writable(spark.range(0, 10, 1, 1), None, None) == 1
    finally:
        spark.conf.set(key, old)


def test_max_records_per_file_slices_the_payload(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(0, 750, 1, 1).select("id", F.col("id").cast("string").alias("v"))
    cat.create_table(
        "t", schema=Schema.from_dataframe(df), properties={"max_records_per_file": 100}
    )
    cat.write_to_table(df, "t", mode="append")
    files = cat.snapshot("t").files
    assert sorted(f.records for f in files) == [50] + [100] * 7
    assert len({os.path.basename(f.path) for f in files}) == 8
    assert _writers(str(tmp_path / "default" / "t")) == {ARROW}
    assert _rows(cat.read_table("t")) == _rows(df)


def test_zero_row_payload_commits_no_add(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.write_to_table(spark.range(0, 5, 1, 1), "t", mode="auto")
    empty = spark.range(0, 10, 1, 1).filter("id < 0")
    assert io._driver_writable(empty, None, None)
    cat.write_to_table(empty, "t", mode="append")
    snap = cat.snapshot("t")
    assert snap.commits[-1].operation == "APPEND"
    assert snap.commits[-1].adds == []
    assert len(snap.files) == 1
    assert cat.read_table("t").count() == 5


def test_bloom_columns_get_sidecars(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(0, 500, 1, 1).select(
        "id", F.concat(F.lit("u"), F.col("id")).alias("val")
    )
    cat.create_table(
        "b",
        schema=Schema.from_dataframe(df),
        properties={"bloom_filter_columns": "id,val"},
    )
    cat.write_to_table(df, "b", mode="append")
    root = str(tmp_path / "default" / "b")
    assert _writers(root) == {ARROW}
    (f,) = cat.snapshot("b").files
    assert f.bloom_ref
    with open(os.path.join(root, f.bloom_ref)) as fh:
        sidecar = json.load(fh)
    assert all(probe(sidecar, "id", i) for i in range(500))
    assert all(probe(sidecar, "val", f"u{i}") for i in range(0, 500, 7))


def test_arrow_fs_roundtrip(spark, tmp_path):
    from pyarrow.fs import LocalFileSystem

    cat = Catalog(spark, str(tmp_path), fs=ArrowFS(LocalFileSystem()))
    df = spark.range(0, 300, 1, 1).select(
        "id", F.col("id").cast("string").alias("v"), (F.col("id") / 2).alias("d")
    )
    cat.write_to_table(df, "t", mode="auto")
    more = spark.range(300, 310, 1, 1).select(
        "id", F.col("id").cast("string").alias("v"), (F.col("id") / 2).alias("d")
    )
    cat.write_to_table(more, "t", mode="append")
    assert _writers(str(tmp_path / "default" / "t")) == {ARROW}
    snap = cat.snapshot("t")
    assert [f.records for f in snap.files] == [300, 10]
    assert snap.files[0].stats["id"] == {"min": 0, "max": 299, "nulls": 0}
    assert cat.read_table("t").count() == 310


def test_timestamp_merge_key_cow_merge_keeps_one_row_per_key(spark, tmp_path):
    """TimestampType stays on Spark. Written by pyarrow, its footer
    stats would be tz-aware ("...+00:00") and compare as strings against
    the naive payload bounds of the copy-by-reference split: a MERGE
    whose payload max equals a file's min would leave that file
    untouched and duplicate the key. A REPLACE of a one-partition range
    is the keyed-table write that would take the Arrow path."""
    cat = Catalog(spark, str(tmp_path))
    cat.create_table(
        "ts",
        schema=Schema(
            [Field("ts", T.TimestampType(), merge_key=True), Field("v", T.LongType())]
        ),
    )

    def batch(lo, hi, v):
        return spark.range(lo, hi, 1, 1).select(
            F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
            F.lit(v).cast("long").alias("v"),
        )

    cat.write_to_table(batch(0, 10, 1), "ts", mode="replace")
    assert _writers(str(tmp_path / "default" / "ts")) == {SPARK}
    cat.write_to_table(batch(0, 1, 2), "ts", mode="merge")
    cat.write_to_table(batch(9, 11, 2), "ts", mode="merge")
    rows = cat.read_table("ts").collect()
    got = {int(r.ts.timestamp()) - 1_700_000_000: r.v for r in rows}
    assert len(rows) == 11
    assert got == {i: 2 if i in (0, 9, 10) else 1 for i in range(11)}
