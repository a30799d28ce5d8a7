"""Regressions on the write path (`Catalog._write_once`) and on the
re-add conversion RESTORE and CLONE share.

* a CoW MERGE that fails after caching its payload leaves nothing in
  Spark's cache;
* RESTORE re-adds files with their bloom sidecars, so point lookups skip
  by bloom again."""

import pytest
from pyspark.sql import types as T

from deltacat_spark.catalog import Catalog
from deltacat_spark.schema import Field, Schema, SchemaError

KEYED = Schema(
    [Field("id", T.LongType(), merge_key=True), Field("v", T.IntegerType())]
)


def _rows(cat):
    return sorted(tuple(r) for r in cat.read_table("t").collect())


def test_failed_cow_merge_unpins_its_payload(spark, tmp_path):
    """A CoW MERGE that raises after caching its payload (here: a
    `consistency="validate"` column rejects the payload's type) leaves
    Spark's cache as it found it."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table(
        "t",
        schema=Schema(
            [
                Field("id", T.LongType(), merge_key=True),
                Field("v", T.IntegerType(), consistency="validate"),
            ]
        ),
        properties={"schema_evolution": "manual"},
    )
    cat.write_to_table(
        spark.createDataFrame([(1, 0)], "id long, v int"), "t", mode="merge"
    )
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    with pytest.raises(SchemaError):
        cat.write_to_table(
            spark.createDataFrame([(1, 5)], "id long, v long"), "t", mode="merge"
        )
    assert cache.isEmpty()
    assert _rows(cat) == [(1, 0)]


def test_restore_keeps_bloom_refs(spark, tmp_path):
    """RESTORE re-adds each target file with its bloom sidecar, so a
    point lookup on a key inside a file's min/max range but absent from
    the file is skipped again."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table(
        "t",
        schema=KEYED,
        properties={"bloom_filter_columns": "id", "max_records_per_file": 25},
    )
    # Even ids only: an odd id lies inside some file's [min, max] range,
    # so stats keep that file and only its bloom can skip it.
    cat.write_to_table(
        spark.createDataFrame([(2 * i, i) for i in range(100)], "id long, v int"),
        "t",
        mode="merge",
    )
    target = cat.snapshot("t")
    assert len(target.files) >= 4
    assert all(f.bloom_ref for f in target.files)
    cat.write_to_table(
        spark.createDataFrame([(0, -1), (100, -1)], "id long, v int"),
        "t",
        mode="merge",
    )

    cat.restore_table("t", version=target.version)
    snap = cat.snapshot("t")
    assert sorted((f.path, f.bloom_ref) for f in snap.files) == sorted(
        (f.path, f.bloom_ref) for f in target.files
    )
    odd = [("id", "=", k) for k in range(1, 200, 2)]
    by_stats = sum(len(snap.prune(None, [p])) for p in odd)
    by_bloom = sum(len(snap.prune(None, [p], fs=cat.fs)) for p in odd)
    assert by_stats >= 90
    assert by_bloom < by_stats // 2
    assert _rows(cat) == [(2 * i, i) for i in range(100)]
