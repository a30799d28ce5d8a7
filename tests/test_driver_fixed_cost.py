"""The driver's fixed cost per write: Py4J round trips and projections.

* `build_session` turns PySpark's per-call call-site capture off.
* `Schema.validate_and_coerce` and `Schema.read_projection` return their
  input when it already has the schema's columns exactly; otherwise they
  project as they always did.
* A CoW MERGE stays inside a fixed Py4J round-trip budget.
"""

import gc
import threading

import pytest
from pyspark.sql import functions as F, types as T

from deltacat_spark.schema import Field, Schema, SchemaError


# The projections as they were planned before the identity rule: every
# column always selected, cast and aliased.
def _always_coerce(schema: Schema, df):
    types = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name not in types:
            cols.append(F.lit(f.future_default).cast(f.data_type).alias(f.name))
        elif types[f.name] == f.data_type or f.consistency == "none":
            cols.append(F.col(f.name))
        else:
            cols.append(F.col(f.name).cast(f.data_type).alias(f.name))
    return df.select(*cols)


def _always_project(schema: Schema, df):
    present = set(df.columns)
    return df.select(
        *[
            (
                F.col(f.name).cast(f.data_type).alias(f.name)
                if f.name in present
                else F.lit(f.past_default).cast(f.data_type).alias(f.name)
            )
            for f in schema.fields
        ]
    )


def _same(got, want):
    assert got.schema == want.schema  # names, types, nullability, metadata
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


SCHEMA = Schema(
    [
        Field("id", T.LongType(), merge_key=True),
        Field("tags", T.ArrayType(T.IntegerType(), True)),
        Field("name", T.StringType(), past_default="?", future_default="n/a"),
    ]
)


# SCHEMA's columns, as a DataFrame without column metadata carries them.
PLAIN = T.StructType([T.StructField(f.name, f.data_type) for f in SCHEMA.fields])


def _df(spark, struct):
    rows = [(1, [1, None], "a"), (2, None, None)]
    names = struct.fieldNames()
    pos = {"id": 0, "tags": 1, "name": 2}
    return spark.createDataFrame([tuple(r[pos[n]] for n in names) for r in rows], struct)


def test_exact_columns_are_returned_unchanged(spark):
    df = _df(spark, PLAIN)
    assert SCHEMA.is_identity(df.schema)
    assert SCHEMA.validate_and_coerce(df) is df
    assert SCHEMA.read_projection(df) is df
    # ... and the projection they skip would have changed nothing.
    _same(df, _always_coerce(SCHEMA, df))
    _same(df, _always_project(SCHEMA, df))


@pytest.mark.parametrize(
    "ddl",
    [
        pytest.param("tags array<int>, id long, name string", id="reordered"),
        pytest.param("id int, tags array<int>, name string", id="widened"),
        pytest.param("id long, tags array<int>", id="missing-default"),
        pytest.param("id long, name string", id="missing-nullable"),
    ],
)
def test_other_columns_project_as_before(spark, ddl):
    df = _df(spark, T._parse_datatype_string(ddl))
    assert not SCHEMA.is_identity(df.schema)
    _same(SCHEMA.validate_and_coerce(df), _always_coerce(SCHEMA, df))
    _same(SCHEMA.read_projection(df), _always_project(SCHEMA, df))


def test_extra_column_is_projected_away(spark):
    df = _df(spark, PLAIN).withColumn("x", F.lit(1))
    assert not SCHEMA.is_identity(df.schema)
    assert SCHEMA.validate_and_coerce(df).columns == SCHEMA.names
    _same(SCHEMA.read_projection(df), _always_project(SCHEMA, df))


def test_nested_nullability_is_a_different_type(spark):
    tags = T.StructField("tags", T.ArrayType(T.IntegerType(), False))
    struct = T.StructType([PLAIN["id"], tags, PLAIN["name"]])
    df = spark.createDataFrame([(1, [1, 2], "a")], struct)
    assert not SCHEMA.is_identity(df.schema)
    _same(SCHEMA.validate_and_coerce(df), _always_coerce(SCHEMA, df))
    _same(SCHEMA.read_projection(df), _always_project(SCHEMA, df))
    assert SCHEMA.read_projection(df).schema["tags"].dataType.containsNull


def test_column_metadata_does_not_block_the_identity(spark):
    """A table scan's columns carry the table's field metadata."""
    df = _df(spark, PLAIN).withColumn(
        "id", F.col("id").alias("id", metadata={"dcs.merge_key": True})
    )
    assert SCHEMA.read_projection(df) is df
    assert SCHEMA.validate_and_coerce(df) is df
    projected = _always_project(SCHEMA, df)
    assert [(f.name, f.dataType) for f in projected.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert sorted(map(tuple, projected.collect())) == sorted(map(tuple, df.collect()))


def test_validate_still_raises_on_a_type_mismatch(spark):
    s = Schema(
        [Field("id", T.LongType()), Field("age", T.IntegerType(), consistency="validate")]
    )
    with pytest.raises(SchemaError, match="consistency=validate"):
        s.validate_and_coerce(spark.createDataFrame([(1, 30)], "id long, age long"))
    ok = spark.createDataFrame([(1, 30)], "id long, age int")
    assert s.validate_and_coerce(ok) is ok


# -- session defaults and the Py4J budget -------------------------------
def test_build_session_turns_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


# One CoW MERGE that touches one of two files, counted on the calling
# thread. Measured at 92 round trips; 497 with call-site capture on, and
# 227 with it off but every column re-projected and the plans built
# from Column calls.
MERGE_PY4J_BUDGET = 150


def test_cow_merge_stays_inside_py4j_budget(spark, catalog):
    from py4j.clientserver import ClientServerConnection

    catalog.create_table(
        "t",
        schema=Schema(
            [
                Field("k", T.LongType(), merge_key=True),
                Field("v", T.StringType()),
                Field("x", T.DoubleType()),
            ]
        ),
    )
    for lo in (0, 100):
        catalog.write_to_table(
            spark.range(lo, lo + 100, numPartitions=1).selectExpr("id AS k", "'a' AS v", "id / 2 AS x"),
            "t",
            mode="merge",
        )
    assert len(catalog.snapshot("t").files) == 2

    def merge(lo):
        catalog.write_to_table(
            spark.range(lo, lo + 10, numPartitions=1).selectExpr("id AS k", "'b' AS v", "0.0D AS x"),
            "t",
            mode="merge",
        )

    merge(0)  # warm: the first merge resolves per-session JVM handles
    me = threading.get_ident()
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        # Collected proxies are released by the gateway's own thread.
        if threading.get_ident() == me:
            calls.append(command)
        return send(self, command)

    gc.collect()
    gc.disable()  # a collection mid-op would add release commands
    ClientServerConnection.send_command = counting
    try:
        merge(150)
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
    assert len(calls) <= MERGE_PY4J_BUDGET, len(calls)
    rows = {r.k: r.v for r in catalog.read_table("t").collect()}
    assert len(rows) == 200
    assert [rows[k] for k in (0, 9, 10, 149, 150, 159, 160)] == list("bbaabba")
