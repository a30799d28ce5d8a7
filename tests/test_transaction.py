"""Interactive transaction tests (reference ambient transactions,
`catalog/main/impl.py:264-266`; read-your-writes + atomic seal)."""

import pytest
from pyspark.sql import types as T

from deltacat_spark.schema import Field, Schema


def test_read_your_writes_and_atomic_seal(spark, catalog):
    catalog.create_table(
        "t", schema=Schema([Field("id", T.LongType()), Field("v", T.StringType())])
    )
    catalog.write_to_table(
        spark.createDataFrame([(1, "a")], "id long, v string"), "t", mode="append"
    )
    v_before = catalog.snapshot("t").version
    with catalog.transaction() as txn:
        txn.write(
            spark.createDataFrame([(2, "b")], "id long, v string"), "t", mode="append"
        )
        txn.write(
            spark.createDataFrame([(3, "c")], "id long, v string"), "t", mode="append"
        )
        # read-your-writes: txn sees 3 rows, catalog still sees 1
        assert txn.read("t").count() == 3
        assert catalog.read_table("t").count() == 1
    # sealed: both appends landed as ONE commit
    snap = catalog.snapshot("t")
    assert catalog.read_table("t").count() == 3
    assert snap.version == v_before + 1


def test_transaction_merge_overlay(spark, catalog):
    schema = Schema(
        [Field("id", T.LongType(), merge_key=True), Field("v", T.StringType())]
    )
    catalog.create_table("m", schema=schema)
    catalog.write_to_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        "m",
        mode="merge",
    )
    with catalog.transaction() as txn:
        txn.write(
            spark.createDataFrame([(2, "B2")], "id long, v string"), "m", mode="merge"
        )
        txn.write(spark.createDataFrame([(1,)], "id long"), "m", mode="delete")
        overlay = {r.id: r.v for r in txn.read("m").collect()}
        assert overlay == {2: "B2"}
    final = {r.id: r.v for r in catalog.read_table("m").collect()}
    assert final == {2: "B2"}


def test_transaction_discard_on_error(spark, catalog):
    catalog.write_to_table(
        spark.createDataFrame([(1,)], "id long"), "t", mode="auto"
    )
    with pytest.raises(RuntimeError):
        with catalog.transaction() as txn:
            txn.write(spark.createDataFrame([(2,)], "id long"), "t", mode="append")
            raise RuntimeError("abort")
    # nothing committed
    assert catalog.read_table("t").count() == 1


def test_transaction_snapshot_pinning(spark, catalog):
    catalog.write_to_table(
        spark.createDataFrame([(1,)], "id long"), "t", mode="auto"
    )
    txn = catalog.transaction()
    assert txn.read("t").count() == 1  # pins version now
    catalog.write_to_table(
        spark.createDataFrame([(2,)], "id long"), "t", mode="append"
    )
    # pinned read unaffected by the concurrent commit
    assert txn.read("t").count() == 1
    assert catalog.read_table("t").count() == 2


# --- pause / resume (reference transaction.py:1582-1639) --------------------
def test_pause_resume_survives_new_catalog(spark, catalog, tmp_path):
    from deltacat_spark.catalog import Catalog
    from deltacat_spark.catalog.transaction import Transaction

    catalog.create_table(
        "p", schema=Schema([Field("id", T.LongType()), Field("v", T.StringType())])
    )
    catalog.write_to_table(
        spark.createDataFrame([(1, "a")], "id long, v string"), "p", mode="append"
    )
    txn = catalog.transaction()
    txn.write(
        spark.createDataFrame([(2, "b")], "id long, v string"), "p", mode="append"
    )
    txn_id = txn.pause()
    # paused: nothing visible, and the paused object refuses further ops
    assert catalog.read_table("p").count() == 1
    with pytest.raises(AssertionError):
        txn.write(spark.createDataFrame([(9, "x")], "id long, v string"), "p")
    with pytest.raises(AssertionError):
        txn.seal()

    # brand-new Catalog instance over the same root
    cat2 = Catalog(spark, catalog.root)
    resumed = Transaction.resume(cat2, txn_id)
    # resumed txn keeps read-your-writes over its restored buffer
    assert resumed.read("p").count() == 2
    resumed.write(
        spark.createDataFrame([(3, "c")], "id long, v string"), "p", mode="append"
    )
    resumed.seal()
    assert {r.id for r in cat2.read_table("p").collect()} == {1, 2, 3}
    # spill dir cleaned up after seal
    assert not cat2.fs.exists(
        cat2.fs.join(cat2.root, "_dcs_txn", "paused", txn_id)
    )


def test_pause_resume_under_glob_characters(spark, tmp_path):
    """The spill is re-read by literal path: a root such as `wh[1]` is a
    glob pattern to `spark.read.parquet`, which then finds nothing."""
    from deltacat_spark.catalog import Catalog
    from deltacat_spark.catalog.transaction import Transaction

    cat = Catalog(spark, str(tmp_path / "wh[1]"))
    cat.write_to_table(spark.createDataFrame([(1, "a")], "id long, v string"), "p")
    txn = cat.transaction()
    txn.write(
        spark.createDataFrame([(2, "b")], "id long, v string"), "p", mode="append"
    )
    txn_id = txn.pause()
    resumed = Transaction.resume(Catalog(spark, cat.root), txn_id)
    resumed.seal()
    assert sorted(map(tuple, cat.read_table("p").collect())) == [(1, "a"), (2, "b")]


def test_pause_resume_cross_table_atomic_seal(spark, catalog):
    from deltacat_spark.catalog import Catalog
    from deltacat_spark.catalog.transaction import Transaction

    catalog.write_to_table(
        spark.createDataFrame([(1,)], "a long"), "t1", mode="auto"
    )
    catalog.write_to_table(
        spark.createDataFrame([(10,)], "b long"), "t2", mode="auto"
    )
    txn = catalog.transaction()
    txn.write(spark.createDataFrame([(2,)], "a long"), "t1", mode="append")
    txn.write(spark.createDataFrame([(20,)], "b long"), "t2", mode="append")
    txn_id = txn.pause()
    assert catalog.read_table("t1").count() == 1
    assert catalog.read_table("t2").count() == 1

    cat2 = Catalog(spark, catalog.root)
    Transaction.resume(cat2, txn_id).seal()
    assert cat2.read_table("t1").count() == 2
    assert cat2.read_table("t2").count() == 2


def test_resume_unknown_txn_raises(spark, catalog):
    from deltacat_spark.catalog.transaction import Transaction

    with pytest.raises(FileNotFoundError):
        Transaction.resume(catalog, "nope")


def test_pause_preserves_snapshot_pins(spark, catalog):
    """A read pinned before pause stays pinned after resume — writes that
    land DURING the pause are invisible to the resumed txn's reads."""
    from deltacat_spark.catalog import Catalog
    from deltacat_spark.catalog.transaction import Transaction

    catalog.write_to_table(
        spark.createDataFrame([(1,)], "id long"), "s", mode="auto"
    )
    txn = catalog.transaction()
    assert txn.read("s").count() == 1  # pins version
    txn_id = txn.pause()
    # concurrent writer commits while txn is paused
    catalog.write_to_table(
        spark.createDataFrame([(2,)], "id long"), "s", mode="append"
    )
    resumed = Transaction.resume(Catalog(spark, catalog.root), txn_id)
    assert resumed.read("s").count() == 1  # still the pinned snapshot


def test_double_resume_single_seal(spark, catalog):
    """Two resumes of one paused txn: exactly one seal wins; the loser
    raises instead of double-committing the buffered ops."""
    from deltacat_spark.catalog import Catalog
    from deltacat_spark.catalog.transaction import Transaction

    catalog.write_to_table(
        spark.createDataFrame([(1,)], "id long"), "d", mode="auto"
    )
    txn = catalog.transaction()
    txn.write(spark.createDataFrame([(2,)], "id long"), "d", mode="append")
    txn_id = txn.pause()

    r1 = Transaction.resume(Catalog(spark, catalog.root), txn_id)
    r2 = Transaction.resume(Catalog(spark, catalog.root), txn_id)
    r1.seal()
    with pytest.raises(RuntimeError, match="already sealed"):
        r2.seal()
    # committed exactly once
    assert catalog.read_table("d").count() == 2
