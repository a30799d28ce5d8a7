"""Conflict resolution: every commit that loses its version slot either
rebases inside `CommitLog.commit` or is recomputed by the catalog's one
retry helper.

Each test serves a STALE snapshot once (a concurrent writer committed
after it was taken), so the op's first commit collides for certain."""

import pytest
from pyspark.sql import types as T

from deltacat_spark.catalog import Catalog
from deltacat_spark.plans.expr import col
from deltacat_spark.schema import Field, Schema
from deltacat_spark.storage.commit import CommitLog

PLAIN = Schema([Field("id", T.LongType()), Field("v", T.IntegerType())])
KEYED = Schema(
    [Field("id", T.LongType(), merge_key=True), Field("v", T.IntegerType())]
)


def _serve_stale_once(monkeypatch, stale):
    """The next plain ``snapshot(table, namespace)`` call returns `stale`;
    every later call resolves the log as usual."""
    orig = Catalog.snapshot
    state = {"served": False}

    def stale_once(self, table, namespace="default", *a, **kw):
        if not state["served"] and not a and not kw:
            state["served"] = True
            return stale
        return orig(self, table, namespace, *a, **kw)

    monkeypatch.setattr(Catalog, "snapshot", stale_once)
    return state


def _rows(cat):
    return sorted(tuple(r) for r in cat.read_table("t").collect())


def _truncate(cat):
    cat.truncate_table("t")
    assert _rows(cat) == []


def _alter(cat):
    cat.alter_table("t", properties={"owner": "ops"})
    assert cat.snapshot("t").properties["owner"] == "ops"
    assert _rows(cat) == [(1, 10), (2, 20), (3, 30)]


def _delete_where(cat):
    # The stale snapshot sees only id 2 match; the retry sees id 3 too.
    assert cat.delete_where("t", col("v").ge(20)) == 2
    assert _rows(cat) == [(1, 10)]


def _analyze(cat):
    assert cat.analyze_table("t", columns=["id"])["rows"] == 3


def _repartition(cat):
    cat.repartition_table_by_range("t", column="id", num_partitions=2)
    snap = cat.snapshot("t")
    last = snap.commits[-1]
    assert last.operation == "OPTIMIZE"
    # The rewrite covers the concurrent append's rows: every live file
    # is one the repartition wrote.
    assert {f.path for f in snap.files} == {a["path"] for a in last.adds}
    assert sum(a["records"] for a in last.adds) == 3
    assert _rows(cat) == [(1, 10), (2, 20), (3, 30)]


@pytest.mark.parametrize(
    "op", [_truncate, _alter, _delete_where, _analyze, _repartition]
)
def test_single_commit_op_retries_after_concurrent_append(
    spark, tmp_path, monkeypatch, op
):
    """A single-commit op planned against a snapshot that a concurrent
    APPEND has outdated recomputes from a fresh snapshot instead of
    raising CommitConflictError to the caller."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t", schema=PLAIN)
    cat.write_to_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v int"),
        "t",
        mode="append",
    )
    stale = cat.snapshot("t")
    cat.write_to_table(
        spark.createDataFrame([(3, 30)], "id long, v int"), "t", mode="append"
    )
    state = _serve_stale_once(monkeypatch, stale)
    op(cat)
    assert state["served"]


def test_cow_rebase_lists_and_reads_the_log_once(spark, tmp_path, monkeypatch):
    """A CoW MERGE that loses its slot to one key-disjoint commit rebases
    with exactly one log listing and one read of the intervening commit,
    counted from the lost slot to the end of the call."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t", schema=KEYED)
    cat.write_to_table(
        spark.createDataFrame([(i, 0) for i in range(1, 5)], "id long, v int"),
        "t",
        mode="merge",
    )
    stale = cat.snapshot("t")
    # The concurrent writer: a disjoint key range, landed first.
    cat.write_to_table(
        spark.createDataFrame([(200, 0)], "id long, v int"), "t", mode="merge"
    )
    winner = cat.snapshot("t").version

    counts = {"lost": 0, "listing": 0, "read": []}
    orig_try, orig_listing, orig_read = (
        CommitLog.try_commit,
        CommitLog.listing,
        CommitLog.read_commit,
    )

    def try_commit(self, commit):
        ok = orig_try(self, commit)
        counts["lost"] += not ok
        return ok

    def listing(self):
        counts["listing"] += counts["lost"] > 0
        return orig_listing(self)

    def read_commit(self, version):
        if counts["lost"]:
            counts["read"].append(version)
        return orig_read(self, version)

    monkeypatch.setattr(CommitLog, "try_commit", try_commit)
    monkeypatch.setattr(CommitLog, "listing", listing)
    monkeypatch.setattr(CommitLog, "read_commit", read_commit)
    _serve_stale_once(monkeypatch, stale)
    # Updates id 2, so the commit removes the file holding ids 1-4.
    cat.write_to_table(
        spark.createDataFrame([(2, 7)], "id long, v int"), "t", mode="merge"
    )
    monkeypatch.undo()

    assert counts["lost"] == 1
    assert counts["listing"] == 1
    assert counts["read"] == [winner]
    snap = cat.snapshot("t")
    assert snap.version == winner + 1  # rebased, not recomputed
    assert snap.commits[-1].removes
    assert _rows(cat) == [(1, 0), (2, 7), (3, 0), (4, 0), (200, 0)]


@pytest.mark.parametrize("mode", ["merge", "delete"])
def test_lost_cow_slot_reuses_split_bounds(spark, tmp_path, monkeypatch, mode):
    """A CoW MERGE/DELETE that loses its slot to a key-disjoint MERGE
    rebases without running the payload-bounds aggregate again."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t", schema=KEYED)
    cat.write_to_table(
        spark.createDataFrame([(i, 0) for i in range(1, 5)], "id long, v int"),
        "t",
        mode="merge",
    )
    stale = cat.snapshot("t")
    cat.write_to_table(
        spark.createDataFrame([(200, 0)], "id long, v int"), "t", mode="merge"
    )
    winner = cat.snapshot("t").version

    calls = []
    orig = Catalog._payload_bounds

    def counted(payload, cols):
        calls.append(tuple(cols))
        return orig(payload, cols)

    monkeypatch.setattr(Catalog, "_payload_bounds", staticmethod(counted))
    state = _serve_stale_once(monkeypatch, stale)
    if mode == "merge":
        payload = spark.createDataFrame([(2, 7)], "id long, v int")
        expected = [(1, 0), (2, 7), (3, 0), (4, 0), (200, 0)]
    else:
        payload = spark.createDataFrame([(2,)], "id long")
        expected = [(1, 0), (3, 0), (4, 0), (200, 0)]
    cat.write_to_table(payload, "t", mode=mode)
    monkeypatch.undo()

    assert state["served"]
    assert calls == [("id",)]
    snap = cat.snapshot("t")
    assert snap.version == winner + 1  # rebased, not recomputed
    assert snap.commits[-1].removes
    assert _rows(cat) == expected


def test_rebase_skips_aborted_transaction_slot(spark, tmp_path):
    """A slot held by an aborted catalog transaction is invisible: the
    rebase rule is never asked about it."""
    from deltacat_spark.storage.commit import Commit, CommitConflictError

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_table("t", schema=KEYED)
    log = cat._log("t", "default")
    cat._txn_markers.begin("dead")
    cat._txn_markers.abort("dead")
    log.try_commit(Commit(version=2, operation="REPLACE", pending_txn="dead"))
    asked = []

    def never(inter):
        asked.append(inter.version)
        return False

    ours = Commit(version=2, operation="MERGE")
    assert log.commit(ours, never).version == 3
    assert asked == []

    log.try_commit(Commit(version=4, operation="REPLACE"))
    with pytest.raises(CommitConflictError):
        log.commit(Commit(version=4, operation="MERGE"), never)
    assert asked == [4]
