"""Concurrency stress parity (reference
`test_default_catalog_impl.py:3600,3863` stress shapes): N writer
threads x mixed write modes against ONE table; afterwards the table
must equal a SERIAL replay of the payloads in the order their commits
actually landed. Catches livelock/rebase bugs pairwise conflict tests
can't (lost updates under rebase, partial-retry double-apply).

Every write stamps a unique op tag via ``commit_properties`` so the
committed order can be read back from the log.
"""

import threading

import pytest
from pyspark.sql import types as T

from deltacat_spark.catalog import Catalog
from deltacat_spark.schema import Field, Schema

SCHEMA = Schema(
    [
        Field("id", T.LongType(), merge_key=True),
        Field("owner", T.StringType()),
        Field("v", T.IntegerType()),
    ]
)

N_WRITERS = 8
OPS_PER_WRITER = 3


def _payloads(writer: int):
    """Deterministic mixed-mode op list for one writer. Writers share
    key space (ids 0-9) so upserts genuinely contend."""
    ops = []
    for j in range(OPS_PER_WRITER):
        if j % 3 == 2:
            # a delete touching a contended key
            ops.append(("delete", [( (writer + j) % 10 ,)]))
        else:
            ops.append(
                (
                    "merge",
                    [
                        ((writer * 7 + j * 3 + k) % 10, f"w{writer}", writer * 100 + j)
                        for k in range(3)
                    ],
                )
            )
    return ops


def _apply(catalog, spark, table, mode, rows, tag=None):
    if mode == "delete":
        df = spark.createDataFrame(rows, "id long")
    else:
        df = spark.createDataFrame(rows, "id long, owner string, v int")
    catalog.write_to_table(
        df,
        table,
        mode=mode,
        commit_properties={"stress.op": tag} if tag else None,
    )


@pytest.mark.parametrize("read_opt", ["max", "none"], ids=["cow", "mor"])
@pytest.mark.slow
def test_stress_parallel_equals_serial_replay(spark, tmp_path, read_opt):
    c = Catalog(spark, str(tmp_path / "stress"))
    c.create_table(
        "t", schema=SCHEMA, properties={"read_optimization": read_opt}
    )
    payload_by_tag = {}
    for w in range(N_WRITERS):
        for j, (mode, rows) in enumerate(_payloads(w)):
            payload_by_tag[f"w{w}.{j}"] = (mode, rows)

    errors = []

    def writer(w: int):
        try:
            for j, (mode, rows) in enumerate(_payloads(w)):
                _apply(c, spark, "t", mode, rows, tag=f"w{w}.{j}")
        except Exception as e:  # noqa: BLE001
            errors.append((w, e))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(N_WRITERS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # Committed order from the RAW log (snapshot replay may start from
    # a checkpoint and hide early commits); every op landed exactly once.
    tags = [
        (cm.properties or {}).get("stress.op")
        for cm in c._log("t", "default").replay()
        if (cm.properties or {}).get("stress.op")
    ]
    assert sorted(tags) == sorted(payload_by_tag), "each op commits once"

    # Serial replay in committed order on a fresh table.
    c2 = Catalog(spark, str(tmp_path / "serial"))
    c2.create_table(
        "t", schema=SCHEMA, properties={"read_optimization": read_opt}
    )
    for tag in tags:
        mode, rows = payload_by_tag[tag]
        _apply(c2, spark, "t", mode, rows)

    got = sorted(
        (r.id, r.owner, r.v) for r in c.read_table("t").collect()
    )
    want = sorted(
        (r.id, r.owner, r.v) for r in c2.read_table("t").collect()
    )
    assert got == want


def test_mor_delta_commits_auto_rebase(tmp_path):
    """Metadata-free MoR merge/delete deltas are pure adds whose replay
    order IS the version order — concurrent commits must rebase, never
    raise CommitConflictError."""
    from deltacat_spark.storage.commit import (
        Commit,
        CommitLog,
        DeltaType,
    )

    log = CommitLog(str(tmp_path))
    log.try_commit(Commit(version=1, operation="CREATE"))
    # Both writers computed at version 1 and race for version 2.
    a = Commit(
        version=2,
        operation="MERGE",
        delta_type=DeltaType.UPSERT,
        actions=[{"add": {"path": "a.parquet", "records": 1}}],
    )
    b = Commit(
        version=2,
        operation="DELETE",
        delta_type=DeltaType.DELETE,
        actions=[{"add": {"path": "b.parquet", "records": 1}}],
    )
    log.commit(a)
    log.commit(b)  # rebases onto version 3 instead of raising
    assert {c.version for c in log.replay()} == {1, 2, 3}
    # A metadata-carrying delta does NOT auto-rebase.
    from deltacat_spark.storage.commit import CommitConflictError

    c1 = Commit(
        version=4,
        operation="MERGE",
        delta_type=DeltaType.UPSERT,
        actions=[{"add": {"path": "c.parquet", "records": 1}}],
    )
    c2 = Commit(
        version=4,
        operation="MERGE",
        delta_type=DeltaType.UPSERT,
        schema_json='{"fields": []}',
        actions=[{"add": {"path": "d.parquet", "records": 1}}],
    )
    log.commit(c1)
    with pytest.raises(CommitConflictError):
        log.commit(c2)


def test_cow_commit_rebases_past_disjoint_writer(spark, tmp_path):
    """A CoW rewrite colliding with a DISJOINT concurrent commit must
    rebase (same actions, next version) instead of recomputing; an
    overlapping or metadata-carrying intervener forces the recompute
    path (CommitConflictError)."""
    from deltacat_spark.catalog import Catalog
    from deltacat_spark.storage.commit import (
        Commit,
        CommitConflictError,
    )

    c = Catalog(spark, str(tmp_path / "rb"))
    c.create_table("t", schema=SCHEMA)
    log = c._log("t", "default")

    # Concurrent writer landed first at version 2 with keys 100-200.
    log.commit(
        Commit(
            version=2,
            operation="MERGE",
            actions=[
                {"add": {"path": "data/x.parquet", "records": 5,
                         "stats": {"id": {"min": 100, "max": 200}}}}
            ],
        )
    )
    # Our rewrite was computed against version 1 (keys 1-4).
    ours = Commit(
        version=2,
        operation="MERGE",
        actions=[
            {"add": {"path": "data/y.parquet", "records": 4,
                     "stats": {"id": {"min": 1, "max": 4}}}}
        ],
    )
    log.commit(ours, c._cow_rebase_rule(ours, lambda: {"id": (1, 4, False)}))
    assert ours.version == 3 and log.latest_version() == 3

    # Overlapping key range -> no rebase.
    log.commit(
        Commit(
            version=4,
            operation="MERGE",
            actions=[
                {"add": {"path": "data/z.parquet", "records": 5,
                         "stats": {"id": {"min": 3, "max": 10}}}}
            ],
        )
    )
    clash = Commit(
        version=4,
        operation="MERGE",
        actions=[{"add": {"path": "data/w.parquet", "records": 1,
                          "stats": {"id": {"min": 4, "max": 4}}}}],
    )
    with pytest.raises(CommitConflictError):
        log.commit(clash, c._cow_rebase_rule(clash, lambda: {"id": (4, 4, False)}))

    # Metadata-carrying intervener -> no rebase even if stats disjoint.
    log.commit(
        Commit(
            version=5,
            operation="MERGE",
            schema_json='{"fields": []}',
            actions=[{"add": {"path": "data/m.parquet", "records": 1,
                              "stats": {"id": {"min": 900, "max": 900}}}}],
        )
    )
    meta_clash = Commit(
        version=5,
        operation="MERGE",
        actions=[{"add": {"path": "data/n.parquet", "records": 1,
                          "stats": {"id": {"min": 1, "max": 1}}}}],
    )
    with pytest.raises(CommitConflictError):
        log.commit(
            meta_clash, c._cow_rebase_rule(meta_clash, lambda: {"id": (1, 1, False)})
        )


def test_disjoint_cow_writers_all_land(spark, tmp_path):
    """End-to-end through write_to_table: concurrent CoW merges over
    DISJOINT key ranges (the case the stats rebase exists for) must all
    land with the union of their rows."""
    c = Catalog(spark, str(tmp_path / "disj"))
    c.create_table("t", schema=SCHEMA)
    errors = []

    def writer(w: int):
        try:
            for j in range(2):
                rows = [
                    (w * 100 + k, f"w{w}", j) for k in range(4)
                ]
                c.write_to_table(
                    spark.createDataFrame(
                        rows, "id long, owner string, v int"
                    ),
                    "t",
                    mode="merge",
                )
        except Exception as e:  # noqa: BLE001
            errors.append((w, e))

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(6)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    got = {(r.id, r.owner, r.v) for r in c.read_table("t").collect()}
    want = {
        (w * 100 + k, f"w{w}", 1) for w in range(6) for k in range(4)
    }
    assert got == want


def test_stats_overlap_null_semantics():
    """Direct unit coverage of `_stats_overlap`'s has_null rule
    (catalog.py `_payload_bounds`): a NULL-key payload row matches any
    NULL-key file row under `<=>`, and parquet min/max ignore nulls —
    so a has_null bound may only be pruned against a file that PROVES
    zero nulls via its footer null_count."""
    ov = Catalog._stats_overlap

    # Plain bound, disjoint ranges -> prunable regardless of nulls.
    assert ov({"id": {"min": 100, "max": 200}}, {"id": (1, 4, False)}) is False
    # Plain bound, overlapping ranges -> touched.
    assert ov({"id": {"min": 3, "max": 10}}, {"id": (1, 4, False)}) is True

    # has_null bound vs file with nulls > 0: ranges disjoint but the
    # file may hold the NULL-key row -> touched.
    assert (
        ov({"id": {"min": 100, "max": 200, "nulls": 2}}, {"id": (1, 4, True)})
        is True
    )
    # has_null bound vs file proving nulls == 0 -> range rule applies,
    # disjoint -> prunable.
    assert (
        ov({"id": {"min": 100, "max": 200, "nulls": 0}}, {"id": (1, 4, True)})
        is False
    )
    # has_null bound vs file with NO recorded null count -> conservative
    # overlap (can't prove the NULL row absent).
    assert (
        ov({"id": {"min": 100, "max": 200}}, {"id": (1, 4, True)}) is True
    )
    # has_null bound, nulls == 0 but ranges overlap -> still touched.
    assert (
        ov({"id": {"min": 2, "max": 3, "nulls": 0}}, {"id": (1, 4, True)})
        is True
    )
    # Missing / uncomparable stats -> conservative overlap.
    assert ov(None, {"id": (1, 4, False)}) is True
    assert ov({}, {"id": (1, 4, True)}) is True
    assert ov({"id": {"min": "a", "max": "b"}}, {"id": (1, 4, False)}) is True
