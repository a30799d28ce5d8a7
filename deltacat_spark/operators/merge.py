"""Merge-family operators: upsert, partial upsert, equality delete, dedupe.

These are the Spark-native equivalents of the reference's compaction merge
step (`compute/compactor_v2/steps/merge.py:138-308`), its dedupe
(`compactor_v2/utils/dedupe.py:32-70`), and its equality-delete strategy
(`compactor_v2/deletes/delete_strategy_equality_delete.py:52-210`), per
SURVEY §2.3-§2.5.

Scale stance (100 TB): every operator here is a single declarative plan —
one shuffle on the merge keys (or none when the delete/update side is
broadcastable). No driver-side collect, no Python row loops; Catalyst
keeps everything in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def sql_ident(name: str) -> str:
    """`name` as a SQL identifier: backtick-quoted, backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def dedupe_last_writer(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep one winner per merge-key group — last writer wins.

    Mirrors the reference's pk-hash dedupe (`compactor_v2/utils/dedupe.py:32`:
    group by pk-hash, keep max (stream_position, file_index, row_index))
    as a window `row_number() == 1` with the ordering descending. The
    `order_by` columns encode the reference's merge order
    (`schema.py:222-241,1018-1046`): pass e.g. ``[F.desc("stream_position"),
    F.desc("file_index")]`` for arrival order, or merge-order/event-time
    columns for field-based precedence.

    One hash-partition shuffle on `keys`; AQE splits skewed keys.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return (
        df.withColumn("__dcs_rn", F.row_number().over(w))
        .filter(F.col("__dcs_rn") == 1)
        .drop("__dcs_rn")
    )


def dedupe_last_writer_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    descending: bool = True,
) -> DataFrame:
    """Skew-immune last-writer-wins dedupe via aggregation.

    Same result as :func:`dedupe_last_writer` for an ordering on
    `order_cols` (all same direction), but expressed as
    ``max(struct(order_cols..., payload))`` — a hash aggregation with
    map-side partial combine. At 100 TB this matters: a window
    `row_number()` shuffles every row of a hot key to one task, while
    the aggregate form combines before the shuffle, so a key with 1e9
    duplicates sends O(partitions) rows, not O(1e9).
    """
    payload = [c for c in df.columns if c not in order_cols]
    ord_exprs = [F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)]
    packed = F.struct(
        *ord_exprs, F.struct(*[F.col(c) for c in payload]).alias("row")
    )
    # Ascending winner = min(struct) — NOT max over negated columns,
    # which only works for numeric order columns (a string/timestamp
    # order column would fail at analysis).
    agg_fn = F.max if descending else F.min
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(agg_fn(packed).alias("w"))
    out_cols = [F.col(k) for k in keys]
    for i, c in enumerate(order_cols):
        if c in keys:
            continue
        out_cols.append(F.col(f"w.o{i}").alias(c))
    for c in payload:
        if c in keys:
            continue
        out_cols.append(F.col(f"w.row.{c}").alias(c))
    return agg.select(*out_cols)


def upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    broadcast_updates: bool = False,
) -> DataFrame:
    """Full-row upsert: rows in `updates` replace same-key rows in `existing`.

    Reference `_merge_tables` (`steps/merge.py:138-253`): semi-join mask
    `pc.is_in` + invert + concat ≡ Spark LEFT ANTI join + unionByName.
    The anti join broadcasts when the update batch is small
    (`broadcast_updates=True`) — zero shuffle of the big side.

    NULL-safe on the keys (`<=>`): the reference digests key values, so
    a NULL key hashes to a stable bucket and `null == null` replaces —
    a plain-equality anti join would instead keep the old NULL-key row
    AND insert the new one (duplicate). `<=>` is still a hash-joinable
    equi-condition, so the physical plan is unchanged.
    """
    upd_keys = updates.select(*keys).distinct().alias("__dcs_u")
    if broadcast_updates:
        upd_keys = F.broadcast(upd_keys)
    # One parsed condition: every Column call is a Py4J round trip.
    cond = " AND ".join(
        f"__dcs_e.{k} <=> __dcs_u.{k}" for k in map(sql_ident, keys)
    )
    survivors = existing.alias("__dcs_e").join(upd_keys, F.expr(cond), "left_anti")
    if updates.columns != existing.columns:
        updates = updates.select(*existing.columns)
    return survivors.unionByName(updates)


def partial_upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Field-level upsert: matched rows take update values only for the
    columns the update batch actually carries; unmatched update rows insert.

    Reference `_merge_records_partially` (`steps/merge.py:256-308`) +
    original-field tracking (`catalog/main/impl.py:389-390`): implemented
    as a FULL OUTER join on the merge keys with per-column
    `coalesce(update, existing)`.
    """
    update_cols = [c for c in updates.columns if c not in keys]
    e = existing.alias("e")
    u = updates.alias("u")
    cond = [F.col(f"e.{k}").eqNullSafe(F.col(f"u.{k}")) for k in keys]
    out_cols: list[Column] = []
    for k in keys:
        out_cols.append(F.coalesce(F.col(f"e.{k}"), F.col(f"u.{k}")).alias(k))
    for c in existing.columns:
        if c in keys:
            continue
        if c in update_cols:
            out_cols.append(F.coalesce(F.col(f"u.{c}"), F.col(f"e.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"e.{c}").alias(c))
    # Columns new to the update batch (schema evolution) pass through.
    for c in update_cols:
        if c not in existing.columns:
            out_cols.append(F.col(f"u.{c}").alias(c))
    return e.join(u, cond, "full_outer").select(*out_cols)


def equality_delete(
    df: DataFrame,
    deletes: DataFrame,
    delete_cols: Sequence[str],
    broadcast_deletes: bool = True,
) -> DataFrame:
    """Drop rows matching the delete payload on `delete_cols`, null-safely.

    Reference `EqualityDeleteStrategy._drop_rows`
    (`delete_strategy_equality_delete.py:52-113`) casts keys to string and
    maps null → sentinel so `null == null` deletes match. Spark's
    `eqNullSafe` (`<=>`) gives the same semantics without the cast.

    Delete payloads are usually tiny vs the table → broadcast anti join
    (no shuffle of the table side).
    """
    d = deletes.select(*delete_cols).distinct()
    if broadcast_deletes:
        d = F.broadcast(d)
    cond = [df[c].eqNullSafe(d[c]) for c in delete_cols]
    return df.join(d, cond, "left_anti")


def hash_bucket(
    df: DataFrame,
    keys: Sequence[str],
    num_buckets: int,
    bucket_col: str = "__dcs_bucket",
) -> DataFrame:
    """Stable hash-bucket assignment on the merge keys.

    Reference hash-bucket shuffle (`compactor_v2/steps/hash_bucket.py:49-144`,
    `utils/primary_key_index.py:184-381`): SHA-1(concat(keys)) mod N. We
    keep a digest-stable bucket (md5 prefix mod N) so bucket membership
    is reproducible across engines and rounds — the property the
    reference relies on for copy-by-reference compaction.

    For the actual physical shuffle Spark's `repartition(n, cols)` is the
    idiomatic path; the explicit column exists for bucket-stable layouts.
    """
    concat = F.concat_ws("", *[F.col(k).cast("string") for k in keys])
    h = F.md5(concat)
    val = F.lit(0)
    for i in range(6):
        nib = F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - F.lit(1)
        val = val * F.lit(16) + nib
    return df.withColumn(bucket_col, (val % F.lit(num_buckets)).cast("int"))
