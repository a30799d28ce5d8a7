"""Seeded input generator for the lakehouse benchmark.

Every input is a pure function of ``(seed, row id)``: a DataFrame is a
``spark.range`` slice whose columns are ``xxhash64`` mixes of the row id
and the seed. The same seed therefore gives the same rows, the same
files and the same commit sequence, and an oracle can rebuild any past
table state from the operation schedule with plain Spark DataFrame ops.

Two synthetic tables mirror the TPC-H shapes the workloads are about:

* ``events``: append-only clickstream rows (``event_id``, ``user_id``,
  ``ts`` as ``timestamp_ntz``, ...). Appended in seed-sized slices.
* ``lineitem``: ``(l_orderkey, l_linenumber)``-keyed rows, one to seven
  lines per order. Upserts rewrite a contiguous order window with a new
  ``l_rev``; deletes remove one key in ten of a contiguous window.

Schedules (slice sizes, windows, lookup keys) are drawn from
``random.Random(seed)`` in Python, before the timed phase.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from deltacat_spark.schema import Field, Schema

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
LINEITEM_COLUMNS = [
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_shipdate",
    "l_returnflag",
    "l_comment",
    "l_rev",
]
EVENT_COLUMNS = ["event_id", "user_id", "ts", "event_type", "amount", "page"]


def _h(seed: int, salt: int, *cols: Column) -> Column:
    """Non-negative 63-bit hash of ``cols`` under ``(seed, salt)``."""
    return F.abs(F.xxhash64(*cols, F.lit(seed), F.lit(salt)))


def lineitem_schema() -> Schema:
    return Schema(
        [
            Field("l_orderkey", T.LongType(), merge_key=True),
            Field("l_linenumber", T.IntegerType(), merge_key=True),
            Field("l_partkey", T.LongType()),
            Field("l_quantity", T.DoubleType()),
            Field("l_extendedprice", T.DoubleType()),
            Field("l_discount", T.DoubleType()),
            Field("l_shipdate", T.DateType()),
            Field("l_returnflag", T.StringType()),
            Field("l_comment", T.StringType()),
            Field("l_rev", T.IntegerType()),
        ]
    )


@dataclass(frozen=True)
class Window:
    """A contiguous range of order indexes ``[lo, hi)``."""

    lo: int
    hi: int


class Lineitem:
    """Keyed order lines; order ``o`` has key ``4*o+1`` (TPC-H-style sparse
    order keys) and 1-7 lines chosen by the seed."""

    def __init__(self, spark: SparkSession, seed: int):
        self.spark = spark
        self.seed = seed

    @staticmethod
    def orderkey(order: int) -> int:
        return 4 * order + 1

    def _keys(self, w: Window, partitions: int = 1) -> DataFrame:
        o = self.spark.range(w.lo, w.hi, numPartitions=partitions).withColumnRenamed(
            "id", "o"
        )
        n_lines = (F.pmod(_h(self.seed, 1, F.col("o")), F.lit(7)) + 1).cast("int")
        return o.select(
            (F.col("o") * 4 + 1).alias("l_orderkey"),
            F.explode(F.sequence(F.lit(1), n_lines)).alias("l_linenumber"),
        )

    def rows(self, w: Window, rev: int, partitions: int = 1) -> DataFrame:
        """Every line of orders in ``w`` at revision ``rev``, in key order;
        ``partitions`` contiguous key ranges."""
        k = [F.col("l_orderkey"), F.col("l_linenumber")]
        h = _h(self.seed, 100 + rev, *k)
        return self._keys(w, partitions).select(
            "l_orderkey",
            "l_linenumber",
            F.pmod(h, F.lit(200_000)).alias("l_partkey"),
            (F.pmod(h, F.lit(50)) + 1).cast("double").alias("l_quantity"),
            (F.pmod(F.shiftright(h, 8), F.lit(10_000_000)) / 100.0).alias(
                "l_extendedprice"
            ),
            (F.pmod(F.shiftright(h, 32), F.lit(11)) / 100.0).alias("l_discount"),
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                F.pmod(F.shiftright(h, 16), F.lit(2526)).cast("int"),
            ).alias("l_shipdate"),
            F.element_at(
                F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                (F.pmod(F.shiftright(h, 40), F.lit(3)) + 1).cast("int"),
            ).alias("l_returnflag"),
            F.substring(F.sha2(h.cast("string"), 256), 1, 27).alias("l_comment"),
            F.lit(rev).cast("int").alias("l_rev"),
        )

    def delete_keys(self, w: Window, salt: int) -> DataFrame:
        """One key in ten of the orders in ``w``: a localized delete set."""
        k = [F.col("l_orderkey"), F.col("l_linenumber")]
        return self._keys(w).filter(
            F.pmod(_h(self.seed, 10_000 + salt, *k), F.lit(10)) == 0
        )


class Events:
    """Append-only events; row ``i`` is a pure function of ``(seed, i)``."""

    def __init__(self, spark: SparkSession, seed: int, n_users: int = 5_000):
        self.spark = spark
        self.seed = seed
        self.n_users = n_users

    def rows(self, lo: int, hi: int) -> DataFrame:
        """Rows ``[lo, hi)`` as one partition (one small batch, one file)."""
        h = _h(self.seed, 7, F.col("id"))
        return self.spark.range(lo, hi, numPartitions=1).select(
            F.col("id").alias("event_id"),
            F.pmod(h, F.lit(self.n_users)).alias("user_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
            .cast(T.TimestampNTZType())
            .alias("ts"),
            F.element_at(
                F.array(*[F.lit(s) for s in ("view", "click", "cart", "buy")]),
                (F.pmod(F.shiftright(h, 20), F.lit(4)) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.shiftright(h, 24), F.lit(100_000)) / 100.0).alias("amount"),
            F.concat(F.lit("/p/"), F.pmod(F.shiftright(h, 40), F.lit(997))).alias(
                "page"
            ),
        )


def append_slices(seed: int, n: int, lo: int = 500, hi: int = 1000) -> list[int]:
    """Cumulative end offsets of ``n`` append batches of ``lo..hi`` rows."""
    rng = random.Random(seed * 7919 + 1)
    ends, end = [], 0
    for _ in range(n):
        end += rng.randint(lo, hi)
        ends.append(end)
    return ends


def recent_windows(seed: int, n: int, width: int, lo: int, hi: int) -> list[Window]:
    """``n`` contiguous windows of ``width`` orders inside ``[lo, hi)``,
    favouring recent (high) order keys: the start is drawn as
    ``hi - width - (hi - lo - width) * u**2`` for uniform ``u``."""
    rng = random.Random(seed * 104_729 + lo)
    span = hi - lo - width
    out = []
    for _ in range(n):
        start = hi - width - int(span * rng.random() ** 2)
        out.append(Window(start, start + width))
    return out


def pick(seed: int, salt: int, n: int, lo: int, hi: int) -> list[int]:
    """``n`` seed-chosen integers in ``[lo, hi)``."""
    rng = random.Random(seed * 31 + salt)
    return [rng.randrange(lo, hi) for _ in range(n)]
