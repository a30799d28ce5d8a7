"""SparkSession construction tuned for the lakehouse workload.

Scale stance: these defaults are what we would ship to a 1000-executor
cluster — AQE on (runtime coalescing, skew-join splitting), adaptive
shuffle partition sizing, Arrow enabled for the Python boundary. Local
tests simply shrink ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "deltacat-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join handling — the
        # scale-out answer to the reference's size-balanced "annotated
        # delta" planning (SURVEY §2.9, compactor_v2/utils/io.py:96-171).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        # Arrow for any Python-boundary exchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The testdata events table stores timestamp[ns]; Spark 4 refuses
        # NANOS by default — read them as int64 nanos instead.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column method and `F.col` in a call-site
        # capture for error messages: an active-session lookup, a conf
        # read, a JVM class lookup, an origin set and clear, and a failed
        # IPython import. That was over half of a CoW MERGE's Py4J round
        # trips. Pass it as `extra_conf` to get the call-site context
        # back; PySpark reads it once per process, at the first wrapped
        # call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
