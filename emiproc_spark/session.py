"""SparkSession factory tuned for the engine.

Defaults chosen for scale-out behavior (they are also correct on
``local[*]``): AQE on (runtime re-planning, skew-join splitting,
partition coalescing), broadcast threshold generous enough that
dimension/mapping tables (grids, weights for small targets, speciation
tables) broadcast instead of shuffling, Arrow enabled for the pandas-UDF
geometry kernel.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "emiproc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master``/executor sizing come from spark-submit;
    everything set here is orthogonal to deployment mode.

    The Python workers get the directory holding ``emiproc_spark`` on
    their ``PYTHONPATH`` (PySpark merges it with the worker's own), so a
    script that puts the package on ``sys.path`` at run time can use
    Python UDFs from any working directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call with Python
        # call-site capture for error context: a conf.get round-trip,
        # PySparkCurrentOrigin.set/clear py4j calls and a Python stack
        # walk per call.  Measured here: a Column op costs 7.2 ms with
        # it on vs 0.6 ms off; query CONSTRUCTION (driver-side, serial
        # on any cluster) dominated several dimension-sized queries.
        # Costs only the file:line origin decoration on error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # events.parquet has shipped ``ts`` as TIMESTAMP(NANOS), which
        # Spark reads only as epoch-ns BIGINT; declared once for the
        # session so no read flips it and later reads depend on order
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set one SQL conf for the ``with`` body and restore the caller's
    value on exit, also on error; a key that was unset before is unset
    again.  Confs the engine reads at query start (shuffle partitions
    of a stream, ``noDataMicroBatches``) may be restored right after
    ``start()``.

    The conf is session-global: a concurrent query on another thread
    can observe the temporary value.  A scope that finds ``value``
    already in force sets and restores nothing, so overlapping scopes
    of one value on several threads never leave it behind."""
    prev = spark.conf.get(key, None)
    if prev == value:
        yield
        return
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
