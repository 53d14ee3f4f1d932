"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``emiproc_spark.driver_queries``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from emiproc_spark.driver_queries import ORACLES, QUERIES  # noqa: E402


def _with_root(pythonpath: str | None) -> str:
    parts = pythonpath.split(os.pathsep) if pythonpath else []
    return os.pathsep.join(parts if _ROOT in parts else [_ROOT] + parts)


# Python workers import the package too.  A session created later
# launches its JVM, and so the workers, with this process's PYTHONPATH;
# a running one takes the workers' environment from its context.
os.environ["PYTHONPATH"] = _with_root(os.environ.get("PYTHONPATH"))
if SparkContext._active_spark_context is not None:
    _env = SparkContext._active_spark_context.environment
    _env["PYTHONPATH"] = _with_root(_env.get("PYTHONPATH"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the EP2-style pipeline —
    derive a gridded inventory, group categories, remap onto a coarser
    grid (tile spatial join + weighted agg), return remapped emissions."""
    from emiproc_spark import fixtures as fx
    from emiproc_spark.qhelpers import sumd
    from emiproc_spark.operators import basic as ops
    from emiproc_spark.operators import regrid as rg
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    e = fx.emissions(spark, sf_dir)
    grouped = ops.group_categories(e, fx.CATEGORY_GROUPS)
    w = rg.weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    remapped = (
        grouped.join(F.broadcast(w), grouped["cell_id"] == w["src_id"], "inner")
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )
    return remapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each query (same column names)."""
    return dict(ORACLES)
