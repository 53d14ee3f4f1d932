"""The driver/JVM boundary, both directions: driver rows into small
local DataFrames, and bounded pulls of DataFrame rows to the driver.

**Into Spark.** ``SparkSession.createDataFrame(list_of_tuples)``
parallelizes the rows into ``defaultParallelism`` pickled-RDD slices,
so *every* scan or broadcast of the (usually tiny) relation schedules a
full-width stage whose every task spins a Python worker to deserialize
its slice — on ``local[32]`` that is 32 Python round-trips per
broadcast, and on a large cluster the task count grows with the
cluster.  Routing the same rows through one pandas/Arrow batch instead
keeps the relation a single JVM-readable partition: scans become one
trivial task and broadcasts build without any Python worker.

``local_rows_df`` is a drop-in for the list-of-tuples call shape.  It
only takes the Arrow path when it can prove the conversion is
value-identical (flat tuples, atomic or array-of-atomic columns, no
NaN/datetime/Decimal payloads, Arrow enabled on the session); anything
else falls back to the classic ``createDataFrame`` untouched.

**Out of Spark.** ``collect_bounded`` is the library's one driver pull
(the query modules excepted): no input brings more than ``limit`` rows
to the driver; past the limit it raises a ``ValueError`` naming the
pull instead of exhausting driver memory.  ``distinct_rows`` is the one
key-set pull, e.g. an inventory's (category, substance) pairs.
"""

from __future__ import annotations

import math
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from emiproc_spark.session import scoped_conf

# default bound of a driver pull: dimension-sized results (key sets,
# per-group slab paths, region × cycle matrices) stay far below it; a
# cell- or row-level frame passed by mistake hits it
MAX_COLLECT_ROWS = 2_000_000
# partitions the first job of a root-limit take scans: above any count
_TAKE_WIDTH = "spark.sql.limit.initialNumPartitions"
_ALL_PARTITIONS = str(1 << 30)

# types whose Arrow round-trip is value-identical to the pickle path;
# Timestamp/Date (timezone localization) and Decimal (scale coercion)
# deliberately excluded — those call sites keep the classic path.
_SAFE_ATOMS = (
    StringType,
    IntegerType,
    LongType,
    ShortType,
    ByteType,
    DoubleType,
    FloatType,
    BooleanType,
    BinaryType,
)

# exact Python types the classic verifier accepts per Spark type
# (pyspark's _make_type_verifier matches on type(obj), so bool is NOT
# an int and int is NOT a double — mirror that strictness, otherwise
# the Arrow path would silently accept rows the classic path rejects)
_PY_TYPES = {
    StringType: (str,),
    IntegerType: (int,),
    LongType: (int,),
    ShortType: (int,),
    ByteType: (int,),
    DoubleType: (float,),
    FloatType: (float,),
    BooleanType: (bool,),
    BinaryType: (bytes, bytearray),
}


def _safe_type(dt: DataType) -> bool:
    if isinstance(dt, _SAFE_ATOMS):
        return True
    if isinstance(dt, ArrayType):
        return isinstance(dt.elementType, _SAFE_ATOMS)
    return False


def _safe_value(v: Any, dt: DataType, nullable: bool) -> bool:
    if v is None:
        return nullable
    if isinstance(dt, ArrayType):
        return isinstance(v, (list, tuple)) and all(
            _safe_value(x, dt.elementType, dt.containsNull) for x in v
        )
    if type(v) not in _PY_TYPES[type(dt)]:
        return False
    if isinstance(v, float) and math.isnan(v):
        # pandas/Arrow turns NaN into NULL; the pickle path keeps NaN
        return False
    return True


def _parse_schema(spark: SparkSession, schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema)


def local_rows_df(
    spark: SparkSession,
    rows: Iterable[Sequence[Any]],
    schema: str | StructType,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` minus the pickled-RDD scan."""
    if hasattr(rows, "iloc") or hasattr(rows, "mapPartitions"):
        # pandas DataFrame / RDD input: not a literal row list
        return spark.createDataFrame(rows, schema=schema)
    rows = rows if isinstance(rows, list) else list(rows)
    try:
        if (
            spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
            != "true"
        ):
            raise ValueError("arrow disabled")
        st = _parse_schema(spark, schema)
        n = len(st.fields)
        if not all(_safe_type(f.dataType) for f in st.fields):
            raise ValueError("unsafe column type")
        for r in rows:
            if not (
                isinstance(r, (list, tuple))
                and not hasattr(r, "_fields")  # namedtuple
                and not hasattr(r, "__fields__")  # pyspark Row
            ):
                raise ValueError("non-tuple row")
            if len(r) != n or not all(
                _safe_value(v, f.dataType, f.nullable)
                for v, f in zip(r, st.fields)
            ):
                raise ValueError("unsafe value")
    except ValueError:
        return spark.createDataFrame(rows, schema=schema)

    import pandas as pd

    # object dtype end-to-end: None stays None (never coerced to NaN),
    # ints never widen to float64, lists survive as Python lists
    pdf = pd.DataFrame(
        {
            f.name: pd.Series([r[i] for r in rows], dtype=object)
            for i, f in enumerate(st.fields)
        },
        columns=st.names,
    )
    return spark.createDataFrame(pdf, schema=st)


def collect_bounded(df: DataFrame, what: str, limit: int = MAX_COLLECT_ROWS) -> list[Row]:
    """``df.collect()`` that brings at most ``limit`` rows to the driver
    and raises a ``ValueError`` naming ``what`` when ``df`` has more.

    Runs ``df.limit(limit + 1).collect()``.  A root limit is taken
    partition by partition in jobs of growing width (1, 4, 20, ...
    partitions); ``spark.sql.limit.initialNumPartitions`` is raised for
    the call so the first job scans every partition, which keeps the
    job count and the parallelism of a plain ``collect()``."""
    with scoped_conf(df.sparkSession, _TAKE_WIDTH, _ALL_PARTITIONS):
        rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(f"{what}: more than {limit} rows would be collected to the driver")
    return rows


def distinct_rows(df: DataFrame, cols: Sequence[str], what: str) -> list[Row]:
    """The distinct ``cols`` rows of ``df`` (nulls kept, unordered),
    pulled through :func:`collect_bounded`."""
    return collect_bounded(df.select(*cols).distinct(), what)
