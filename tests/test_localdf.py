"""local_rows_df must be value- and schema-identical to createDataFrame
and only take the Arrow path when that is provable; collect_bounded and
distinct_rows bring rows to the driver up to a bound and no further."""

from __future__ import annotations

import datetime
import math

import pytest

from emiproc_spark import obs
from emiproc_spark.localdf import collect_bounded, distinct_rows, local_rows_df


def _canon(df):
    def key(row):
        return repr(
            tuple(
                "NaN" if isinstance(v, float) and math.isnan(v) else v
                for v in row
            )
        )

    return sorted(map(key, df.collect()))


def _assert_same(spark, rows, schema):
    a = spark.createDataFrame(rows, schema=schema)
    b = local_rows_df(spark, rows, schema)
    assert a.schema == b.schema
    assert _canon(a) == _canon(b)
    return b


def test_mixed_types_match(spark):
    rows = [
        (1, 2.5, True, b"xy", "s", [1.0, 2.0]),
        (None, None, None, None, None, None),
        (0, -0.0, False, b"", "", []),
    ]
    schema = (
        "i int, d double, b boolean, bin binary, s string, xs array<double>"
    )
    df = _assert_same(spark, rows, schema)
    # the point of the helper: a local (non-RDD) relation
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan


def test_none_in_array_and_unicode(spark):
    rows = [("é–ü", [0.5, None, 2.0]), (None, None)]
    _assert_same(spark, rows, "s string, xs array<double>")


def test_empty_rows(spark):
    _assert_same(spark, [], "a int, b string")


def test_nan_falls_back_and_matches(spark):
    rows = [(float("nan"),), (1.0,)]
    df = _assert_same(spark, rows, "x double")
    vals = [r["x"] for r in df.orderBy("x").collect()]
    assert math.isnan(vals[-1])  # NaN preserved, not nulled
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan


def test_date_falls_back_and_matches(spark):
    rows = [(datetime.date(2020, 2, 29),)]
    _assert_same(spark, rows, "d date")


def test_int_for_double_rejected_like_original(spark):
    # the classic verifier rejects int where double is declared; the
    # Arrow path must not silently widen that contract
    with pytest.raises(Exception):
        spark.createDataFrame([(0, 1)], schema="a double, b int")
    with pytest.raises(Exception):
        local_rows_df(spark, [(0, 1)], "a double, b int")


def test_struct_type_schema_object(spark):
    from emiproc_spark.core.schemas import SPECIATION

    rows = [(None, "C0", None, None, "F", "F1", 0.7)]
    _assert_same(spark, rows, SPECIATION)


def test_bad_width_raises_like_original(spark):
    with pytest.raises(Exception):
        local_rows_df(spark, [(1,)], "a int, b int").collect()


def test_collect_bounded_empty_frame(spark):
    assert collect_bounded(spark.range(0), "empty input", limit=3) == []


def test_collect_bounded_passes_exactly_limit_rows(spark):
    rows = collect_bounded(spark.range(0, 7, 1, 3), "seven rows", limit=7)
    assert sorted(r["id"] for r in rows) == list(range(7))


def test_collect_bounded_raises_over_the_limit(spark):
    with pytest.raises(ValueError, match="seven rows: more than 6 rows"):
        collect_bounded(spark.range(0, 7, 1, 3), "seven rows", limit=6)


def test_collect_bounded_keeps_plain_collect_job_count(spark):
    """A root limit over a multi-partition, shuffle-free frame would be
    taken in jobs of growing width; the bounded pull stays one job, like
    ``collect()``, and leaves the session conf as it found it."""

    def same(batches):
        yield from batches

    df = spark.range(0, 40, 1, 8).mapInPandas(same, "id long")
    conf = dict(spark.conf.getAll)
    counts = []
    for tag, pull in (
        ("plain", lambda: df.collect()),
        ("bounded", lambda: collect_bounded(df, "forty rows", limit=40)),
    ):
        with obs.jobs(spark, f"collect_bounded_{tag}") as jobs:
            assert len(pull()) == 40
        counts.append(len(jobs))
    assert counts == [1, 1]
    assert dict(spark.conf.getAll) == conf


def test_distinct_rows_deduplicates(spark):
    df = spark.createDataFrame(
        [("a", "CO2", 1.0), ("a", "CO2", 2.0), ("b", "CO2", 3.0), (None, "NOx", 4.0)],
        "category string, substance string, v double",
    )
    got = distinct_rows(df, ["category", "substance"], "pairs")
    assert sorted(map(tuple, got), key=repr) == sorted(
        [("a", "CO2"), ("b", "CO2"), (None, "NOx")], key=repr
    )
