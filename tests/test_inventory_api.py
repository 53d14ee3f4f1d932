"""End-to-end pipeline through the fluent Inventory API — the EP1/EP2
lifecycle of the reference (scan → regroup → remap → crop → totals),
checked with the mass-conservation oracle."""

import pytest
from pyspark.sql import functions as F

from emiproc_spark import obs
from emiproc_spark.core.inventory import Inventory
from emiproc_spark.core.schemas import EMISSIONS
from emiproc_spark.grids import regular_grid
from emiproc_spark.operators.basic import total_emissions_almost_equal
from emiproc_spark.operators.regrid import crop_weights_rect
from emiproc_spark.plans.cache import cached_weights


@pytest.fixture(scope="module")
def inv(spark):
    grid = regular_grid(spark, 0.0, 0.0, 4, 4, 1.0, 1.0, with_geometry=False)
    rows = [
        (c, cat, sub, float(c + 1))
        for c in range(16)
        for cat in ("a", "b")
        for sub in ("CO2", "CH4")
    ]
    return Inventory(
        emissions=spark.createDataFrame(rows, schema=EMISSIONS), grid=grid, year=2024
    )


def test_pipeline_conserves_mass(spark, inv):
    coarse = regular_grid(spark, 0.0, 0.0, 2, 2, 2.0, 2.0, with_geometry=False)
    out = inv.group_categories({"all": ["a", "b"]}).remap(coarse, tile=2.0)
    merged_in = inv.totals().groupBy("substance").agg(F.sum("total_kg_y").alias("total_kg_y")).withColumn("category", F.lit("x"))
    merged_out = out.totals().groupBy("substance").agg(F.sum("total_kg_y").alias("total_kg_y")).withColumn("category", F.lit("x"))
    assert total_emissions_almost_equal(merged_in, merged_out)
    assert out.history == ("group_categories(['all'])", "remap")


def test_crop_then_clip(spark, inv):
    cw = crop_weights_rect(inv.grid, 0.5, 0.5, 3.5, 3.5)
    out = inv.crop(cw).clip_box(0.0, 0.0, 2.0, 2.0)
    assert out.emissions.count() > 0
    assert "crop" in out.history and "clip_box" in out.history


def test_scale_drop_add(inv):
    out = inv.scale(2.0).drop(substances=["CH4"]).add(inv.drop(substances=["CH4"]))
    t = {(r["substance"], r["category"]): r["total_kg_y"] for r in out.totals().collect()}
    base = sum(c + 1 for c in range(16))
    assert t[("CO2", "a")] == pytest.approx(3 * base)
    assert ("CH4", "a") not in t


def test_weights_cache_roundtrip(spark, tmp_path):
    from emiproc_spark.operators.regrid import weights_rect_rect

    fine = regular_grid(spark, 0.0, 0.0, 4, 4, 1.0, 1.0, with_geometry=False)
    coarse = regular_grid(spark, 0.0, 0.0, 2, 2, 2.0, 2.0, with_geometry=False)
    calls = []

    def build():
        calls.append(1)
        return weights_rect_rect(fine, coarse, tile=2.0)

    spec_a, spec_b = ("fine", 4, 4), ("coarse", 2, 2)
    w1 = cached_weights(spark, str(tmp_path), spec_a, spec_b, build)
    n1 = w1.count()
    w2 = cached_weights(spark, str(tmp_path), spec_a, spec_b, build)
    assert w2.count() == n1 == 16
    assert len(calls) == 1  # second call served from parquet


def _jobs(spark, tag, action):
    with obs.jobs(spark, tag) as js:
        out = action()
    return out, len(js)


def test_categories_and_substances_cover_gridded_and_shaped(spark, inv):
    """Derived metadata (reference inventories/__init__.py:214-242): the
    union of the gridded and the shaped part, sorted, read in the jobs
    of one distinct, as many as the gridded part alone costs."""
    from emiproc_spark.core.schemas import SHAPED
    from emiproc_spark.functions.geometry import wkb_point

    shaped = spark.createDataFrame(
        [
            ("stack", 1, wkb_point(0.5, 0.5), "CO2", 7.0, 50.0, None, None, None),
            ("a", 2, wkb_point(1.5, 0.5), "SO2", 3.0, 20.0, None, None, None),
        ],
        schema=SHAPED,
    )
    both = Inventory(emissions=inv.emissions, grid=inv.grid, shaped=shaped)

    cats, n_cats = _jobs(spark, "inv_categories", both.categories)
    subs, n_subs = _jobs(spark, "inv_substances", both.substances)
    assert cats == ["a", "b", "stack"]
    assert subs == ["CH4", "CO2", "SO2"]

    alone, n_alone = _jobs(spark, "inv_categories_gridded", inv.categories)
    assert alone == ["a", "b"]
    assert n_cats == n_subs == n_alone
