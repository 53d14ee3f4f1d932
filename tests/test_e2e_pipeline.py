"""End-to-end pipeline tests mirroring the reference's three entry
points (SURVEY.md §3): a user of the reference should be able to run
the same chains here and see mass conserved at every step.

EP1/EP2 — TNO file → ingest → remap → group → speciate → raster export
round-trip (scripts/tno_2_icon.py, tno_2_raster.py analogues).
EP3 — inventory + profiles → hourly expansion (exports/hourly.py).

The oracle throughout is the reference's own invariant:
``get_total_emissions`` compared with ``total_emissions_almost_equal``
(reference tests/test_remap_inv.py:28-31).
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.core.schemas import SPECIATION
from emiproc_spark.operators.basic import (
    get_total_emissions,
    group_categories,
    total_emissions_almost_equal,
)
from emiproc_spark.operators.regrid import remap_inventory
from emiproc_spark.operators.speciation import speciate
from emiproc_spark.operators.temporal import temporally_scaled

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tprofiles(spark):
    from emiproc_spark.core.schemas import TPROFILE

    daily = [(h + 1) / 300.0 for h in range(24)]
    return spark.createDataFrame([(0, "daily", daily)], schema=TPROFILE)


@pytest.fixture(scope="module")
def tno_path(spark):
    from emiproc_spark.queries.io import tno_fixture

    return tno_fixture(spark, SF_DIR)


@pytest.fixture(scope="module")
def ingested(spark, tno_path):
    from emiproc_spark.sources.tno import tno_area_emissions

    return tno_area_emissions(spark, tno_path).cache()


def test_ep1_ingest_remap_group_speciate_conserves(spark, ingested):
    totals0 = get_total_emissions(ingested)

    # remap onto the coarse grid (area-weight split, fine ⊂ coarse here
    # so weights are 1 → exact conservation)
    remapped = remap_inventory(
        ingested, fx.fine_grid(spark), fx.coarse_grid(spark), tile=5.0
    )
    assert total_emissions_almost_equal(totals0, get_total_emissions(remapped))

    # category regrouping (A/N/R → groups; P0/P1 absent from area srcs)
    grouped = group_categories(
        remapped, {"grp_an": ["A", "N"], "grp_r": ["R"], "pts": ["P0", "P1"]}
    )
    t_grouped = get_total_emissions(grouped)
    per_sub0 = {
        r["substance"]: r["total_kg_y"]
        for r in totals0.where(F.col("category") == "__total__").collect()
    }
    per_sub1 = {
        r["substance"]: r["total_kg_y"]
        for r in t_grouped.where(F.col("category") == "__total__").collect()
    }
    for s, v in per_sub0.items():
        assert v == pytest.approx(per_sub1[s], rel=1e-9)

    # speciate F → F1/F2 (ratios sum to 1 ⇒ per-substance mass splits,
    # total mass conserved)
    spec = spark.createDataFrame(fx.SPECIATION_ROWS, schema=SPECIATION)
    speciated = speciate(grouped, spec)
    total_before = sum(per_sub0.values())
    total_after = (
        get_total_emissions(speciated)
        .where(F.col("category") == "__total__")
        .agg(F.sum("total_kg_y"))
        .collect()[0][0]
    )
    assert total_after == pytest.approx(total_before, rel=1e-9)
    subs = {
        r["substance"]
        for r in speciated.select("substance").distinct().collect()
    }
    assert "F" not in subs and {"F1", "F2"} <= subs


def test_ep2_raster_export_roundtrip(spark, ingested):
    from emiproc_spark.queries.io import raster_grid
    from emiproc_spark.exports.netcdf import export_raster_netcdf
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    out = os.path.join(tempfile.mkdtemp(prefix="emiproc_e2e_"), "inv.nc")
    export_raster_netcdf(ingested, raster_grid(spark), out, add_totals=True)
    back = from_netcdf_rasters(spark, out)
    assert total_emissions_almost_equal(
        get_total_emissions(ingested),
        get_total_emissions(
            back.where(~F.col("category").startswith("__"))
        ),
    )


def test_ep3_hourly_expansion_conserves(spark, ingested, tprofiles):
    index = (
        ingested.select("category", "substance")
        .distinct()
        .withColumn("profile_id", F.lit(0))
    )
    hourly = temporally_scaled(
        ingested, index, tprofiles, "2024-01-01 00:00:00", 24, 8784
    )
    # full daily cycle ⇒ mean sf 1 ⇒ 24 h mass = annual / 8784 · 24
    annual = (
        get_total_emissions(ingested)
        .where(F.col("category") == "__total__")
        .agg(F.sum("total_kg_y"))
        .collect()[0][0]
    )
    day_mass = hourly.agg(F.sum("value_kg_h")).collect()[0][0]
    assert day_mass == pytest.approx(annual / 8784 * 24, rel=1e-9)
    assert hourly.select("hour_index").distinct().count() == 24


def test_ep1_point_sources_chain_conserves(spark, tno_path):
    """Shaped-source pathway: TNO point sources → boundary-halving crop
    → 1/n point remap onto the coarse grid → add into the gridded
    inventory; mass conserved at every step (reference
    remap_inventory gdfs branch, regrid.py:522-552)."""
    from emiproc_spark.functions.geometry import wkb_point
    from emiproc_spark.operators.basic import add_inventories
    from emiproc_spark.operators.regrid import (
        crop_point_sources,
        weights_poly_rect,
        weights_remap,
    )
    from emiproc_spark.sources.tno import tno_point_sources

    pts = tno_point_sources(spark, tno_path).cache()
    total0 = pts.agg(F.sum("value_kg_y")).collect()[0][0]

    # crop to a box covering everything → nothing lost, boundary rule inert
    cropped = crop_point_sources(
        pts, -200.0, -100.0, 200.0, 100.0, x_col="lon", y_col="lat"
    )
    assert cropped.agg(F.sum("value_kg_y")).collect()[0][0] == pytest.approx(
        total0, rel=1e-9
    )

    # remap points onto the coarse grid via the 1/n kernel — global
    # lon/lat folded into the grid's [0,10]² extent (off-grid offsets so
    # no point lands exactly on a cell edge; the 1/n edge rule has its
    # own tests in test_degenerate_rules.py)
    to_wkb = spark.createDataFrame(
        [
            (
                r["source_id"],
                wkb_point((r["lon"] + 180.0) % 9.9 + 0.05,
                          (r["lat"] + 90.0) % 9.9 + 0.05),
                (r["lon"] + 180.0) % 9.9 + 0.05,
                (r["lat"] + 90.0) % 9.9 + 0.05,
                r["category"], r["substance"], r["value_kg_y"],
            )
            for r in pts.collect()
        ],
        "source_id long, geometry binary, xmin double, ymin double, "
        "category string, substance string, value_kg_y double",
    ).withColumns({"xmax": F.col("xmin"), "ymax": F.col("ymin")})
    w = weights_poly_rect(
        to_wkb.select("source_id", "geometry", "xmin", "ymin", "xmax", "ymax"),
        fx.coarse_grid(spark),
        tile=5.0,
    )
    total_inside = to_wkb.agg(F.sum("value_kg_y")).collect()[0][0]
    remapped = weights_remap(
        to_wkb.select(
            F.col("source_id").alias("cell_id"), "category", "substance",
            "value_kg_y",
        ),
        w,
    )
    assert remapped.agg(F.sum("value_kg_y")).collect()[0][0] == pytest.approx(
        total_inside, rel=1e-9
    )

    # add the remapped points into the gridded inventory: per-substance
    # totals add up exactly
    from emiproc_spark.sources.tno import tno_area_emissions

    gridded = tno_area_emissions(spark, tno_path)
    combined = add_inventories(
        remap_inventory(gridded, fx.fine_grid(spark), fx.coarse_grid(spark), tile=5.0),
        remapped,
    )
    lhs = combined.agg(F.sum("value_kg_y")).collect()[0][0]
    rhs = (
        gridded.agg(F.sum("value_kg_y")).collect()[0][0] + total_inside
    )
    assert lhs == pytest.approx(rhs, rel=1e-9)


def test_ep4_icon_mesh_chain_conserves(spark, tmp_path):
    """EP4 — the reference's main ICON workflow end-to-end: inventory on
    a regular grid → remap onto a triangular ICON mesh (grid file →
    ingest → poly-poly weights) with mass conserved → regionize by
    (timezone, profile) → OEM scaling-factor files written and read
    back (scripts/tno_2_icon.py analogue over the new mesh ingest)."""
    import numpy as np

    from emiproc_spark.exports.icon import make_icon_time_profiles
    from emiproc_spark.exports.writers import regionize
    from emiproc_spark.functions.netcdf3 import read_netcdf
    from emiproc_spark.grids import regular_grid
    from emiproc_spark.operators.regrid import weights_poly_poly
    from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file

    sf_dir = "/root/testdata/sf0.001"
    e = fx.emissions(spark, sf_dir)

    # mesh covering the 10x10 fixture extent: 2x2 tiles split diagonally
    lon, lat = [], []
    for tx in range(5):
        for ty in range(5):
            x0, y0 = tx * 2.0, ty * 2.0
            lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])
            lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])
    mesh = icon_mesh_grid(
        spark,
        make_icon_grid_file(str(tmp_path / "grid.nc"), np.array(lon), np.array(lat)),
    )
    fine = regular_grid(spark, 0.0, 0.0, 10, 10, 1.0, 1.0)
    w = weights_poly_poly(
        fine.select(F.col("cell_id").alias("source_id"), "geometry",
                    "xmin", "ymin", "xmax", "ymax"),
        mesh, tile=2.0,
    )
    remapped = (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"])
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(F.sum(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )
    assert total_emissions_almost_equal(
        get_total_emissions(e), get_total_emissions(remapped), rtol=1e-9
    )

    # regionize mesh cells by (tz, profile) and write the OEM files
    cell_tz = mesh.select(
        "cell_id",
        F.when(F.col("cell_id") % 2 == 0, "UTC").otherwise("CET").alias("tzid"),
    ).distinct()
    cell_prof = mesh.select("cell_id").distinct().withColumn(
        "profile_id", F.lit(0)
    )
    regions = regionize(cell_tz, cell_prof)
    daily = [(h + 1) / 300.0 for h in range(24)]
    store = spark.createDataFrame(
        [(0, "daily", daily)], "profile_id int, ptype string, ratios array<double>"
    )
    index = (
        regions.select("region_id")
        .distinct()
        .select(
            F.lit("A").alias("category"), F.lit("F").alias("substance"),
            "region_id", F.lit("daily").alias("ptype"),
            F.lit(0).alias("profile_id"),
        )
    )
    reg_dim = (
        regions.select("region_id", "tzid")
        .distinct()
        .select(
            "region_id",
            F.col("tzid").alias("region_key"),
            F.when(F.col("tzid") == "CET", 1).otherwise(0).alias("tz_shift"),
        )
    )
    out = make_icon_time_profiles(index, store, reg_dim, str(tmp_path))
    ds = read_netcdf(out["hourofday"])
    assert ds.variables["A_F"].data.shape[0] == 24
