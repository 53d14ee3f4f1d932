"""End-to-end named pipelines (reference scripts/tno_2_raster.py,
tno_2_icon.py, tno_2_hourly.py, zh_2_gral.py)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark import pipelines as pl
from emiproc_spark.grids import regular_grid
from emiproc_spark.operators.basic import get_total_emissions
from emiproc_spark.sources.tno import tno_area_emissions, tno_point_sources


@pytest.fixture(scope="module")
def tno_path(spark):
    from emiproc_spark.queries.io import tno_fixture

    return tno_fixture(spark, "/root/testdata/sf0.001")


def _src_grid(spark):
    return regular_grid(spark, 0.0, 0.0, fx.FINE_NX, fx.FINE_NY, 1.0, 1.0)


def _expected_total(spark, tno_path):
    """area total + the point mass that lands inside the 10x10 grid."""
    area = tno_area_emissions(spark, tno_path).agg(F.sum("value_kg_y")).collect()[0][0]
    pts_inside = (
        tno_point_sources(spark, tno_path)
        .where(
            (F.col("lon") >= 0.0) & (F.col("lon") <= 10.0)
            & (F.col("lat") >= 0.0) & (F.col("lat") <= 10.0)
        )
        .agg(F.sum("value_kg_y"))
        .collect()[0][0]
    ) or 0.0
    return area + pts_inside


def test_tno_to_raster_conserves(spark, tno_path, tmp_path):
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    out = pl.tno_to_raster(
        spark,
        tno_path,
        _src_grid(spark),
        fx.coarse_grid(spark).withColumns(
            {
                "lon": (F.col("xmin") + F.col("xmax")) / 2,
                "lat": (F.col("ymin") + F.col("ymax")) / 2,
                "area_m2": (F.col("xmax") - F.col("xmin"))
                * (F.col("ymax") - F.col("ymin")),
            }
        ),
        str(tmp_path / "tno_raster.nc"),
    )
    back = from_netcdf_rasters(spark, out)
    got = (
        back.where(~F.col("category").startswith("__"))
        .agg(F.sum("value_kg_y"))
        .collect()[0][0]
    )
    assert got == pytest.approx(_expected_total(spark, tno_path), rel=1e-9)


def test_tno_to_icon_with_oem_profiles(spark, tno_path, tmp_path):
    from emiproc_spark.functions.netcdf3 import read_netcdf
    from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file

    # mesh covering the fixture extent: 5x5 tiles split diagonally
    lon, lat = [], []
    for tx in range(5):
        for ty in range(5):
            x0, y0 = tx * 2.0, ty * 2.0
            lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])
            lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])
    grid_file = make_icon_grid_file(
        str(tmp_path / "grid.nc"), np.array(lon), np.array(lat)
    )

    cats = ["grp_an", "grp_r", "P0", "P1"]
    index = spark.createDataFrame(
        [(c, s, "daily", 0) for c in cats for s in ("F", "O")],
        "category string, substance string, ptype string, profile_id int",
    )
    store = spark.createDataFrame(
        [(0, "daily", [(h + 1) / 300.0 for h in range(24)])],
        "profile_id int, ptype string, ratios array<double>",
    )
    mesh = icon_mesh_grid(spark, grid_file)
    cell_tz = mesh.select(
        "cell_id",
        F.when(F.col("cell_id") % 2 == 0, "UTC").otherwise("CET").alias("tzid"),
    ).distinct()

    out = pl.tno_to_icon(
        spark,
        tno_path,
        _src_grid(spark),
        grid_file,
        str(tmp_path / "oem"),
        categories_group={"grp_an": ["A", "N"], "grp_r": ["R"], "P0": ["P0"], "P1": ["P1"]},
        tprofile_index=index,
        tprofiles=store,
        cell_tz=cell_tz,
        tz_shifts={"CET": 1},
    )
    remapped = spark.read.parquet(out["emissions"])
    got = remapped.agg(F.sum("value_kg_y")).collect()[0][0]
    assert got == pytest.approx(_expected_total(spark, tno_path), rel=1e-9)
    assert set(r["category"] for r in remapped.select("category").distinct().collect()) <= set(cats)

    ds = read_netcdf(out["hourofday"])
    assert ds.variables["grp_an_F"].data.shape == (24, 2)  # 2 tz regions
    # CET column is the UTC one rolled by +1 hour
    utc_col = ds.variables["grp_an_F"].data[:, 1]
    cet_col = ds.variables["grp_an_F"].data[:, 0]
    assert np.allclose(np.roll(utc_col, -1), cet_col) or np.allclose(
        np.roll(utc_col, 1), cet_col
    )
    cell_regions = spark.read.parquet(out["cell_regions"])
    assert cell_regions.count() == 50


def test_tno_to_hourly_rates(spark, tno_path, tmp_path):
    from emiproc_spark.functions.netcdf3 import read_netcdf

    # uniform daily profile => every hourly file holds annual/8760
    store = spark.createDataFrame(
        [(0, "daily", [1.0 / 24] * 24)],
        "profile_id int, ptype string, ratios array<double>",
    )
    index = spark.createDataFrame(
        [("A", "F", 0), ("A", "O", 0)],
        "category string, substance string, profile_id int",
    )
    grid = _src_grid(spark)
    files = pl.tno_to_hourly(
        spark,
        tno_path,
        index,
        store,
        grid,
        fx.FINE_NX,
        fx.FINE_NY,
        "2024-01-02 00:00:00",
        3,
        str(tmp_path / "hourly"),
    )
    assert len(files) == 3
    annual = (
        tno_area_emissions(spark, tno_path).agg(F.sum("value_kg_y")).collect()[0][0]
    )
    ds = read_netcdf(sorted(files)[0])
    total_rate = sum(
        float(v.data.sum())
        for name, v in ds.variables.items()
        if name not in ("lon", "lat", "time", "cell_area") and not name.endswith("bnds")
    )
    assert total_rate == pytest.approx(annual / 8760, rel=1e-9)


def test_zurich_to_gral(spark, tmp_path):
    import pandas as pd

    from emiproc_spark.functions.geometry import wkb_point
    from emiproc_spark.sources.geopackage import export_to_geopackage

    pdf = pd.DataFrame(
        {
            "geometry": [wkb_point(float(i), float(i % 5)) for i in range(12)],
            "Emission_CO2": [float(i + 1) for i in range(12)],
        }
    )
    layer = spark.createDataFrame(pdf)
    gpkg = str(tmp_path / "zh.gpkg")
    export_to_geopackage({"c21_heating": layer, "c31_industry": layer}, gpkg)

    out_dir = str(tmp_path / "gral")
    groups = pl.zurich_to_gral(
        spark,
        gpkg,
        out_dir,
        categories_group={"stationary": ["c21_heating", "c31_industry"]},
    )
    assert all(cat == "stationary" for _, cat in groups)
    with open(os.path.join(out_dir, "point.dat")) as f:
        lines = [ln for ln in f.read().strip().splitlines() if ln]
    # 24 point sources (12 per layer), one line each + 2 header lines
    assert len(lines) == 26


def test_oem_gridded_emissions_file(spark, tno_path, tmp_path):
    """The OEM gridded-emissions NetCDF: kg/m2/s conversion round-trips
    to the remapped kg/y totals; cell-count mismatch raises."""
    import numpy as np

    from emiproc_spark.exports.icon import export_oem_gridded_emissions
    from emiproc_spark.functions.netcdf3 import read_netcdf
    from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file
    from emiproc_spark.sources.netcdf import SEC_PER_YR

    lon, lat = [], []
    for tx in range(5):
        for ty in range(5):
            x0, y0 = tx * 2.0, ty * 2.0
            lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])
            lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])
    grid_file = make_icon_grid_file(
        str(tmp_path / "grid.nc"), np.array(lon), np.array(lat)
    )
    out = pl.tno_to_icon(
        spark, tno_path, _src_grid(spark), grid_file, str(tmp_path / "oem2"),
    )
    assert "oem_gridded_emissions" in out
    ds = read_netcdf(out["oem_gridded_emissions"])
    assert ds.dims["cell"] == 50
    mesh = icon_mesh_grid(spark, grid_file)
    areas = {
        r["cell_id"]: r["a"]
        for r in mesh.groupBy("cell_id").agg(F.first("area_m2").alias("a")).collect()
    }
    area_vec = np.array([areas[i] for i in range(50)])
    total = 0.0
    for name, v in ds.variables.items():
        if name in ("clon", "clat", "cell_area"):
            continue
        assert v.attrs["units"] == "kg/m2/s"
        total += float((v.data * area_vec * SEC_PER_YR).sum())
    want = spark.read.parquet(out["emissions"]).agg(F.sum("value_kg_y")).collect()[0][0]
    assert total == pytest.approx(want, rel=1e-6)

    # mismatched cells raise
    bad = spark.createDataFrame(
        [(999, "A", "F", 1.0)], "cell_id long, category string, substance string, value_kg_y double"
    )
    # the slab writer validates executor-side now, so the error surfaces
    # as a PythonException wrapping the ValueError
    with pytest.raises(Exception, match="outside the mesh range"):
        export_oem_gridded_emissions(mesh, bad, str(tmp_path / "bad.nc"))


def test_oem_export_wrap_cell_area_counted_once(spark, tmp_path):
    """Review regression: an antimeridian-split mesh cell appears as two
    part rows each carrying the FULL cell area — the OEM export must not
    sum them (which would halve the cell's flux)."""
    import numpy as np

    from emiproc_spark.exports.icon import export_oem_gridded_emissions
    from emiproc_spark.functions.netcdf3 import read_netcdf
    from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file
    from emiproc_spark.sources.netcdf import SEC_PER_YR

    grid_file = make_icon_grid_file(
        str(tmp_path / "wrap.nc"),
        np.array([[179.0, -179.0, 179.0]]),
        np.array([[0.0, 0.0, 2.0]]),
    )
    mesh = icon_mesh_grid(spark, grid_file)
    assert mesh.count() == 2  # split into two part rows
    area = mesh.select("area_m2").distinct().collect()[0][0]
    e = spark.createDataFrame(
        [(0, "A", "CO2", 1000.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    out = export_oem_gridded_emissions(mesh, e, str(tmp_path / "oem.nc"))
    ds = read_netcdf(out)
    got_kg_y = float(ds.variables["A-CO2"].data[0]) * float(
        ds.variables["cell_area"].data[0]
    ) * SEC_PER_YR
    assert got_kg_y == pytest.approx(1000.0, rel=1e-9)
    assert float(ds.variables["cell_area"].data[0]) == pytest.approx(area)


def test_edgar_to_hourly_country_profiles(spark, tmp_path):
    """EDGAR v8 → auxiliary country profiles → cell blending → cell-wise
    hourly export, end-to-end; the hourly rate equals annual/8760 times
    the composite (weekly × hour-of-week-per-month) factor."""
    import numpy as np

    from emiproc_spark.queries.io import write_edgar_aux
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, read_netcdf, write_netcdf
    from emiproc_spark.sources.edgar_profiles import edgar_auxiliary_profiles

    # EDGAR file: 4x4 grid, category ENE (present in the aux tables)
    nx = ny = 4
    edgar_dir = tmp_path / "edgar"
    edgar_dir.mkdir()
    arr = np.arange(ny * nx, dtype="f8").reshape(ny, nx) + 1.0
    ds = NCDataset(
        dims={"lat": ny, "lon": nx},
        variables={
            "lon": NCVariable("lon", ("lon",), np.arange(nx) + 0.5, {}),
            "lat": NCVariable("lat", ("lat",), np.arange(ny) + 0.5, {}),
            "emissions": NCVariable(
                "emissions", ("lat", "lon"), arr,
                {"units": "Tonnes", "substance": "CO2", "long_name": "x", "year": 2024},
            ),
        },
    )
    write_netcdf(str(edgar_dir / "v8.0_FT2024_GHG_CO2_2024_ENE_emi.nc"), ds)

    aux = tmp_path / "aux"
    aux.mkdir()
    write_edgar_aux(aux)
    grid = regular_grid(spark, 0.0, 0.0, nx, ny, 1.0, 1.0, with_geometry=False)
    cell_country = grid.select(
        "cell_id", F.lit("AAA").alias("country"), F.lit(1.0).alias("fraction")
    )
    files = pl.edgar_to_hourly(
        spark, str(edgar_dir), str(aux), cell_country, grid, nx, ny,
        "2024-01-02 00:00:00", 2, str(tmp_path / "hourly"), year=2024,
        year_hours=8784,
    )
    assert len(files) == 2

    # expected composite factor for AAA/ENE at Tue 2024-01-02 00:00
    store, index = edgar_auxiliary_profiles(spark, str(aux))
    pid = {
        (r["country"], r["category"]): r["profile_id"] for r in index.collect()
    }[("AAA", "ENE")]
    parts = {r["ptype"]: r["ratios"] for r in store.collect() if r["profile_id"] == pid}
    sf0 = parts["weekly"][1] * 7 * parts["hour_of_week_per_month"][24] * 2016
    annual_kg = float(arr.sum()) * 1000.0
    out = read_netcdf(sorted(files)[0])
    total_rate = sum(
        float(v.data.sum())
        for name, v in out.variables.items()
        if name not in ("lon", "lat", "time", "cell_area") and not name.endswith("bnds")
    )
    assert total_rate == pytest.approx(annual_kg / 8784 * sf0, rel=1e-9)


def test_tno_to_raster_gate_trips_on_cropped_domain(spark, tno_path, tmp_path):
    """The default-on mass-conservation gate must refuse to write when
    the destination grid silently drops half the domain; gate_rtol=None
    is the documented opt-out for deliberate crops."""
    half = regular_grid(spark, 0.0, 0.0, 2, 4, 2.5, 2.5).withColumns(
        {
            "lon": (F.col("xmin") + F.col("xmax")) / 2,
            "lat": (F.col("ymin") + F.col("ymax")) / 2,
            "area_m2": (F.col("xmax") - F.col("xmin"))
            * (F.col("ymax") - F.col("ymin")),
        }
    )
    with pytest.raises(ValueError, match="mass_conservation"):
        pl.tno_to_raster(
            spark, tno_path, _src_grid(spark), half,
            str(tmp_path / "cropped.nc"),
        )
    out = pl.tno_to_raster(
        spark, tno_path, _src_grid(spark), half,
        str(tmp_path / "cropped.nc"), gate_rtol=None,
    )
    assert os.path.exists(out)


def test_tno_to_hourly_gate_trips_on_broken_profile(spark, tno_path, tmp_path):
    """The default-on profile-normalization gate must refuse the hour
    fan-out when a profile's ratios do not sum to 1 (silent 10%
    under-emission otherwise); gate_ticks=None is the opt-out."""
    store = spark.createDataFrame(
        [(0, "daily", [0.9 / 24] * 24)],  # sums to 0.9
        "profile_id int, ptype string, ratios array<double>",
    )
    index = spark.createDataFrame(
        [("A", "F", 0)], "category string, substance string, profile_id int"
    )
    args = (
        spark, tno_path, index, store, _src_grid(spark),
        fx.FINE_NX, fx.FINE_NY, "2024-01-02 00:00:00", 1,
        str(tmp_path / "hourly_gate"),
    )
    with pytest.raises(ValueError, match="tno_to_hourly"):
        pl.tno_to_hourly(*args)
    files = pl.tno_to_hourly(*args, gate_ticks=None)
    assert len(files) == 1


def test_tno_to_icon_gate_trips_on_broken_profile(spark, tno_path, tmp_path):
    """tno_to_icon validates a supplied profile table BEFORE writing
    any artifact — nothing lands in out_dir on violation."""
    from emiproc_spark.sources.icon_grid import make_icon_grid_file

    lon, lat = [], []
    for tx in range(5):
        for ty in range(5):
            x0, y0 = tx * 2.0, ty * 2.0
            lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])
            lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])
    grid_file = make_icon_grid_file(
        str(tmp_path / "grid.nc"), np.array(lon), np.array(lat)
    )
    broken = spark.createDataFrame(
        [(0, "daily", [1.0 / 24] * 23 + [0.5])],
        "profile_id int, ptype string, ratios array<double>",
    )
    out_dir = tmp_path / "icon_gate"
    with pytest.raises(ValueError, match="tno_to_icon"):
        pl.tno_to_icon(
            spark, tno_path, _src_grid(spark), grid_file, str(out_dir),
            tprofiles=broken,
        )
    assert not os.path.exists(out_dir)
