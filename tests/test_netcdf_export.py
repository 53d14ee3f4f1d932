"""NetCDF raster export tests: file shape checks mirroring the
reference's tests/exports/test_export_rasters.py, plus a full
export→ingest round-trip through the codec."""

import numpy as np
import pytest

from emiproc_spark.exports.netcdf import (
    KG_PER_M2_PER_S,
    export_raster_netcdf,
)
from emiproc_spark.functions.netcdf3 import read_netcdf
from emiproc_spark.sources.netcdf import (
    SEC_PER_YR,
    from_netcdf_rasters,
    spherical_cell_areas,
)

LON = [10.25, 10.75, 11.25]
LAT = [45.25, 45.75]


@pytest.fixture()
def raster_inputs(spark):
    # 3x2 lon-major grid, two categories, two substances
    rows = []
    for cell in range(6):
        rows.append((cell, "traffic", "CO2", float(cell + 1)))
        rows.append((cell, "heating", "CO2", 10.0 * (cell + 1)))
        if cell % 2 == 0:
            rows.append((cell, "traffic", "NOx", 0.5 * (cell + 1)))
    emissions = spark.createDataFrame(
        rows, "cell_id long, category string, substance string, value_kg_y double"
    )
    areas = spherical_cell_areas(np.array(LAT), 0.5, 0.5)
    grid = spark.createDataFrame(
        [
            (lon_i * 2 + lat_i, LON[lon_i], LAT[lat_i], float(areas[lat_i]))
            for lon_i in range(3)
            for lat_i in range(2)
        ],
        "cell_id long, lon double, lat double, area_m2 double",
    )
    return emissions, grid


def test_export_shapes_and_attrs(tmp_path, raster_inputs):
    emissions, grid = raster_inputs
    out = export_raster_netcdf(
        emissions, grid, str(tmp_path / "inv"), year=2020,
        netcdf_attributes={"title": "test export"},
    )
    ds = read_netcdf(out)
    assert ds.dims["lon"] == 3 and ds.dims["lat"] == 2
    for name in ("CO2_traffic", "CO2_heating", "NOx_traffic"):
        v = ds.variables[name]
        assert v.dims == ("lat", "lon")
        assert v.attrs["units"] == "kg year-1 cell-1"
    # lon-major cell 3 = lon_i 1, lat_i 1
    assert ds.variables["CO2_traffic"].data[1, 1] == 4.0
    assert ds.variables["CO2_traffic"].data[0, 0] == 1.0
    # totals: all_sectors raster + scalar kg/yr
    np.testing.assert_allclose(
        ds.variables["emi_CO2_all_sectors"].data,
        ds.variables["CO2_traffic"].data + ds.variables["CO2_heating"].data,
    )
    assert ds.variables["emi_CO2_total"].data == pytest.approx(11 * 21.0)
    assert ds.variables["emi_NOx_total"].data == pytest.approx(0.5 * (1 + 3 + 5))
    # coords, bounds, cell_area, CF globals
    np.testing.assert_allclose(ds.variables["lon"].data, LON)
    np.testing.assert_allclose(
        ds.variables["lon_bnds"].data, [10.0, 10.5, 11.0, 11.5]
    )
    assert ds.variables["cell_area"].dims == ("lat", "lon")
    assert ds.attrs["Conventions"] == "CF-1.10"
    assert ds.attrs["title"] == "test export"
    assert ds.attrs["year"] == 2020
    assert ds.variables["time"].attrs["units"] == "days since 1970-01-01"


def test_export_flux_units(tmp_path, raster_inputs):
    emissions, grid = raster_inputs
    out = export_raster_netcdf(
        emissions, grid, str(tmp_path / "flux"), unit=KG_PER_M2_PER_S,
        add_totals=True,
    )
    ds = read_netcdf(out)
    areas = spherical_cell_areas(np.array(LAT), 0.5, 0.5)
    v = ds.variables["CO2_traffic"]
    assert v.attrs["units"] == "kg m-2 s-1"
    assert v.data[0, 0] == pytest.approx(1.0 / SEC_PER_YR / areas[0])
    # scalar total stays kg/yr regardless of file unit (rasters.py:281-305)
    assert ds.variables["emi_CO2_total"].data == pytest.approx(11 * 21.0)
    assert ds.variables["emi_CO2_total"].attrs["units"] == "kg yr-1"


def test_roundtrip_through_ingest(spark, tmp_path, raster_inputs):
    emissions, grid = raster_inputs
    out = export_raster_netcdf(
        emissions, grid, str(tmp_path / "rt"), add_totals=False
    )
    back = from_netcdf_rasters(spark, out).toPandas()
    orig = emissions.toPandas()
    merged = orig.merge(
        back, on=["cell_id", "category", "substance"], suffixes=("_a", "_b")
    )
    assert len(merged) == len(orig)
    np.testing.assert_allclose(merged["value_kg_y_a"], merged["value_kg_y_b"])


def test_roundtrip_grouped_categories(spark, tmp_path, raster_inputs):
    emissions, grid = raster_inputs
    out = export_raster_netcdf(
        emissions, grid, str(tmp_path / "grp"), group_categories=True,
        add_totals=False,
    )
    ds = read_netcdf(out)
    assert ds.variables["CO2"].dims == ("category", "lat", "lon")
    back = from_netcdf_rasters(spark, out).toPandas()
    orig = emissions.toPandas()
    merged = orig.merge(
        back, on=["cell_id", "category", "substance"], how="left",
        suffixes=("_a", "_b"),
    )
    np.testing.assert_allclose(merged["value_kg_y_a"], merged["value_kg_y_b"])


def test_categories_description_validation(tmp_path, raster_inputs):
    emissions, grid = raster_inputs
    with pytest.raises(ValueError, match="missing"):
        export_raster_netcdf(
            emissions, grid, str(tmp_path / "bad"),
            categories_description={"traffic": "cars"},
        )
    out = export_raster_netcdf(
        emissions, grid, str(tmp_path / "ok"),
        categories_description={"traffic": "cars", "heating": "homes"},
    )
    ds = read_netcdf(out)
    assert "categories_description" in ds.variables
    assert ds.variables["CO2_traffic"].attrs["comment"] == "cars"


def test_export_hourly_netcdf(spark, tmp_path):
    import numpy as np

    from emiproc_spark.exports.netcdf import export_hourly_netcdf
    from emiproc_spark.functions.netcdf3 import read_netcdf

    hourly = spark.createDataFrame(
        [(0, "traffic", "CO", 0, 5.0), (3, "traffic", "CO", 0, 7.0),
         (0, "traffic", "CO", 1, 2.0)],
        "cell_id long, category string, substance string, hour_index int, value_kg_h double",
    )
    grid = spark.createDataFrame(
        [(x * 2 + y, float(x), float(y), 100.0) for x in range(3) for y in range(2)],
        "cell_id long, lon double, lat double, area_m2 double",
    )
    paths = export_hourly_netcdf(
        hourly, grid, nx=3, ny=2, start="2024-01-01 00:00:00", out_dir=str(tmp_path)
    )
    assert [p.split("/")[-1] for p in paths] == ["2024010100.nc", "2024010101.nc"]
    ds = read_netcdf(paths[0])
    v = ds.variables["CO_traffic"]
    assert v.dims == ("lat", "lon", "time")
    # cell 0 = lon0 lat0; cell 3 = lon1 lat1
    assert v.data[0, 0, 0] == 5.0
    assert v.data[1, 1, 0] == 7.0
    assert ds.variables["cell_area"].data[0, 0] == 100.0
    assert v.attrs["units"] == "kg h-1"
    ds1 = read_netcdf(paths[1])
    assert ds1.variables["CO_traffic"].data[0, 0, 0] == 2.0


def test_hourly_and_raster_sum_rows_sharing_a_cell(spark, tmp_path):
    """Two rows for one (cell, category, substance, hour): the hourly
    file holds their sum, like the raster export of the same rows,
    instead of whichever row was scattered last."""
    from emiproc_spark.exports.netcdf import export_hourly_netcdf

    hourly = spark.createDataFrame(
        [(0, "traffic", "CO", 0, 5.0), (0, "traffic", "CO", 0, 7.0)],
        "cell_id long, category string, substance string, hour_index int, value_kg_h double",
    )
    grid = spark.createDataFrame(
        [(x * 2 + y, float(x), float(y), 100.0) for x in range(3) for y in range(2)],
        "cell_id long, lon double, lat double, area_m2 double",
    )
    (path,) = export_hourly_netcdf(
        hourly, grid, nx=3, ny=2, start="2024-01-01 00:00:00",
        out_dir=str(tmp_path / "hourly"),
    )
    hourly_co = read_netcdf(path).variables["CO_traffic"].data[:, :, 0]
    raster = export_raster_netcdf(
        hourly.withColumnRenamed("value_kg_h", "value_kg_y").drop("hour_index"),
        grid, str(tmp_path / "raster.nc"),
    )
    raster_co = read_netcdf(raster).variables["CO_traffic"].data
    assert hourly_co[0, 0] == raster_co[0, 0] == 12.0
    assert np.array_equal(hourly_co, raster_co)


def test_export_hourly_rejects_stale_cs_pairs(spark, tmp_path):
    """Caller-supplied cs_pairs missing a (category, substance) present
    in the hourly rows must fail LOUDLY — the old inner join against
    the code table silently dropped those rows from the export."""
    import pytest as _pytest

    from emiproc_spark.exports.netcdf import export_hourly_netcdf

    hourly = spark.createDataFrame(
        [(0, "traffic", "CO", 0, 5.0), (1, "heating", "NOx", 0, 1.0)],
        "cell_id long, category string, substance string, "
        "hour_index int, value_kg_h double",
    )
    grid = spark.createDataFrame(
        [(x * 2 + y, float(x), float(y), 100.0)
         for x in range(3) for y in range(2)],
        "cell_id long, lon double, lat double, area_m2 double",
    )
    with _pytest.raises(Exception, match="not covered by the supplied"):
        export_hourly_netcdf(
            hourly, grid, nx=3, ny=2, start="2024-01-01 00:00:00",
            out_dir=str(tmp_path), cs_pairs=[("traffic", "CO")],
        )
    # a complete pair list still exports both variables
    paths = export_hourly_netcdf(
        hourly, grid, nx=3, ny=2, start="2024-01-01 00:00:00",
        out_dir=str(tmp_path),
        cs_pairs=[("traffic", "CO"), ("heating", "NOx")],
    )
    from emiproc_spark.functions.netcdf3 import read_netcdf

    ds = read_netcdf(paths[0])
    assert "CO_traffic" in ds.variables and "NOx_heating" in ds.variables


def test_raster_export_rejects_non_lonmajor_grid(spark, tmp_path):
    """The slab scatter assumes cell_id = lon_i*nlat + lat_i with
    ascending axes; a grid numbered differently (e.g. north-to-south)
    must be rejected loudly, not silently latitude-mirrored."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from emiproc_spark.exports.netcdf import export_raster_netcdf

    nlat, nlon = 3, 4
    # lat DESCENDING in the cell index: lat = 2 - (id % nlat)
    grid = spark.range(nlat * nlon).select(
        F.col("id").alias("cell_id"),
        (F.floor(F.col("id") / nlat) * 1.0).alias("lon"),
        (F.lit(nlat - 1) - F.col("id") % nlat).cast("double").alias("lat"),
        F.lit(1.0).alias("area_m2"),
    )
    e = spark.createDataFrame(
        [(0, "A", "CO2", 1.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    # raised inside the area-slab executor task → surfaces wrapped
    with _pytest.raises(Exception, match="lon-major"):
        export_raster_netcdf(e, grid, str(tmp_path / "bad.nc"))

    # and the standalone validator (fluxie path) rejects it too
    import numpy as np

    from emiproc_spark.exports.netcdf import validate_lonmajor_grid

    lats = np.arange(nlat, dtype=float)
    lons = np.arange(nlon, dtype=float)
    with _pytest.raises(ValueError, match="lon-major"):
        validate_lonmajor_grid(grid, lats, lons)
