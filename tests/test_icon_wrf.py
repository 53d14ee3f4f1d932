"""ICON-OEM scaling-factor files and WRF-chemi hourly files, written by
the exporters and read back with the NetCDF-3 codec, pinned against the
reference layouts (exports/icon.py:430-550, exports/wrf.py:129-240)."""

import numpy as np
import pytest

from emiproc_spark.exports.icon import (
    make_icon_time_profiles,
    make_icon_vertical_profiles,
)
from emiproc_spark.exports.wrf import export_wrf_hourly_emissions, to_mole_flux
from emiproc_spark.functions.netcdf3 import read_netcdf


def _regions(spark):
    return spark.createDataFrame(
        [(0, "UTC", 0), (1, "CET", 1), (2, "EET", 2)],
        "region_id int, region_key string, tz_shift int",
    )


def _store(spark):
    daily = [(h + 1) / 300.0 for h in range(24)]
    weekly = [(d + 1) / 28.0 for d in range(7)]
    return spark.createDataFrame(
        [(0, "daily", daily), (1, "weekly", weekly)],
        "profile_id int, ptype string, ratios array<double>",
    )


def test_icon_time_profiles(spark, tmp_path):
    index = spark.createDataFrame(
        [
            ("traffic", "NOx", 0, "daily", 0),
            ("traffic", "NOx", 1, "daily", 0),
            ("traffic", "NOx", 2, "daily", 0),
            ("traffic", "NOx", 0, "weekly", 1),
            ("traffic", "NOx", 1, "weekly", 1),
            ("traffic", "NOx", 2, "weekly", 1),
        ],
        "category string, substance string, region_id int, ptype string, profile_id int",
    )
    out = make_icon_time_profiles(index, _store(spark), _regions(spark), str(tmp_path))
    assert set(out.keys()) == {"hourofday", "dayofweek"}

    ds = read_netcdf(out["hourofday"])
    assert ds.dims["hourofday"] == 24 and ds.dims["country"] == 3
    sf = ds.variables["traffic_NOx"].data
    assert sf.shape == (24, 3)
    daily_sf = np.array([(h + 1) / 300.0 * 24 for h in range(24)])
    # region 0: no shift
    assert np.allclose(sf[:, 0], daily_sf)
    # region 1 (tz_shift=1): np.roll(sf, -1) → out[i] = in[(i+1) mod 24]
    # (reference icon.py:515-518; local-morning peaks land EARLIER in UTC)
    assert np.allclose(sf[:, 1], np.roll(daily_sf, -1))
    assert np.allclose(sf[:, 2], np.roll(daily_sf, -2))
    # coords
    assert list(ds.variables["country"].data) == [0, 1, 2]
    assert list(ds.variables["timezone_of_country"].data) == [0, 1, 2]
    assert list(ds.variables["temporal_profile_id"].data) == [0, 0, 0]
    keys = [
        b"".join(row).decode().rstrip("\x00") for row in ds.variables["region_key"].data
    ]
    assert keys == ["UTC", "CET", "EET"]

    # weekly file is unshifted
    dw = read_netcdf(out["dayofweek"])
    wk = dw.variables["traffic_NOx"].data
    assert np.allclose(wk[:, 2], np.array([(d + 1) / 28.0 * 7 for d in range(7)]))


def test_icon_vertical_profiles(spark, tmp_path):
    vp = spark.createDataFrame(
        [("traffic", 20.0, 0.7), ("traffic", 100.0, 0.3),
         ("heating", 20.0, 1.0), ("heating", 100.0, 0.0)],
        "category string, height_top double, ratio double",
    )
    path = make_icon_vertical_profiles(vp, str(tmp_path))
    ds = read_netcdf(path)
    assert np.allclose(ds.variables["layer_top"].data, [20.0, 100.0])
    assert np.allclose(ds.variables["layer_bot"].data, [0.0, 20.0])
    assert np.allclose(ds.variables["layer_mid"].data, [10.0, 60.0])
    assert np.allclose(ds.variables["traffic"].data, [0.7, 0.3])
    assert np.allclose(ds.variables["heating"].data, [1.0, 0.0])


def test_wrf_hourly_files(spark, tmp_path):
    nx, ny = 3, 2
    hourly = spark.createDataFrame(
        [
            (0, "traffic", "CO", 0, 28.010),   # 1000 mol/h at cell 0
            (3, "traffic", "CO", 0, 56.020),   # cell 3 = x1,y1
            (0, "traffic", "CO", 1, 28.010),
        ],
        "cell_id long, category string, substance string, hour_index int, value_kg_h double",
    )
    grid = spark.createDataFrame(
        [(c, 2e6) for c in range(nx * ny)], "cell_id long, area_m2 double"
    )  # 2 km² cells
    flux = to_mole_flux(hourly, grid)
    paths = export_wrf_hourly_emissions(
        flux, nx, ny, "2024-01-01 00:00:00", str(tmp_path)
    )
    assert len(paths) == 2
    assert paths[0].endswith("wrfchemi_d01_2024-01-01_00:00:00")

    ds = read_netcdf(paths[0])
    v = ds.variables["E_CO_traffic"]
    assert v.dims == ("Time", "emissions_zdim", "south_north", "west_east")
    arr = v.data[0, 0]
    # kg/h ÷ mm(kg/mol) ÷ km² : 28.010 / 0.028010 / 2 = 500
    assert arr[0, 0] == pytest.approx(500.0)
    # cell 3 = x=1, y=1 → south_north 1, west_east 1
    assert arr[1, 1] == pytest.approx(1000.0)
    assert arr[1, 2] == 0.0
    times = b"".join(ds.variables["Times"].data[0]).decode()
    assert times == "2024-01-01_00:00:00"
    assert ds.attrs["unit"] == "moles/km2/h"


def test_export_inventory_profiles_composition(spark, tmp_path):
    """Named composition (reference exports/profiles.py:22-130): OEM
    time files + vertical file + tz_mask raster in one call."""
    from emiproc_spark.exports.icon import export_inventory_profiles
    from emiproc_spark.grids import regular_grid

    index = spark.createDataFrame(
        [("traffic", "NOx", "daily", 0)],
        "category string, substance string, ptype string, profile_id int",
    )
    grid = regular_grid(spark, 0.0, 0.0, 2, 2, 1.0, 1.0, with_geometry=False)
    cell_tz = spark.createDataFrame(
        [(0, "UTC"), (1, "UTC"), (2, "CET"), (3, "CET")],
        "cell_id long, tzid string",
    )
    vp = spark.createDataFrame(
        [("traffic", 20.0, 0.7), ("traffic", 100.0, 0.3)],
        "category string, height_top double, ratio double",
    )
    out = export_inventory_profiles(
        index, _store(spark), cell_tz, grid, str(tmp_path),
        vprofiles=vp, tz_shifts={"CET": 1},
    )
    assert {"hourofday", "vertical_profiles", "tz_mask"} <= set(out)
    ds = read_netcdf(out["tz_mask"])
    mask = ds.variables["tz_mask"].data
    assert mask.shape == (2, 2)
    tzs = [b"".join(r).decode().rstrip() for r in ds.variables["timezones"].data]
    assert tzs == ["CET", "UTC"]
    # cells 0,1 (x=0) are UTC → index 1; cells 2,3 (x=1) are CET → 0
    assert mask[0, 0] == 1 and mask[0, 1] == 0
    dsq = read_netcdf(out["hourofday"])
    assert dsq.dims["country"] == 2  # one region per tz


def test_export_inventory_profiles_rejects_bad_index(spark, tmp_path):
    import pytest as _pytest

    from emiproc_spark.exports.icon import export_inventory_profiles
    from emiproc_spark.grids import regular_grid

    grid = regular_grid(spark, 0.0, 0.0, 2, 2, 1.0, 1.0, with_geometry=False)
    cell_tz = spark.createDataFrame([(0, "UTC")], "cell_id long, tzid string")
    dup = spark.createDataFrame(
        [("traffic", "NOx", "daily", 0), ("traffic", "NOx", "daily", 7)],
        "category string, substance string, ptype string, profile_id int",
    )
    with _pytest.raises(ValueError, match="duplicate"):
        export_inventory_profiles(dup, _store(spark), cell_tz, grid, str(tmp_path))
    cellvar = spark.createDataFrame(
        [("traffic", "NOx", 0, "daily", 0)],
        "category string, substance string, cell_id long, ptype string, profile_id int",
    )
    with _pytest.raises(NotImplementedError, match="cell_id"):
        export_inventory_profiles(cellvar, _store(spark), cell_tz, grid, str(tmp_path))


def test_icon_export_collect_guard(spark, tmp_path):
    """collect_bounded fails loudly (no driver OOM) when an ICON
    export input is not region-sized — e.g. cell-level ids passed as
    regions."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from emiproc_spark.exports.icon import NOT_REGION_SIZED
    from emiproc_spark.localdf import collect_bounded

    big = spark.range(50).select(
        F.col("id").cast("int").alias("region_id"),
        F.concat(F.lit("tz"), F.col("id")).alias("region_key"),
        F.lit(0).alias("tz_shift"),
    )
    with _pytest.raises(ValueError, match="region-sized"):
        collect_bounded(big, "test input" + NOT_REGION_SIZED, limit=10)
    # at the limit: passes through all rows
    assert len(collect_bounded(big, "test input" + NOT_REGION_SIZED, limit=50)) == 50


def test_wrf_hourly_rejects_stale_cs_pairs(spark, tmp_path):
    """Caller-supplied cs_pairs missing a live (category, substance)
    must fail loudly in the WRF writer too (shared encode_dims path) —
    the old inner join silently dropped those flux rows."""
    nx, ny = 3, 2
    hourly = spark.createDataFrame(
        [(0, "traffic", "CO", 0, 28.010), (1, "heating", "NO", 0, 30.006)],
        "cell_id long, category string, substance string, "
        "hour_index int, value_kg_h double",
    )
    grid = spark.createDataFrame(
        [(c, 2e6) for c in range(nx * ny)], "cell_id long, area_m2 double"
    )
    flux = to_mole_flux(hourly, grid)
    with pytest.raises(Exception, match="not covered by the supplied"):
        export_wrf_hourly_emissions(
            flux, nx, ny, "2024-01-01 00:00:00", str(tmp_path),
            cs_pairs=[("traffic", "CO")],
        )
    paths = export_wrf_hourly_emissions(
        flux, nx, ny, "2024-01-01 00:00:00", str(tmp_path),
        cs_pairs=[("traffic", "CO"), ("heating", "NO")],
    )
    ds = read_netcdf(paths[0])
    assert "E_CO_traffic" in ds.variables and "E_NO_heating" in ds.variables


def test_to_mole_flux_unknown_substance_fails_loudly(spark):
    """The reference raises ValueError for a substance without a molar
    mass (utils/constants.py:22-28); the Spark path must not silently
    drop the species from the flux frame."""
    hourly = spark.createDataFrame(
        [(0, "traffic", "CO", 0, 28.010), (1, "traffic", "MYSTERY", 0, 1.0)],
        "cell_id long, category string, substance string, "
        "hour_index int, value_kg_h double",
    )
    grid = spark.createDataFrame(
        [(c, 2e6) for c in range(2)], "cell_id long, area_m2 double"
    )
    with pytest.raises(Exception, match="unknown molar mass.*MYSTERY"):
        to_mole_flux(hourly, grid).collect()
    # supplying the mass clears it
    out = to_mole_flux(
        hourly, grid, molar_masses={"CO": 28.010, "MYSTERY": 10.0}
    ).collect()
    assert len(out) == 2


def test_to_mole_flux_null_substance_named_in_error(spark):
    """A NULL substance can never match the molar-mass table; the raise
    must still NAME it — F.concat over the NULL key would nullify the
    whole message (r9 advisor)."""
    hourly = spark.createDataFrame(
        [(0, "traffic", None, 0, 1.0)],
        "cell_id long, category string, substance string, "
        "hour_index int, value_kg_h double",
    )
    grid = spark.createDataFrame(
        [(0, 2e6)], "cell_id long, area_m2 double"
    )
    with pytest.raises(Exception, match="unknown molar mass.*NULL"):
        to_mole_flux(hourly, grid).collect()


@pytest.mark.parametrize("cell", [-1, 6])
def test_wrf_rejects_cells_outside_the_raster(spark, tmp_path, cell):
    """A cell outside the nx·ny raster raises the named error: −1 must
    not wrap into the last west_east column, nor nx·ny fail as a bare
    IndexError."""
    flux = spark.createDataFrame(
        [(cell, "traffic", "CO", 0, 1.0)],
        "cell_id long, category string, substance string, hour_index int, "
        "value_mole_km2_h double",
    )
    with pytest.raises(Exception, match=r"outside the raster \[0, 6\)"):
        export_wrf_hourly_emissions(flux, 3, 2, "2024-01-01 00:00:00", str(tmp_path))


def test_wrf_sums_rows_sharing_a_cell(spark, tmp_path):
    """Two rows for one (cell, category, substance, hour) sum, as in the
    raster export, whatever their order."""
    flux = spark.createDataFrame(
        [(0, "traffic", "CO", 0, 5.0), (0, "traffic", "CO", 0, 7.0)],
        "cell_id long, category string, substance string, hour_index int, "
        "value_mole_km2_h double",
    )
    (path,) = export_wrf_hourly_emissions(
        flux, 3, 2, "2024-01-01 00:00:00", str(tmp_path)
    )
    arr = read_netcdf(path).variables["E_CO_traffic"].data[0, 0]
    assert arr[0, 0] == 12.0
    assert arr.sum() == 12.0
