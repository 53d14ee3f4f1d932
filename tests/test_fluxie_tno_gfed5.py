"""Round-2 tail: fluxie export layout, TNO gridded day-of-year
profiles CSV, GFED5 NetCDF daily files."""

import numpy as np
import pytest

from emiproc_spark.exports.fluxie import export_fluxie
from emiproc_spark.functions.netcdf3 import (
    NCDataset,
    NCVariable,
    read_netcdf,
    write_netcdf,
)
from emiproc_spark.sources.gfed import gfed5_emissions
from emiproc_spark.sources.netcdf import spherical_cell_areas
from emiproc_spark.sources.tno import tno_gridded_profiles


def test_export_fluxie(spark, tmp_path):
    grid = spark.createDataFrame(
        [(x * 2 + y, float(x), float(y), 2.0) for x in range(3) for y in range(2)],
        "cell_id long, lon double, lat double, area_m2 double",
    )
    e24 = spark.createDataFrame(
        [(0, "traffic", "CH4", 10.0), (0, "heating", "CH4", 6.0),
         (5, "traffic", "CH4", 4.0), (0, "traffic", "CO2", 2.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    e25 = spark.createDataFrame(
        [(0, "traffic", "CH4", 20.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    cf = spark.createDataFrame(
        [(0, "CHE", 1.0), (5, "ITA", 0.5)],
        "cell_id long, country string, fraction double",
    )
    out = export_fluxie({2024: e24, 2025: e25}, grid, cf, str(tmp_path))
    ds = read_netcdf(f"{out}/CH4/emiproc_CH4_yearly.nc")
    flux = ds.variables["flux_total_prior"].data
    assert flux.shape == (2, 2, 3)  # (time, lat, lon)
    # cell 0 = lon 0 lat 0: (10+6)/2 area
    assert flux[0, 0, 0] == pytest.approx(8.0)
    assert flux[0, 1, 2] == pytest.approx(2.0)  # cell 5 = lon2 lat1: 4/2
    assert flux[1, 0, 0] == pytest.approx(10.0)
    cflux = ds.variables["country_flux_total_prior"].data
    assert cflux[0, 0] == pytest.approx(8.0)   # CHE × 1.0
    assert cflux[0, 1] == pytest.approx(1.0)   # ITA × 0.5 × 2.0
    assert ds.variables["flux_total_prior"].attrs["units"] == "kg m-2 yr-1"
    # CO2 written to its own file
    ds2 = read_netcdf(f"{out}/CO2/emiproc_CO2_yearly.nc")
    assert ds2.variables["flux_total_prior"].data[0, 0, 0] == pytest.approx(1.0)

    with pytest.raises(ValueError):  # monthly requires temporal profiles
        export_fluxie({2024: e24}, grid, cf, str(tmp_path), frequency="monthly")


def test_export_fluxie_monthly(spark, tmp_path):
    grid = spark.createDataFrame(
        [(0, 0.0, 0.0, 2.0), (1, 1.0, 0.0, 2.0)],
        "cell_id long, lon double, lat double, area_m2 double",
    )
    e = spark.createDataFrame(
        [(0, "traffic", "CH4", 10.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    cf = spark.createDataFrame(
        [(0, "CHE", 1.0)], "cell_id long, country string, fraction double"
    )
    # weekly profile: Thursdays carry 7x the mean, other days 0
    profiles = spark.createDataFrame(
        [(0, "weekly", [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0])],
        "profile_id int, ptype string, ratios array<double>",
    )
    index = spark.createDataFrame(
        [("traffic", "CH4", 0)],
        "category string, substance string, profile_id int",
    )
    out = export_fluxie(
        {2024: e}, grid, cf, str(tmp_path), frequency="monthly",
        tprofile_index=index, tprofiles=profiles,
    )
    ds = read_netcdf(f"{out}/CH4/emiproc_CH4_monthly.nc")
    flux = ds.variables["flux_total_prior"].data
    assert flux.shape == (366, 1, 2)  # (daily stamps of leap 2024, lat, lon)
    t = ds.variables["time"].data
    assert t[0] == (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int)
    # 2024-01-01 is a Monday; first Thursday is Jan 4 (index 3):
    # sf = ratio[3] * 7 = 7 → flux = 10/2 * 7; other days 0
    assert flux[3, 0, 0] == pytest.approx(35.0)
    assert flux[0, 0, 0] == pytest.approx(0.0)
    assert flux[4, 0, 0] == pytest.approx(0.0)
    # instantaneous kg/yr scaling: yearly mean of sf is 1 → mean flux = 5
    assert flux[:, 0, 0].mean() == pytest.approx(5.0, rel=0.01)
    cflux = ds.variables["country_flux_total_prior"].data
    assert cflux[3, 0] == pytest.approx(35.0)


def test_export_fluxie_monthly_covers_unprofiled_and_null_combos(spark, tmp_path):
    """The monthly path's dimension-side sf table must cover EVERY fact
    combo: a (category, substance) with no profile-index entry scales
    by 1.0, and a NULL-keyed combo must not be silently dropped by the
    fan-out join (eqNullSafe)."""
    grid = spark.createDataFrame(
        [(0, 0.0, 0.0, 2.0), (1, 1.0, 0.0, 2.0)],
        "cell_id long, lon double, lat double, area_m2 double",
    )
    e = spark.createDataFrame(
        [(0, "traffic", "CH4", 10.0),   # profiled (Thursday-only weekly)
         (0, "shipping", "CH4", 4.0),   # no index entry -> sf 1.0
         (1, None, "CH4", 6.0)],        # NULL category -> sf 1.0, kept
        "cell_id long, category string, substance string, value_kg_y double",
    )
    cf = spark.createDataFrame(
        [(0, "CHE", 1.0)], "cell_id long, country string, fraction double"
    )
    profiles = spark.createDataFrame(
        [(0, "weekly", [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0])],
        "profile_id int, ptype string, ratios array<double>",
    )
    index = spark.createDataFrame(
        [("traffic", "CH4", 0)],
        "category string, substance string, profile_id int",
    )
    out = export_fluxie(
        {2024: e}, grid, cf, str(tmp_path), frequency="monthly",
        tprofile_index=index, tprofiles=profiles,
    )
    flux = read_netcdf(f"{out}/CH4/emiproc_CH4_monthly.nc").variables[
        "flux_total_prior"
    ].data
    # day 0 (Monday): traffic sf 0, shipping constant 4/2
    assert flux[0, 0, 0] == pytest.approx(2.0)
    # day 3 (first Thursday): traffic 10/2*7 + shipping 2
    assert flux[3, 0, 0] == pytest.approx(37.0)
    # NULL-category cell 1 flows every day at sf 1.0
    assert flux[0, 0, 1] == pytest.approx(3.0)
    assert flux[3, 0, 1] == pytest.approx(3.0)


def test_tno_gridded_profiles(spark, tmp_path):
    lines = ["year,latitude,longitude,POLL,GNFR,day,Factor"]
    for day in range(1, 366):
        f = (day % 5) + 1
        lines.append(f"2020,45.5,7.5,CH4,A,{day},{f}")
        lines.append(f"2020,45.5,8.5,CH4,A,{day},{2 * f}")
        lines.append(f"2020,45.5,7.5,CH4,A,{day},{9 * f}")  # duplicate: first wins
        lines.append(f"2019,45.5,7.5,CH4,A,{day},999")      # other year filtered
    p = tmp_path / "profiles.csv"
    p.write_text("\n".join(lines) + "\n")

    ratios, grid = tno_gridded_profiles(spark, str(p), year=2020)
    r = ratios.toPandas()
    assert set(r["category"]) == {"A"} and set(r["substance"]) == {"CH4"}
    sums = r.groupby("cell_id")["ratio"].sum()
    assert np.allclose(sums.values, 1.0)
    # both cells share the same normalized shape here
    cell0 = r[r["cell_id"] == 0].sort_values("pos")["ratio"].to_numpy()
    raw = np.array([((d % 5) + 1) for d in range(1, 366)], dtype=float)
    assert np.allclose(cell0, raw / raw.sum())

    g = grid.toPandas().set_index("cell_id")
    assert g.loc[0, "lon"] == 7.5 and g.loc[1, "lon"] == 8.5
    assert g.loc[0, "xmin"] == 7.0 and g.loc[0, "xmax"] == 8.0


def test_gfed5(spark, tmp_path):
    lat = np.array([10.5, 11.5])
    lon = np.array([100.5, 101.5, 102.5])
    nt = 31
    rng = np.random.default_rng(9)
    ch4 = rng.uniform(0, 2, (nt, lat.size, lon.size))
    ds = NCDataset()
    ds.dims = {"time": nt, "lat": lat.size, "lon": lon.size}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(nt, dtype=np.int32))
    ds.variables["lat"] = NCVariable("lat", ("lat",), lat)
    ds.variables["lon"] = NCVariable("lon", ("lon",), lon)
    ds.variables["CH4"] = NCVariable("CH4", ("time", "lat", "lon"), ch4)
    write_netcdf(str(tmp_path / "GFED5_Beta_daily_202001.nc"), ds)

    out = gfed5_emissions(spark, str(tmp_path), substances=["CH4"]).toPandas()
    areas = spherical_cell_areas(lat, 1.0, 1.0)
    got = out.set_index("cell_id")["value_kg_y"]
    want = ch4[:, 1, 0].sum() * 1e-3 * areas[1]
    assert got[1] == pytest.approx(want, rel=1e-12)
    assert set(out["category"]) == {"gfed"}

    with pytest.raises(Exception, match="not in the dataset"):
        gfed5_emissions(spark, str(tmp_path), substances=["XX"]).collect()


def test_gfed5_netcdf4_gives_equal_rows(rows_per_writer):
    rows = rows_per_writer(test_gfed5, ["gfed5_emissions"])
    assert rows["write_netcdf4"] == rows["write_netcdf"]
    assert rows["write_netcdf"]
