"""Format-specific reader semantics pinned against hand-built NetCDF-3
fixtures: EDGAR v8/legacy, GFAS, CAMS-REG-AQ, Saunois, WetCHARTs,
LPJ-GUESS (reference emiproc/inventories/*)."""

import numpy as np
import pytest

from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
from emiproc_spark.sources.formats import (
    DAYS_IN_MONTH,
    cams_reg_aq,
    edgar_legacy,
    edgar_v8,
    gfas_emissions,
    gfas_temporal_ratios,
    lpj_guess,
    saunois_emissions,
    saunois_temporal_ratios,
    wetcharts,
)
from emiproc_spark.sources.netcdf import (
    DAY_PER_YR,
    SEC_PER_YR,
    spherical_cell_areas,
)

LON = np.array([10.25, 10.75])
LAT = np.array([45.25, 45.75, 46.25])
AREAS = spherical_cell_areas(LAT, 0.5, 0.5)


def _base_ds(lon=LON, lat=LAT, lon_name="lon", lat_name="lat"):
    ds = NCDataset()
    ds.dims = {lat_name: lat.size, lon_name: lon.size}
    ds.variables[lon_name] = NCVariable(lon_name, (lon_name,), lon)
    ds.variables[lat_name] = NCVariable(lat_name, (lat_name,), lat)
    return ds


def test_edgar_v8(spark, tmp_path):
    rng = np.random.default_rng(1)
    a1 = np.round(rng.uniform(0, 5, (LAT.size, LON.size)), 3)
    a2 = np.round(rng.uniform(0, 5, (LAT.size, LON.size)), 3)

    def write(name, arr, sub, cat, year):
        ds = _base_ds()
        ds.variables["emissions"] = NCVariable(
            "emissions",
            ("lat", "lon"),
            arr,
            {"units": "Tonnes", "substance": sub, "long_name": cat, "year": year},
        )
        write_netcdf(str(tmp_path / name), ds)

    write("v8.0_FT2022_GHG_CO2_2022_ENE_emi.nc", a1, "CO2", "Energy", 2022)
    write("v8.0_FT2022_GHG_CH4_2022_TRO_emi.nc", a2, "CH4", "Transport", 2022)
    write("v8.0_FT2022_GHG_CH4_2021_TRO_emi.nc", a2 * 9, "CH4", "Transport", 2021)
    # a file without 'emissions' is skipped, not fatal
    ds = _base_ds()
    ds.variables["other"] = NCVariable("other", ("lat", "lon"), a1, {"units": "x"})
    write_netcdf(str(tmp_path / "stray.nc"), ds)

    out = edgar_v8(spark, str(tmp_path), year=2022).toPandas()
    assert set(zip(out["category"], out["substance"])) == {
        ("Energy", "CO2"), ("Transport", "CH4"),
    }
    row = out[(out["category"] == "Energy") & (out["cell_id"] == 0)]
    assert row["value_kg_y"].iloc[0] == pytest.approx(a1[0, 0] * 1e3)
    # lon-major: cell 3 = lon_i=1, lat_i=0
    row = out[(out["category"] == "Transport") & (out["cell_id"] == LAT.size)]
    assert row["value_kg_y"].iloc[0] == pytest.approx(a2[0, 1] * 1e3)

    short = edgar_v8(spark, str(tmp_path), year=2022, use_short_category_names=True)
    cats = {r["category"] for r in short.select("category").distinct().collect()}
    assert cats == {"ENE", "TRO"}


def test_edgar_legacy_lon_wrap(spark, tmp_path):
    lon360 = np.array([0.0, 90.0, 180.0, 270.0])
    flux = np.arange(LAT.size * 4, dtype=np.float64).reshape(LAT.size, 4) + 1.0
    ds = _base_ds(lon=lon360)
    ds.variables["emi_sf6"] = NCVariable(
        "emi_sf6", ("lat", "lon"), flux, {"units": "kg m-2 s-1"}
    )
    write_netcdf(str(tmp_path / "v7.0_FT2021_SF6_2021_NFE.0.1x0.1.nc"), ds)

    out = edgar_legacy(spark, str(tmp_path), substance="SF6").toPandas()
    assert set(out["category"]) == {"NFE"}
    assert set(out["substance"]) == {"SF6"}
    # shifted lons: [0, 90, -180, -90] → sorted order = cols [2, 3, 0, 1];
    # cell 0 = (sorted lon 0 = original col 2, lat 0)
    areas = spherical_cell_areas(LAT, 90.0, 0.5)
    got = out.set_index("cell_id")["value_kg_y"]
    assert got[0] == pytest.approx(flux[0, 2] * SEC_PER_YR * areas[0])
    assert got[3 * LAT.size + 1] == pytest.approx(flux[1, 1] * SEC_PER_YR * areas[1])


def test_gfas(spark, tmp_path):
    nt = 365
    rng = np.random.default_rng(2)
    arr = rng.uniform(0, 1e-9, (nt, LAT.size, LON.size))
    arr[:, 0, 0] = 0.0  # an all-zero cell must drop from both outputs
    ds = _base_ds(lon_name="longitude", lat_name="latitude")
    ds.dims = {"valid_time": nt, **ds.dims}
    ds.variables["valid_time"] = NCVariable(
        "valid_time", ("valid_time",), np.arange(nt, dtype=np.int32)
    )
    ds.variables["fireco2"] = NCVariable(
        "fireco2", ("valid_time", "latitude", "longitude"), arr,
        {"units": "kg m-2 s-1"},
    )
    write_netcdf(str(tmp_path / "gfas.nc"), ds)

    out = gfas_emissions(spark, str(tmp_path), year=2023).toPandas()
    assert set(out["substance"]) == {"CO2"} and set(out["category"]) == {"gfas"}
    got = out.set_index("cell_id")["value_kg_y"]
    assert 0 not in got.index
    want = arr[:, 1, 0].mean() * SEC_PER_YR * AREAS[1]
    assert got[1] == pytest.approx(want, rel=1e-12)

    ratios = gfas_temporal_ratios(spark, str(tmp_path), year=2023).toPandas()
    per_cell = ratios.groupby("cell_id")["ratio"].sum()
    assert np.allclose(per_cell.values, 1.0)
    assert 0 not in per_cell.index

    with pytest.raises(Exception, match="timesteps"):
        gfas_emissions(spark, str(tmp_path), year=2024).toPandas()


def test_cams_reg_aq(spark, tmp_path):
    rng = np.random.default_rng(3)
    a = np.round(rng.uniform(0, 2, (LAT.size, LON.size)), 3)
    b = np.round(rng.uniform(0, 2, (LAT.size, LON.size)), 3)
    ds = _base_ds()
    ds.variables["A_PublicPower"] = NCVariable(
        "A_PublicPower", ("lat", "lon"), a, {"units": "Tg"}
    )
    ds.variables["F_RoadTransport"] = NCVariable(
        "F_RoadTransport", ("lat", "lon"), b, {"units": "Tg"}
    )
    name = "CAMS-REG-ANT_EUR_0.05x0.1_anthro_nox_v6.1-Ref2_yearly_2022.nc"
    write_netcdf(str(tmp_path / name), ds)

    cats = {"A_PublicPower": "A", "F_RoadTransport": "F"}
    out = cams_reg_aq(
        spark, str(tmp_path), year=2022, categories_mapping=cats
    ).toPandas()
    assert set(out["substance"]) == {"NOx"}
    assert set(out["category"]) == {"A", "F"}
    row = out[(out["category"] == "A") & (out["cell_id"] == 1)]
    assert row["value_kg_y"].iloc[0] == pytest.approx(a[1, 0] * 1e9)

    # a mapped category missing from the file is an error
    with pytest.raises(Exception, match="not found"):
        cams_reg_aq(
            spark, str(tmp_path), year=2022,
            categories_mapping={"B_Industry": "B"},
        ).toPandas()


def _saunois_file(tmp_path, name, arr):
    ds = _base_ds()
    ds.dims = {"time": 12, "lev": 1, **ds.dims}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(12, dtype=np.int32))
    ds.variables["flux"] = NCVariable(
        "flux", ("time", "lev", "lat", "lon"), arr[:, np.newaxis, :, :],
        {"units": "g CH4 m-2 d-1"},
    )
    write_netcdf(str(tmp_path / name), ds)


def test_saunois(spark, tmp_path):
    rng = np.random.default_rng(4)
    arr = rng.uniform(0, 0.1, (12, LAT.size, LON.size))
    _saunois_file(tmp_path, "wetland.nc", arr)

    out = saunois_emissions(spark, str(tmp_path)).toPandas()
    assert set(out["category"]) == {"wetland"}
    assert set(out["substance"]) == {"CH4"}
    got = out.set_index("cell_id")["value_kg_y"]
    want = (arr[:, 2, 1] * DAYS_IN_MONTH).sum() * 1e-3 * AREAS[2]
    assert got[LAT.size + 2] == pytest.approx(want, rel=1e-12)

    ratios = saunois_temporal_ratios(spark, str(tmp_path)).toPandas()
    cell = ratios[ratios["cell_id"] == 0].sort_values("t_index")
    want_r = arr[:, 0, 0] / arr[:, 0, 0].sum()
    assert np.allclose(cell["ratio"].values, want_r)


def test_wetcharts_model_mean_and_select(spark, tmp_path):
    rng = np.random.default_rng(5)
    arr = rng.uniform(0, 50, (12, 3, LAT.size, LON.size))
    ds = _base_ds()
    ds.dims = {"time": 12, "model": 3, **ds.dims}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(12, dtype=np.int32))
    ds.variables["model"] = NCVariable(
        "model", ("model",), np.array([29, 33, 41], dtype=np.int32)
    )
    ds.variables["wetland_CH4_emissions"] = NCVariable(
        "wetland_CH4_emissions", ("time", "model", "lat", "lon"), arr,
        {"units": "mg m-2 d-1"},
    )
    write_netcdf(str(tmp_path / "wetcharts.nc"), ds)

    out = wetcharts(spark, str(tmp_path)).toPandas().set_index("cell_id")
    want = arr[:, :, 0, 0].mean() * AREAS[0] * 1e-6 * DAY_PER_YR
    assert out.loc[0, "value_kg_y"] == pytest.approx(want, rel=1e-12)

    one = wetcharts(spark, str(tmp_path), model=33).toPandas().set_index("cell_id")
    want1 = arr[:, 1, 0, 0].mean() * AREAS[0] * 1e-6 * DAY_PER_YR
    assert one.loc[0, "value_kg_y"] == pytest.approx(want1, rel=1e-12)

    with pytest.raises(Exception, match="not found"):
        wetcharts(spark, str(tmp_path), model=7).toPandas()


def test_lpj_guess(spark, tmp_path):
    rng = np.random.default_rng(6)
    a = rng.uniform(0, 1, (5, LAT.size, LON.size))
    ds = _base_ds(lon_name="longitude", lat_name="latitude")
    ds.dims = {"time": 5, **ds.dims}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(5, dtype=np.int32))
    ds.variables["CH4_wetland_natural"] = NCVariable(
        "CH4_wetland_natural", ("time", "latitude", "longitude"), a,
        {"units": "mg CH4 m-2 d-1"},
    )
    write_netcdf(str(tmp_path / "lpj.nc"), ds)

    out = lpj_guess(spark, str(tmp_path)).toPandas()
    assert set(out["category"]) == {"wetland_natural"}
    assert set(out["substance"]) == {"CH4"}
    got = out.set_index("cell_id")["value_kg_y"]
    want = a[:, 0, 0].sum() * 1e-6 * AREAS[0]
    assert got[0] == pytest.approx(want, rel=1e-12)


def test_edgar_v8_categories_follows_attribute_rule(spark, tmp_path):
    """edgar_v8_categories applies edgar_v8's admission rule (the file
    'year' ATTRIBUTE), so a file whose stem lacks the year but whose
    attribute matches is counted — a stem-only probe would drop it and
    hand its category the constant profile downstream."""
    from emiproc_spark.sources.formats import edgar_v8_categories

    arr = np.ones((LAT.size, LON.size))

    def write(name, cat, year=None):
        ds = _base_ds()
        attrs = {"units": "Tonnes", "substance": "CO2", "long_name": cat}
        if year is not None:
            attrs["year"] = year
        ds.variables["emissions"] = NCVariable(
            "emissions", ("lat", "lon"), arr, attrs
        )
        write_netcdf(str(tmp_path / name), ds)

    write("v8.0_FT2022_GHG_CO2_2022_ENE_emi.nc", "Energy", 2022)
    write("v8.0_FT2022_GHG_CO2_2021_TRO_emi.nc", "Transport", 2021)  # wrong year
    # stem field 4 is NOT the year, but the attribute matches → admitted
    write("v8.0_FT2022_GHG_CO2_oddstem_AGR_emi.nc", "Agriculture", 2022)
    # no year attribute at all → admitted (edgar_v8 admits those too)
    write("v8.0_FT2022_GHG_CO2_2022_IND_emi.nc", "Industry")

    cats = edgar_v8_categories(spark, str(tmp_path), year=2022)
    assert cats == ["AGR", "ENE", "IND"]
    long_cats = edgar_v8_categories(
        spark, str(tmp_path), year=2022, use_short_category_names=False
    )
    assert long_cats == ["Agriculture", "Energy", "Industry"]
    # admission parity with the ingest itself
    got = {
        r["category"]
        for r in edgar_v8(spark, str(tmp_path), year=2022, use_short_category_names=True)
        .select("category").distinct().collect()
    }
    assert got == set(cats)


@pytest.mark.parametrize(
    "reader_test",
    [
        test_edgar_v8,
        test_edgar_legacy_lon_wrap,
        test_gfas,
        test_cams_reg_aq,
        test_saunois,
        test_wetcharts_model_mean_and_select,
        test_lpj_guess,
        test_edgar_v8_categories_follows_attribute_rule,
    ],
    ids=lambda t: t.__name__[len("test_"):],
)
def test_netcdf4_gives_equal_rows(rows_per_writer, reader_test):
    """Every reader test above passes with its fixtures written as
    NetCDF-4, and each reader call returns the same rows as from the
    classic file."""
    rows = rows_per_writer(
        reader_test,
        ["edgar_v8", "edgar_legacy", "gfas_emissions", "gfas_temporal_ratios",
         "cams_reg_aq", "saunois_emissions", "saunois_temporal_ratios",
         "wetcharts", "lpj_guess"],
    )
    assert rows["write_netcdf4"] == rows["write_netcdf"]
    assert rows["write_netcdf"]
