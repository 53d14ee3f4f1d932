"""Format-specific inventory readers over the distributed NetCDF scan.

Each public reader mirrors one reference ingest class's *semantics* —
variable naming, attribute contracts, unit conversions, coordinate
quirks — re-expressed as a per-file decode over the NetCDF raster scan
(``netcdf.scan_rasters``: classic NetCDF-3 or NetCDF-4 files, decoded by
``netcdf.default_container_decoder``) feeding Spark-side aggregation:

- :func:`edgar_v8`        — reference ``inventories/edgar/edgarv8.py:140-235``
- :func:`edgar_legacy`    — reference ``inventories/edgar/edgarv8.py:239-327``
- :func:`gfas_emissions` / :func:`gfas_temporal_ratios`
                          — reference ``inventories/gfas.py:25-127``
- :func:`cams_reg_aq`     — reference ``inventories/cams_reg_aq.py:14-150``
- :func:`saunois_emissions` / :func:`saunois_temporal_ratios`
                          — reference ``inventories/saunois.py:13-100``
- :func:`wetcharts`       — reference ``inventories/wetcharts.py:15-110``
- :func:`lpj_guess`       — reference ``inventories/lpjguess.py:13-132``

All emit the canonical long form ``(cell_id, category, substance,
value_kg_y)`` with **lon-major** cell ids (``cell_id = lon_i * nlat +
lat_i``), matching the reference's ``stack(cell=(lon, lat))`` /
``data.T.reshape(-1)`` convention.

Scale: one task per file; decoding is vectorized numpy; the combine
(sum over files, mean over time, ratio normalization) is Spark-side
hash aggregation so thousand-file mosaics never touch the driver.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark.localdf import distinct_rows
from emiproc_spark.sources.netcdf import (
    DAY_PER_YR,
    SEC_PER_YR,
    _area_grid,
    _lonmajor_frame,
    _to_tlalo,
    default_container_decoder,
    scan_rasters,
)
from emiproc_spark.sources.readers import scan_files

DAYS_IN_MONTH = np.array([31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])


# ======================================================================
# EDGAR v8 — one file per (substance, category); 'emissions' variable
# with substance/long_name/year/units attrs; Tonnes → kg (×1e3)
# (reference edgarv8.py:190-235)
# ======================================================================
def _edgar_v8_admit(
    fpath: str, ds, year: int | None, use_short_category_names: bool
) -> str | None:
    """The edgar_v8 file-admission gate: ``None`` if the file is
    skipped, else its category name.  Single source of truth so the
    ingest and the category probe (``edgar_v8_categories``) cannot
    drift — a file admitted by one is admitted by the other."""
    if "emissions" not in ds.variables:
        return None
    v = ds.variables["emissions"]
    if year is not None and int(v.attrs.get("year", year)) != year:
        return None
    if use_short_category_names:
        stem = os.path.splitext(os.path.basename(fpath))[0]
        cat = "_".join(stem.split("_")[5:-1])
        # a malformed stem yields an empty short name: reject the file in
        # BOTH the ingest and the probe, so it cannot be ingested under
        # category "" yet vanish from the probed list (and then silently
        # receive the constant sf=1.0 profile downstream)
        return cat if cat else None
    return v.attrs["long_name"]


def edgar_v8_categories(
    spark: SparkSession,
    path: str,
    year: int | None = None,
    use_short_category_names: bool = True,
) -> list[str]:
    """Distinct categories the ``edgar_v8`` scan would ingest — a
    distributed header-level probe applying the exact same admission
    rule (``emissions`` variable present, ``year`` attribute match),
    so a file whose stem does not carry the year but whose attribute
    matches is still counted (a stem-only probe would silently hand
    its category the constant sf=1.0 profile downstream)."""

    def decode(fpath: str, content: bytes) -> Iterator[pd.DataFrame]:
        ds = default_container_decoder(content, header_only=True)
        cat = _edgar_v8_admit(fpath, ds, year, use_short_category_names)
        if cat is not None:
            yield pd.DataFrame({"category": [cat]})

    probe = scan_files(spark, path, "category string", decode)
    return sorted(r[0] for r in distinct_rows(probe, ["category"], "edgar_v8_categories"))


def edgar_v8(
    spark: SparkSession,
    path: str,
    year: int | None = None,
    use_short_category_names: bool = False,
    lon_name: str = "lon",
    lat_name: str = "lat",
) -> DataFrame:
    """EDGAR v8 annual sector-specific gridmaps → long emissions.

    Files lacking an ``emissions`` variable are skipped (reference
    warns+skips, edgarv8.py:195-199); with ``year`` given, files whose
    ``year`` attr differs are skipped (edgarv8.py:205-212; the
    reference's year-from-first-file default is driver state a
    distributed scan cannot share, so pass ``year`` explicitly to
    filter).  ``use_short_category_names`` derives the category from
    the filename stem (fields 5..-1, edgarv8.py:202-204).
    """

    def decode(fpath: str, ds) -> Iterator[pd.DataFrame]:
        cat = _edgar_v8_admit(fpath, ds, year, use_short_category_names)
        if cat is None:
            return
        v = ds.variables["emissions"]
        units = v.attrs.get("units")
        if units != "Tonnes":
            raise ValueError(f"units {units!r}, expected 'Tonnes'")
        sub = v.attrs["substance"]
        arr = _to_tlalo(v.data, v.dims, "time", lat_name, lon_name) * 1e3  # Tonnes → kg
        yield _lonmajor_frame(arr, cat, sub)

    scan = scan_rasters(spark, path, decode)
    return scan.groupBy("cell_id", "category", "substance").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )


# ======================================================================
# EDGAR legacy — one file per category; first data variable is a flux
# in kg m-2 s-1; longitudes wrap 0/360 → −180/180 and re-sort
# (reference edgarv8.py:239-327)
# ======================================================================
def edgar_legacy(
    spark: SparkSession,
    path: str,
    substance: str,
    category_pattern: str | None = None,
    lon_name: str = "lon",
    lat_name: str = "lat",
) -> DataFrame:
    """Legacy EDGAR flux files → long emissions in kg/year/cell.

    ``category_pattern``: regex with one group applied to the file
    name (reference derives it as the second group of
    ``{substance}_(.+?)_(.+?)\\.``, edgarv8.py:276-279); default uses
    that same shape.  Cell ids follow the *shifted* lon order
    (``(lon+180)%360−180`` then sort, edgarv8.py:289-292), so a 0..360
    file lands on the canonical −180..180 grid.
    """
    pat = category_pattern or rf"{re.escape(substance)}_(?:.+?)_(.+?)\."

    def decode(fpath: str, ds) -> Iterator[pd.DataFrame]:
        m = re.search(pat, os.path.basename(fpath))
        if not m:
            raise ValueError(f"category pattern {pat!r} did not match")
        cat = m.group(1)
        data_vars = [
            n
            for n, v in ds.variables.items()
            if lat_name in v.dims and lon_name in v.dims
        ]
        if not data_vars:
            raise ValueError("no (lat, lon) data variable")
        v = ds.variables[data_vars[0]]
        arr = _to_tlalo(v.data, v.dims, "time", lat_name, lon_name)
        lon_c = np.asarray(ds.variables[lon_name].data, dtype=np.float64)
        shifted = (lon_c + 180.0) % 360.0 - 180.0
        order = np.argsort(shifted, kind="stable")
        arr = arr[:, :, order]
        areas = _area_grid(ds, lat_name, lon_name)
        arr = arr * SEC_PER_YR * areas[np.newaxis, :, np.newaxis]
        yield _lonmajor_frame(arr, cat, substance.upper())

    scan = scan_rasters(spark, path, decode)
    return scan.groupBy("cell_id", "category", "substance").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )


# ======================================================================
# GFAS — daily fire fluxes over one full year; variables 'fireXYZ' →
# substance XYZ upper; kg m-2 s-1, time-mean × year-seconds × area
# (reference gfas.py:25-127)
# ======================================================================
def _gfas_scan(
    spark: SparkSession,
    path: str,
    year: int | None,
    variables: list[str] | None,
    lon_name: str,
    lat_name: str,
    time_name: str,
) -> DataFrame:
    def decode(fpath: str, ds) -> Iterator[pd.DataFrame]:
        if year is not None:
            nt = ds.dims.get(time_name)
            leap = year % 4 == 0 and (year % 100 != 0 or year % 400 == 0)
            expected = 366 if leap else 365
            if nt != expected:
                raise ValueError(f"{nt} timesteps, expected {expected} for {year}")
        names = variables or [
            n
            for n, v in ds.variables.items()
            if lat_name in v.dims and lon_name in v.dims and n.startswith("fire")
        ]
        areas = _area_grid(ds, lat_name, lon_name)
        for name in names:
            sub = name.replace("fire", "").upper()
            v = ds.variables[name]
            arr = _to_tlalo(v.data, v.dims, time_name, lat_name, lon_name)
            arr = arr * SEC_PER_YR * areas[np.newaxis, :, np.newaxis]
            yield _lonmajor_frame(arr, "gfas", sub, drop_zero=False)

    return scan_rasters(spark, path, decode)


def gfas_emissions(
    spark: SparkSession,
    path: str,
    year: int | None = None,
    variables: list[str] | None = None,
    lon_name: str = "longitude",
    lat_name: str = "latitude",
    time_name: str = "valid_time",
) -> DataFrame:
    """GFAS annual inventory: per-cell mean over the daily series."""
    scan = _gfas_scan(spark, path, year, variables, lon_name, lat_name, time_name)
    return (
        scan.groupBy("cell_id", "category", "substance")
        .agg(F.avg("value_kg_y").alias("value_kg_y"))
        .where(F.col("value_kg_y") != 0.0)
    )


def gfas_temporal_ratios(
    spark: SparkSession,
    path: str,
    year: int | None = None,
    variables: list[str] | None = None,
    lon_name: str = "longitude",
    lat_name: str = "latitude",
    time_name: str = "valid_time",
) -> DataFrame:
    """Per-cell day-of-year ratios (reference builds DayOfYearProfile
    ratios from the same array, gfas.py:119-127)."""
    scan = _gfas_scan(spark, path, year, variables, lon_name, lat_name, time_name)
    w = Window.partitionBy("file", "cell_id", "category", "substance")
    return (
        scan.withColumn("__tot", F.sum("value_kg_y").over(w))
        .where(F.col("__tot") != 0.0)
        .select(
            "cell_id",
            "category",
            "substance",
            "t_index",
            (F.col("value_kg_y") / F.col("__tot")).alias("ratio"),
        )
    )


# ======================================================================
# CAMS-REG-AQ — one file per pollutant (substance in the file name);
# one variable per category; Tg → kg (×1e9)
# (reference cams_reg_aq.py:14-150)
# ======================================================================
CAMS_SUBSTANCES = {
    "nox": "NOx", "co": "CO", "ch4": "CH4", "nmvoc": "VOC",
    "sox": "SO2", "nh3": "NH3", "pm2_5": "PM25", "pm10": "PM10",
}
CAMS_CATEGORIES = {
    "A_PublicPower": "A", "B_Industry": "B", "C_OtherStationaryComb": "C",
    "D_Fugitives": "D", "E_Solvents": "E", "F_RoadTransport": "F",
    "G_Shipping": "G", "H_Aviation": "H", "I_OffRoad": "I",
    "J_Waste": "J", "K_AgriLivestock": "K", "L_AgriOther": "L",
}
CAMS_FILE_PATTERN = (
    r"CAMS-REG-ANT_EUR_0\.05x0\.1_anthro_(?P<substance>\w+)_v6\.1-Ref2_yearly_{year}\.nc"
)


def cams_reg_aq(
    spark: SparkSession,
    path: str,
    year: int = 2022,
    substances_mapping: dict[str, str] | None = None,
    categories_mapping: dict[str, str] | None = None,
    file_pattern: str | None = None,
    lon_name: str = "lon",
    lat_name: str = "lat",
) -> DataFrame:
    """CAMS regional air-quality inventory → long emissions (kg/y/cell).

    The substance comes from the file name (``file_pattern`` must expose
    a ``substance`` group); every mapped category variable must exist in
    every file and carry ``units: Tg`` (reference raises on both,
    cams_reg_aq.py:100-115).
    """
    subs = substances_mapping or CAMS_SUBSTANCES
    cats = categories_mapping or CAMS_CATEGORIES
    pat = file_pattern or CAMS_FILE_PATTERN.format(year=year)

    def decode(fpath: str, ds) -> Iterator[pd.DataFrame]:
        m = re.match(pat, os.path.basename(fpath))
        if not m:
            return
        sub_file = m.group("substance")
        sub = subs.get(sub_file)
        if sub is None:
            raise ValueError(f"no substance mapping found for {sub_file!r}")
        for var, cat in cats.items():
            if var not in ds.variables:
                raise ValueError(f"category {var} not found in the file")
            v = ds.variables[var]
            units = v.attrs.get("units")
            if units != "Tg":
                raise ValueError(f"units are {units!r}, expected Tg")
            arr = _to_tlalo(v.data, v.dims, "time", lat_name, lon_name) * 1e9  # Tg → kg
            yield _lonmajor_frame(arr, cat, sub)

    scan = scan_rasters(spark, path, decode)
    return scan.groupBy("cell_id", "category", "substance").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )


# ======================================================================
# Saunois CH4 — one file per category (file stem names it); 'flux' in
# g CH4 m-2 d-1 over 12 months; annual total weights each month by its
# day count (reference saunois.py:70-90)
# ======================================================================
def _saunois_scan(
    spark: SparkSession,
    path: str,
    var_name: str,
    lon_name: str,
    lat_name: str,
    time_name: str,
    weighted: bool,
) -> DataFrame:
    def decode(fpath: str, ds) -> Iterator[pd.DataFrame]:
        cat = os.path.splitext(os.path.basename(fpath))[0]
        v = ds.variables[var_name]
        arr = np.asarray(v.data, dtype=np.float64)
        dims = list(v.dims)
        if "lev" in dims:
            ax = dims.index("lev")
            if arr.shape[ax] != 1:
                raise ValueError("lev dimension size != 1")
            arr = np.squeeze(arr, axis=ax)
            dims.remove("lev")
        arr = _to_tlalo(arr, dims, time_name, lat_name, lon_name)
        if arr.shape[0] != 12:
            raise ValueError(f"expected 12 months, got {arr.shape[0]}")
        if weighted:
            # g/m2/day × days-in-month, summed → g/m2/y; ×1e-3×area → kg/y
            areas = _area_grid(ds, lat_name, lon_name)
            annual = np.tensordot(DAYS_IN_MONTH.astype(np.float64), arr, axes=(0, 0))
            annual = annual * 1e-3 * areas[:, np.newaxis]
            yield _lonmajor_frame(annual[np.newaxis, ...], cat, "CH4")
        else:
            yield _lonmajor_frame(arr, cat, "CH4", drop_zero=False)

    return scan_rasters(spark, path, decode)


def saunois_emissions(
    spark: SparkSession,
    path: str,
    var_name: str = "flux",
    lon_name: str = "lon",
    lat_name: str = "lat",
    time_name: str = "time",
) -> DataFrame:
    scan = _saunois_scan(spark, path, var_name, lon_name, lat_name, time_name, True)
    return scan.groupBy("cell_id", "category", "substance").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )


def saunois_temporal_ratios(
    spark: SparkSession,
    path: str,
    var_name: str = "flux",
    lon_name: str = "lon",
    lat_name: str = "lat",
    time_name: str = "time",
) -> DataFrame:
    """Monthly ratios from the raw (un-weighted) monthly fluxes —
    the reference normalizes the raw series (saunois.py:98-100)."""
    scan = _saunois_scan(spark, path, var_name, lon_name, lat_name, time_name, False)
    w = Window.partitionBy("file", "cell_id", "category", "substance")
    return (
        scan.withColumn("__tot", F.sum("value_kg_y").over(w))
        .where(F.col("__tot") != 0.0)
        .select(
            "cell_id", "category", "substance", "t_index",
            (F.col("value_kg_y") / F.col("__tot")).alias("ratio"),
        )
    )


# ======================================================================
# WetCHARTs — wetland CH4, 12 monthly steps, optional model ensemble
# dim (mean over models or one model); mg m-2 d-1 → kg/y/cell via
# time-mean × area × 1e-6 × 365.25 (reference wetcharts.py:35-110)
# ======================================================================
def wetcharts(
    spark: SparkSession,
    path: str,
    model: int | None = None,
    category: str = "wetcharts",
    substance: str = "CH4",
    var_name: str = "wetland_CH4_emissions",
    lon_name: str = "lon",
    lat_name: str = "lat",
    time_name: str = "time",
    model_name: str = "model",
) -> DataFrame:
    def decode(fpath: str, ds) -> Iterator[pd.DataFrame]:
        v = ds.variables[var_name]
        units = v.attrs.get("units")
        if units != "mg m-2 d-1":
            raise ValueError(f"units are {units!r}, expected 'mg m-2 d-1'")
        arr = np.asarray(v.data, dtype=np.float64)
        dims = list(v.dims)
        if model_name in dims:
            ax = dims.index(model_name)
            if model is None:
                arr = np.nanmean(arr, axis=ax)
            else:
                models = np.asarray(ds.variables[model_name].data).astype(int)
                sel = np.nonzero(models == model)[0]
                if sel.size == 0:
                    raise ValueError(
                        f"model {model} not found; available: {models.tolist()}"
                    )
                arr = np.take(arr, sel[0], axis=ax)
            dims.remove(model_name)
        arr = _to_tlalo(arr, dims, time_name, lat_name, lon_name)
        if arr.shape[0] != 12:
            raise ValueError("the dataset should have 12 months")
        areas = _area_grid(ds, lat_name, lon_name)
        arr = arr * areas[np.newaxis, :, np.newaxis] * 1e-6 * DAY_PER_YR
        yield _lonmajor_frame(arr, category, substance, drop_zero=False)

    scan = scan_rasters(spark, path, decode)
    return (
        scan.groupBy("cell_id", "category", "substance")
        .agg(F.avg("value_kg_y").alias("value_kg_y"))
        .where(F.col("value_kg_y") != 0.0)
    )


# ======================================================================
# LPJ-GUESS — variables named {substance}_{category...}; mg CH4 m-2 d-1
# summed over daily steps × 1e-6 × area → kg/y/cell
# (reference lpjguess.py:23-110)
# ======================================================================
def lpj_guess(
    spark: SparkSession,
    path: str,
    lon_name: str = "longitude",
    lat_name: str = "latitude",
    time_name: str = "time",
) -> DataFrame:
    def decode(fpath: str, ds) -> Iterator[pd.DataFrame]:
        areas = _area_grid(ds, lat_name, lon_name)
        for name, v in ds.variables.items():
            if name in (lon_name, lat_name, time_name):
                continue
            if lat_name not in v.dims or lon_name not in v.dims:
                continue
            units = v.attrs.get("units")
            if units != "mg CH4 m-2 d-1":
                raise ValueError(
                    f"{name} has units {units!r} instead of 'mg CH4 m-2 d-1'"
                )
            parts = name.split("_")
            sub, cat = parts[0], "_".join(parts[1:])
            arr = _to_tlalo(v.data, v.dims, time_name, lat_name, lon_name)
            annual = arr.sum(axis=0) * 1e-6 * areas[:, np.newaxis]
            yield _lonmajor_frame(annual[np.newaxis, ...], cat, sub)

    scan = scan_rasters(spark, path, decode)
    return scan.groupBy("cell_id", "category", "substance").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )
