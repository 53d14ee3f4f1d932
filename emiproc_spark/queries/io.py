"""Ingest and export queries.

Every reader in ``sources/`` and writer in ``exports/``, round-tripped
through files the query writes itself: NetCDF, NetCDF4/HDF5,
GeoPackage, shapefile, CSV and YAML profiles, GRAL, WRF, ICON, FLUXIE,
ORC, JSONL and PNG/WAV/video payloads, plus the weight cache and the
storage layouts.  ``tno_fixture``, ``raster_grid``, ``write_edgar_aux``
and ``write_gfed4_fixture`` write fixture files the tests use too.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.exports.fluxie import export_fluxie
from emiproc_spark.exports.gral import HOUR_PER_YR, write_gral_emissions
from emiproc_spark.exports.icon import export_inventory_profiles, region_scaling_factors
from emiproc_spark.exports.netcdf import cf_global_attributes, export_raster_netcdf
from emiproc_spark.exports.store import read_partitioned, save_partitioned
from emiproc_spark.exports.wrf import to_mole_flux
from emiproc_spark.functions import geometry as geom
from emiproc_spark.functions.geometry import wkb_linestring, wkb_point
from emiproc_spark.functions.hdf5_write import write_netcdf4
from emiproc_spark.functions.netcdf3 import (
    NCDataset,
    NCVariable,
    read_netcdf,
    write_netcdf,
)
from emiproc_spark.functions.png import write_png
from emiproc_spark.functions.wav import encode_wav
from emiproc_spark.functions.xlsx import write_xlsx
from emiproc_spark.grids import regular_grid
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import speciation as spn
from emiproc_spark.operators.layout import layout_extents, zorder_key, zorder_key_sql
from emiproc_spark.operators.masks import cell_region_fractions
from emiproc_spark.operators.multimodal import (
    attach_binary,
    audio_features,
    decode_image,
    extract_features,
    frame_sample,
    resize_features,
)
from emiproc_spark.operators.regrid import weights_poly_poly, weights_rect_rect
from emiproc_spark.plans.cache import cached_weights
from emiproc_spark.qhelpers import qd, sql_qd, sql_sumd, sumd
from emiproc_spark.queries.profiles import daily_k
from emiproc_spark.registry import query
from emiproc_spark.sources.edgar_profiles import edgar_auxiliary_profiles
from emiproc_spark.sources.formats import (
    cams_reg_aq,
    edgar_legacy,
    edgar_v8,
    gfas_emissions,
    lpj_guess,
    saunois_emissions,
    wetcharts,
)
from emiproc_spark.sources.geopackage import export_to_geopackage, from_geopackage
from emiproc_spark.sources.gfed import gfed4_emissions, gfed5_emissions
from emiproc_spark.sources.gral import gral_inventory
from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file
from emiproc_spark.sources.netcdf import from_netcdf_rasters
from emiproc_spark.sources.osm import osm_json_to_sources
from emiproc_spark.sources.profiles_io import (
    profiles_from_yaml,
    profiles_to_yaml,
    read_temporal_profiles_csv,
    read_vertical_profiles_csv,
)
from emiproc_spark.sources.readers import SECONDS_PER_YEAR, from_duckdb, to_wide
from emiproc_spark.sources.shapefile import shapefile_to_regions, write_shapefile
from emiproc_spark.sources.swiss import read_prtr, swiss_rasters
from emiproc_spark.sources.tno import (
    tno_area_emissions,
    tno_gridded_profiles,
    tno_point_sources,
    write_tno_netcdf,
)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through Arrow mapInPandas with
    the deterministic stub decoder — oracle replays the byte statistics
    in SQL (docs are ASCII, so codepoints == bytes)."""

    d = fx.load(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    media = attach_binary(d)
    return extract_features(media, fake=True).select(
        "doc_id", "n_bytes", "checksum", "mean_byte", "feat0"
    )


SQL_MULTIMODAL_FEATURES = """
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id < 500),
    sq AS (SELECT doc_id, text, n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS side FROM d),
    codes AS (
        SELECT doc_id, n, side,
               CAST(SUM(ord(substr(text, CAST(t.j AS INT) + 1, 1))) AS BIGINT) AS total,
               COUNT(*) AS cnt
        FROM sq, UNNEST(range(side * side)) AS t(j)
        GROUP BY doc_id, n, side
    )
    SELECT doc_id, n AS n_bytes,
           total % 1000003 AS checksum,
           CAST(total AS DOUBLE) / cnt AS mean_byte,
           CAST(n % 7 AS DOUBLE) AS feat0
    FROM codes
"""

query(q_multimodal_features, SQL_MULTIMODAL_FEATURES)


# ======================================================================
# speciate_inventory: dict-driven (cat,sub)→(cat',sub') fan-out
# (reference emiproc/speciation.py:351-436 — category may change,
# ratios need not sum to 1)
# ======================================================================
SPECIATE_INV_DICT = {
    ("A", "F"): {("A2", "F1"): 0.4, ("B2", "F2"): 0.7},
    ("R", "O"): {("R", "O3"): 1.1},
}


def q_speciate_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    sp = spn.speciate_inventory(e, SPECIATE_INV_DICT)
    return sp.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_SPECIATE_INVENTORY = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    sp AS (
        SELECT cell_id, 'A2' AS category, 'F1' AS substance,
               value_kg_y * 0.4 AS value_kg_y
        FROM e WHERE category = 'A' AND substance = 'F'
        UNION ALL
        SELECT cell_id, 'B2' AS category, 'F2' AS substance,
               value_kg_y * 0.7 AS value_kg_y
        FROM e WHERE category = 'A' AND substance = 'F'
        UNION ALL
        SELECT cell_id, 'R' AS category, 'O3' AS substance,
               value_kg_y * 1.1 AS value_kg_y
        FROM e WHERE category = 'R' AND substance = 'O'
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y
        FROM e WHERE NOT (   (category = 'A' AND substance = 'F')
                          OR (category = 'R' AND substance = 'O'))
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM sp GROUP BY 1, 2, 3
"""

query(q_speciate_inventory, SQL_SPECIATE_INVENTORY)


# ======================================================================
# netcdf_ingest: export→re-ingest round-trip vs pure-SQL oracle
# ======================================================================
def raster_grid(spark: SparkSession) -> DataFrame:
    """10×10 lon-major degree grid matching fixture cell ids
    (cell_id = lon_i * nlat + lat_i)."""
    return local_rows_df(spark,
        [
            (lon_i * fx.FINE_NY + lat_i, float(lon_i), float(lat_i), 1.0)
            for lon_i in range(fx.FINE_NX)
            for lat_i in range(fx.FINE_NY)
        ],
        "cell_id long, lon double, lat double, area_m2 double",
    )


def q_netcdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-aggregate with exact quantized sums so the values entering the
    # file are engine-independent; everything after is per-row exact
    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_nc_"), "inv.nc")
    export_raster_netcdf(agg, raster_grid(spark), out, add_totals=False)
    return from_netcdf_rasters(spark, out)


SQL_NETCDF_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""

query(q_netcdf_ingest, SQL_NETCDF_INGEST)


# ======================================================================
# TNO-layout ingest: area scatter-add + point pass-through + substance
# merge, through a real NetCDF-3 file (reference tno.py:146-256)
# ======================================================================
def tno_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic TNO-layout file derived from lineitem + supplier.

    Values are floored to integer-valued doubles before writing so every
    downstream sum is order-independent-exact in both engines.
    """

    li = fx.load(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") % fx.N_CELLS).alias("cell_id"),
        F.col("l_returnflag").alias("category"),
        (F.col("l_orderkey") % 2).alias("bucket"),
        F.col("l_linestatus").alias("sub"),
        F.col("l_extendedprice").alias("val"),
    )
    srcs = (
        base.groupBy("cell_id", "category", "bucket")
        .agg(
            F.floor(sumd(F.when(F.col("sub") == "F", F.col("val")).otherwise(0.0)))
            .cast("double")
            .alias("F"),
            F.floor(sumd(F.when(F.col("sub") == "O", F.col("val")).otherwise(0.0)))
            .cast("double")
            .alias("O"),
        )
        .toPandas()
        .sort_values(["cell_id", "category", "bucket"])
        .reset_index(drop=True)
    )
    area = pd.DataFrame(
        {
            "source_type": "a",
            "lon_index": srcs["cell_id"] // fx.FINE_NY + 1,
            "lat_index": srcs["cell_id"] % fx.FINE_NY + 1,
            "lon": 0.0,
            "lat": 0.0,
            "category": srcs["category"],
            "F": srcs["F"],
            "O": srcs["O"],
        }
    )
    sup = (
        fx.load(spark, sf_dir, "supplier")
        .select(
            (F.col("s_suppkey") % 360).cast("double").alias("lon360"),
            (F.col("s_suppkey") % 180).cast("double").alias("lat180"),
            F.concat(F.lit("P"), (F.col("s_suppkey") % 2).cast("string")).alias(
                "category"
            ),
            (F.floor(F.abs(F.col("s_acctbal"))) + 1).cast("double").alias("F"),
            (F.floor(F.abs(F.col("s_acctbal")) * 2) + 1).cast("double").alias("O"),
            F.col("s_suppkey").alias("k"),
        )
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    points = pd.DataFrame(
        {
            "source_type": "p",
            "lon_index": 1,
            "lat_index": 1,
            "lon": sup["lon360"] - 180.0,
            "lat": sup["lat180"] - 90.0,
            "category": sup["category"],
            "F": sup["F"],
            "O": sup["O"],
        }
    )
    out = os.path.join(fx.scratch_dir("emiproc_tno_"), "tno.nc")
    write_tno_netcdf(
        out, pd.concat([area, points], ignore_index=True), fx.FINE_NX, fx.FINE_NY,
        ["F", "O"],
    )
    return out


TNO_MAPPING = {"F": "ALL", "O": "ALL"}


def q_tno_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = tno_fixture(spark, sf_dir)
    return tno_area_emissions(spark, path, substances_mapping=TNO_MAPPING)


SQL_TNO_INGEST = f"""
    WITH base AS (
        SELECT l_partkey % {fx.N_CELLS} AS cell_id,
               l_returnflag AS category,
               l_orderkey % 2 AS bucket,
               l_linestatus AS sub,
               l_extendedprice AS val
        FROM lineitem
    ),
    srcs AS (
        SELECT cell_id, category, bucket,
               FLOOR({sql_sumd("CASE WHEN sub = 'F' THEN val ELSE 0.0 END")}) AS f,
               FLOOR({sql_sumd("CASE WHEN sub = 'O' THEN val ELSE 0.0 END")}) AS o
        FROM base GROUP BY 1, 2, 3
    )
    SELECT cell_id, category, 'ALL' AS substance,
           CAST(SUM(f + o) AS DOUBLE) AS value_kg_y
    FROM srcs GROUP BY 1, 2
"""

query(q_tno_ingest, SQL_TNO_INGEST)


def q_tno_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = tno_fixture(spark, sf_dir)
    pts = tno_point_sources(spark, path, substances_mapping=TNO_MAPPING)
    # project away the file-order source_id; re-group on coordinates
    return pts.groupBy("lon", "lat", "category", "substance").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )


SQL_TNO_POINTS = """
    WITH s AS (
        SELECT CAST(s_suppkey % 360 AS DOUBLE) - 180.0 AS lon,
               CAST(s_suppkey % 180 AS DOUBLE) - 90.0 AS lat,
               'P' || CAST(s_suppkey % 2 AS VARCHAR) AS category,
               FLOOR(ABS(s_acctbal)) + 1 AS f,
               FLOOR(ABS(s_acctbal) * 2) + 1 AS o
        FROM supplier
    )
    SELECT lon, lat, category, 'ALL' AS substance,
           CAST(SUM(f + o) AS DOUBLE) AS value_kg_y
    FROM s GROUP BY 1, 2, 3
"""

query(q_tno_points, SQL_TNO_POINTS)


# ======================================================================
# Format-specific readers: EDGAR v8 / CAMS-REG-AQ / GFAS /
# Saunois ingest through real NetCDF-3 files vs pure-SQL oracles
# ======================================================================
def _catsub_raster(spark: SparkSession, sf_dir: str, category: str) -> "np.ndarray":
    """Integer-valued 10×10 (lat, lon) raster: FLOOR(µ-sum of emissions)
    per cell for one category — engine-independent by construction."""

    pdf = (
        fx.emissions(spark, sf_dir)
        .where(F.col("category") == category)
        .groupBy("cell_id")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("v"))
        .toPandas()
    )
    arr = np.zeros((fx.FINE_NY, fx.FINE_NX))
    lat_i = (pdf["cell_id"] % fx.FINE_NY).to_numpy()
    lon_i = (pdf["cell_id"] // fx.FINE_NY).to_numpy()
    arr[lat_i, lon_i] = pdf["v"].to_numpy()
    return arr


def _coord_ds():
    ds = NCDataset()
    ds.dims = {"lat": fx.FINE_NY, "lon": fx.FINE_NX}
    ds.variables["lon"] = NCVariable(
        "lon", ("lon",), np.arange(fx.FINE_NX) + 0.5
    )
    ds.variables["lat"] = NCVariable(
        "lat", ("lat",), np.arange(fx.FINE_NY) + 0.5
    )
    return ds


def q_edgar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGAR v8 layout: one file per (category, substance) with Tonnes
    units and substance/long_name/year attrs; a wrong-year decoy file
    must be skipped (reference edgarv8.py:190-235)."""

    d = fx.scratch_dir("emiproc_edgar_")
    for cat in ("A", "N", "R"):
        arr = _catsub_raster(spark, sf_dir, cat)
        for year, scale in ((2022, 1.0), (2021, 3.0)):
            ds = _coord_ds()
            ds.variables["emissions"] = NCVariable(
                "emissions", ("lat", "lon"), arr * scale,
                {
                    "units": "Tonnes", "substance": "CO2",
                    "long_name": cat, "year": year,
                },
            )
            write_netcdf(
                os.path.join(d, f"v8.0_FT2022_GHG_CO2_{year}_{cat}_emi.nc"), ds
            )
    return edgar_v8(spark, d, year=2022)


SQL_EDGAR_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, 'CO2' AS substance,
           FLOOR({sql_sumd('value_kg_y')}) * 1000.0 AS value_kg_y
    FROM e GROUP BY cell_id, category
"""

query(q_edgar_ingest, SQL_EDGAR_INGEST)


def q_cams_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAMS-REG-AQ layout: substance from the file name, one variable
    per category, Tg units (reference cams_reg_aq.py:70-150)."""

    d = fx.scratch_dir("emiproc_cams_")
    ds = _coord_ds()
    for var, cat in (("A_PublicPower", "A"), ("F_RoadTransport", "R")):
        arr = _catsub_raster(spark, sf_dir, cat) % 1_000_000
        ds.variables[var] = NCVariable(var, ("lat", "lon"), arr, {"units": "Tg"})
    write_netcdf(
        os.path.join(
            d, "CAMS-REG-ANT_EUR_0.05x0.1_anthro_nox_v6.1-Ref2_yearly_2022.nc"
        ),
        ds,
    )
    return cams_reg_aq(
        spark, d, year=2022,
        categories_mapping={"A_PublicPower": "A", "F_RoadTransport": "F"},
    )


SQL_CAMS_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    g AS (
        SELECT cell_id, category,
               FLOOR({sql_sumd('value_kg_y')}) % 1000000 AS tg
        FROM e WHERE category IN ('A', 'R') GROUP BY cell_id, category
    )
    SELECT cell_id, CASE WHEN category = 'A' THEN 'A' ELSE 'F' END AS category,
           'NOx' AS substance, tg * 1e9 AS value_kg_y
    FROM g WHERE tg <> 0
"""

query(q_cams_ingest, SQL_CAMS_INGEST)


GFAS_NLA, GFAS_NLO, GFAS_NDAYS = 5, 4, 365
GFAS_LAT0 = 40.5


def _sql_gfas_areas(dlon_deg: float) -> str:
    """``areas(la, area)`` CTE: the spherical area (m²) of a 1°-high
    GFAS latitude band ``dlon_deg`` wide, per latitude row."""
    return f"""areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS({dlon_deg})
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )"""


def q_gfas_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFAS layout: daily kg m-2 s-1 fire fluxes over one full year;
    inventory = time-mean × year-seconds × spherical cell area
    (reference gfas.py:58-118).  Integer-kg quantization collapses
    sum-fold and libm-sin ulp differences."""

    d = fx.scratch_dir("emiproc_gfas_")
    t = np.arange(GFAS_NDAYS)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((t * 7 + cell * 13) % 50 + 1) * 1e-9
    ds = NCDataset()
    ds.dims = {"valid_time": GFAS_NDAYS, "latitude": GFAS_NLA, "longitude": GFAS_NLO}
    ds.variables["valid_time"] = NCVariable(
        "valid_time", ("valid_time",), np.arange(GFAS_NDAYS, dtype=np.int32)
    )
    ds.variables["latitude"] = NCVariable(
        "latitude", ("latitude",), np.arange(GFAS_NLA) + GFAS_LAT0
    )
    ds.variables["longitude"] = NCVariable(
        "longitude", ("longitude",), np.arange(GFAS_NLO) + 0.5
    )
    ds.variables["fireco2"] = NCVariable(
        "fireco2", ("valid_time", "latitude", "longitude"),
        np.broadcast_to(arr, (GFAS_NDAYS, GFAS_NLA, GFAS_NLO)),
        {"units": "kg m-2 s-1"},
    )
    write_netcdf(os.path.join(d, "gfas.nc"), ds)
    out = gfas_emissions(spark, d, year=2023)
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_GFAS_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    daily AS (
        SELECT c.cell_id, c.la,
               ((d.d * 7 + c.cell_id * 13) % 50 + 1) * 1e-9 AS v
        FROM cells c CROSS JOIN range({GFAS_NDAYS}) d(d)
    ),
    {_sql_gfas_areas(1.0)}
    SELECT d.cell_id, 'gfas' AS category, 'CO2' AS substance,
           FLOOR(AVG(d.v * {SECONDS_PER_YEAR} * a.area) + 0.5) AS value_kg_y
    FROM daily d JOIN areas a USING (la)
    GROUP BY d.cell_id
"""

query(q_gfas_ingest, SQL_GFAS_INGEST)


def q_saunois_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saunois layout: per-category file, monthly g CH4 m-2 d-1 fluxes
    with a singleton lev dim; annual total weights each month by its
    day count (reference saunois.py:70-90)."""

    d = fx.scratch_dir("emiproc_saunois_")
    m = np.arange(12)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((m * 5 + cell * 11) % 30 + 1).astype(np.float64)
    ds = NCDataset()
    ds.dims = {"time": 12, "lev": 1, "lat": GFAS_NLA, "lon": GFAS_NLO}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(12, dtype=np.int32))
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), np.arange(GFAS_NLO) + 0.5)
    ds.variables["flux"] = NCVariable(
        "flux", ("time", "lev", "lat", "lon"),
        np.broadcast_to(arr, (12, GFAS_NLA, GFAS_NLO))[:, np.newaxis, :, :],
        {"units": "g CH4 m-2 d-1"},
    )
    write_netcdf(os.path.join(d, "wetland.nc"), ds)
    out = saunois_emissions(spark, d)
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_SAUNOIS_INGEST = f"""
    WITH days(mo, nd) AS (VALUES (0, 31), (1, 28), (2, 31), (3, 30), (4, 31),
                                 (5, 30), (6, 31), (7, 31), (8, 30), (9, 31),
                                 (10, 30), (11, 31)),
    cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    monthly AS (
        SELECT c.cell_id, c.la,
               CAST(SUM(((days.mo * 5 + c.cell_id * 11) % 30 + 1) * days.nd)
                    AS DOUBLE) AS gsum
        FROM cells c CROSS JOIN days
        GROUP BY c.cell_id, c.la
    ),
    {_sql_gfas_areas(1.0)}
    SELECT m.cell_id, 'wetland' AS category, 'CH4' AS substance,
           FLOOR((m.gsum * 1e-3) * a.area + 0.5) AS value_kg_y
    FROM monthly m JOIN areas a USING (la)
"""

query(q_saunois_ingest, SQL_SAUNOIS_INGEST)


# ======================================================================
# GeoPackage round-trip: export via sqlite3 → distributed layer read →
# MapLuft-style unpivot (reference exports/geopackage.py:9-55,
# inventories/zurich/__init__.py:10-118)
# ======================================================================
def q_gpkg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = (
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .toPandas()
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(
        {
            "geometry": [
                wkb_point(float(k), float(r))
                for k, r in zip(nat["n_nationkey"], nat["n_regionkey"])
            ],
            "Emission_CO2": nat["n_nationkey"] * 2.5,
            "Emission_Benzol": nat["n_regionkey"] + 0.5,
        }
    )
    layer = spark.createDataFrame(pdf).coalesce(1).sortWithinPartitions(
        F.col("Emission_CO2")
    )
    path = os.path.join(fx.scratch_dir("emiproc_gpkg_"), "inv.gpkg")
    export_to_geopackage({"zurich_cat": layer}, path)
    out = from_geopackage(spark, path)
    return out.select(
        "category",
        "source_id",
        "substance",
        "value_kg_y",
        F.length("geometry").alias("wkb_len"),
    )


SQL_GPKG_ROUNDTRIP = """
    SELECT 'zurich_cat' AS category, n_nationkey + 1 AS source_id,
           'CO2' AS substance, n_nationkey * 2.5 AS value_kg_y, 21 AS wkb_len
    FROM nation
    UNION ALL
    SELECT 'zurich_cat', n_nationkey + 1, 'benzene',
           n_regionkey + 0.5, 21
    FROM nation
"""

query(q_gpkg_roundtrip, SQL_GPKG_ROUNDTRIP)


# ======================================================================
# GRAL round-trip: shaped points → point.dat (kg/h) → re-ingest (kg/y)
# (reference exports/gral.py:197-224, inventories/gral.py:164-199)
# ======================================================================
def q_gral_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = (
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .toPandas()
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(
        {
            "category": "traffic",
            "geometry": [
                wkb_point(float(k), float(r))
                for k, r in zip(nat["n_nationkey"], nat["n_regionkey"])
            ],
            "substance": "NOx",
            # integer multiples of HOUR_PER_YR survive the kg/h text
            # round-trip bit-exactly
            "value_kg_y": (nat["n_nationkey"] + 1) * HOUR_PER_YR,
        }
    )
    d = os.path.join(fx.scratch_dir("emiproc_gral_"), "emissions")
    write_gral_emissions(
        d, spark.createDataFrame(pdf),
        emission_infos={"traffic": {"height": 4.0}},
        source_groups={("NOx", "traffic"): 0},
    )
    out = gral_inventory(spark, d)
    return out.select("category", "substance", "value_kg_y", "height")


SQL_GRAL_ROUNDTRIP = """
    SELECT 'traffic' AS category, 'NOx' AS substance,
           (n_nationkey + 1) * (365.25 * 24) AS value_kg_y, 4.0 AS height
    FROM nation
"""

query(q_gral_roundtrip, SQL_GRAL_ROUNDTRIP)


# ======================================================================
# Swiss ASCII-raster ingest: x-major south-up layout × per-year totals
# (reference inventories/swiss.py:283-300)
# ======================================================================
def q_swiss_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cell = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id")
        .agg((F.floor(sumd("value_kg_y")) % 97).cast("double").alias("rv"))
        .toPandas()
        .set_index("cell_id")["rv"]
    )
    lines = [
        f"ncols {fx.FINE_NX}", f"nrows {fx.FINE_NY}", "xllcorner 0",
        "yllcorner 0", "cellsize 1", "NODATA_value -9999",
    ]
    for r in range(fx.FINE_NY):  # top row first: y = nrows-1-r
        y = fx.FINE_NY - 1 - r
        lines.append(
            " ".join(
                str(per_cell.get(x * fx.FINE_NY + y, 0.0))
                for x in range(fx.FINE_NX)
            )
        )
    d = fx.scratch_dir("emiproc_swiss_")
    with open(os.path.join(d, "eipro.asc"), "w") as f:
        f.write("\n".join(lines) + "\n")
    totals = (
        fx.emissions(spark, sf_dir)
        .where(F.col("category") == "A")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("total"))
        .select(
            F.lit("eipro").alias("category"), F.lit("CO2").alias("substance"), "total"
        )
    )
    return swiss_rasters(spark, d, totals)


SQL_SWISS_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    per_cell AS (
        SELECT cell_id, FLOOR({sql_sumd('value_kg_y')}) % 97 AS rv
        FROM e GROUP BY cell_id
    ),
    tot AS (
        SELECT FLOOR({sql_sumd('value_kg_y')}) AS t FROM e WHERE category = 'A'
    )
    SELECT p.cell_id, 'eipro' AS category, 'CO2' AS substance,
           p.rv * tot.t AS value_kg_y
    FROM per_cell p, tot WHERE p.rv <> 0
"""

query(q_swiss_ingest, SQL_SWISS_INGEST)


# ======================================================================
# TNO gridded day-of-year profiles: CSV → per-cell normalized ratios
# (reference read_tno_gridded_profiles, inventories/tno.py:325-404)
# ======================================================================
TNOP_NLON, TNOP_NLAT, TNOP_DAYS = 3, 2, 365


def q_tno_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = ["year,latitude,longitude,POLL,GNFR,day,Factor"]
    for lon_i in range(TNOP_NLON):
        for lat_i in range(TNOP_NLAT):
            cell = lon_i * TNOP_NLAT + lat_i
            for day in range(1, TNOP_DAYS + 1):
                f = (day * 3 + cell * 7) % 11 + 1
                lines.append(
                    f"2020,{45.5 + lat_i},{7.5 + lon_i},CH4,A,{day},{f}"
                )
                # duplicated rows must collapse (first wins) and other
                # years filter out
                lines.append(f"2020,{45.5 + lat_i},{7.5 + lon_i},CH4,A,{day},{9 * f}")
                lines.append(f"2019,{45.5 + lat_i},{7.5 + lon_i},CH4,A,{day},999")
    d = fx.scratch_dir("emiproc_tnop_")
    path = os.path.join(d, "profiles.csv")
    with open(path, "w") as fobj:
        fobj.write("\n".join(lines) + "\n")
    ratios, _ = tno_gridded_profiles(spark, path, year=2020)
    return ratios


SQL_TNO_PROFILES = f"""
    WITH c AS (
        SELECT lo.lo * {TNOP_NLAT} + la.la AS cell_id
        FROM range({TNOP_NLON}) lo(lo) CROSS JOIN range({TNOP_NLAT}) la(la)
    ),
    f AS (
        SELECT cell_id, d.d AS pos,
               CAST(((d.d + 1) * 3 + cell_id * 7) % 11 + 1 AS DOUBLE) AS factor
        FROM c CROSS JOIN range({TNOP_DAYS}) d(d)
    ),
    tot AS (SELECT cell_id, SUM(factor) AS t FROM f GROUP BY cell_id)
    SELECT 'A' AS category, 'CH4' AS substance, f.cell_id,
           CAST(f.pos AS INT) AS pos, f.factor / t.t AS ratio
    FROM f JOIN tot t USING (cell_id)
"""

query(q_tno_profiles, SQL_TNO_PROFILES)


# ======================================================================
# Swiss PRTR Excel ingest: stdlib XLSX decode + mapping/unit semantics
# (reference read_prtr, inventories/swiss.py:423-541)
# ======================================================================
def q_prtr_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = sorted(
        fx.load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").collect(),
        key=lambda r: r["n_nationkey"],
    )
    header = [
        "Year", "Source type", "North coordinate (CH1903+)",
        "East coordinate (CH1903+)", "Facility", "Value", "Unit",
        "Pollutant_name", "Installation_main activity",
    ]
    rows = [["j0"], ["j1"], header, ["j3"]]
    for r in nat:
        k = r["n_nationkey"]
        rows.append(
            [2020, "Punktquelle", 1200000.0 + k, 2600000.0 + k, f"plant{k}",
             float(k) + 0.5, "t/a", "Kohlendioxid (CO2)", "1.c"]
        )
        rows.append(
            [2020, "Punktquelle", 1200000.0 + k, 2600000.0 + k, f"plant{k}",
             float(r["n_regionkey"]) * 10.0 + 1.0, "kg/a",
             "Stickstoffoxide (NOx/NO2)", "5.b"]
        )
        # decoys the reader must drop: wrong year + diffuse source
        rows.append(
            [2019, "Punktquelle", 1.0, 2.0, "old", 9.0, "t/a",
             "Kohlendioxid (CO2)", "1.c"]
        )
        rows.append(
            [2020, "Diffus", 1.0, 2.0, "diff", 9.0, "t/a",
             "Kohlendioxid (CO2)", "1.c"]
        )
    path = os.path.join(fx.scratch_dir("emiproc_prtr_"), "prtr.xlsx")
    write_xlsx(path, rows)
    return read_prtr(spark, path, year=2020)


SQL_PRTR_INGEST = """
    SELECT 'eipro' AS category, 'CO2' AS substance,
           2600000.0 + n_nationkey AS x, 1200000.0 + n_nationkey AS y,
           (CAST(n_nationkey AS DOUBLE) + 0.5) * 1000.0 AS value_kg_y
    FROM nation
    UNION ALL
    SELECT 'eipkv', 'NOx', 2600000.0 + n_nationkey, 1200000.0 + n_nationkey,
           CAST(n_regionkey AS DOUBLE) * 10.0 + 1.0
    FROM nation
"""

query(q_prtr_ingest, SQL_PRTR_INGEST)


# ======================================================================
# weights cache round-trip: build → parquet cache → re-read must equal
# the closed-form weights (reference get_weights_mapping .npz cache,
# regrid.py:42-101)
# ======================================================================
def q_weights_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_wcache_")

    def build():
        return weights_rect_rect(
            fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D
        )

    # first call computes + persists, second must hit the parquet cache
    cached_weights(spark, d, "fine10", "coarse4", build)
    return cached_weights(spark, d, "fine10", "coarse4", build)


SQL_WEIGHTS_CACHE = fx.WEIGHTS_SQL

query(q_weights_cache, SQL_WEIGHTS_CACHE)


# ======================================================================
# EDGAR legacy: 0/360 lon wrap re-sort + flux × area × seconds
# (reference EDGAR_Inventory, edgarv8.py:239-327)
# ======================================================================
def q_edgar_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_edl_")
    # lons 0,90,180,270 → shifted sort order [180, 270, 0, 90]
    lon360 = np.array([0.0, 90.0, 180.0, 270.0])
    la = np.arange(GFAS_NLA)[:, None]
    lo = np.arange(4)[None, :]
    flux = (((la * 4 + lo) * 13) % 50 + 1) * 1e-9
    ds = NCDataset()
    ds.dims = {"lat": GFAS_NLA, "lon": 4}
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), lon360)
    ds.variables["emi_sf6"] = NCVariable(
        "emi_sf6", ("lat", "lon"),
        np.broadcast_to(flux, (GFAS_NLA, 4)), {"units": "kg m-2 s-1"},
    )
    write_netcdf(os.path.join(d, "v7.0_FT2021_SF6_2021_NFE.0.1x0.1.nc"), ds)
    out = edgar_legacy(spark, d, substance="SF6")
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_EDGAR_LEGACY = f"""
    WITH cells AS (
        -- shifted lon order [180, 270, 0, 90] = original cols [2, 3, 0, 1]
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la,
               CASE lo.lo WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 0 ELSE 1 END
                   AS orig_col
        FROM range(4) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    {_sql_gfas_areas(90.0)}
    SELECT c.cell_id, 'NFE' AS category, 'SF6' AS substance,
           FLOOR(((c.la * 4 + c.orig_col) * 13 % 50 + 1) * 1e-9
                 * (365.25 * 24 * 3600) * a.area + 0.5) AS value_kg_y
    FROM cells c JOIN areas a USING (la)
"""

query(q_edgar_legacy, SQL_EDGAR_LEGACY)


# ======================================================================
# WetCHARTs: model-ensemble mean over 12 monthly mg/m2/d steps
# (reference wetcharts.py:35-110)
# ======================================================================
def q_wetcharts_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_wc_")
    m = np.arange(12)[:, None, None, None]
    mod = np.arange(3)[None, :, None, None]
    la = np.arange(GFAS_NLA)[None, None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((m * 5 + mod * 3 + cell * 11) % 40 + 1).astype(np.float64)
    ds = NCDataset()
    ds.dims = {"time": 12, "model": 3, "lat": GFAS_NLA, "lon": GFAS_NLO}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(12, dtype=np.int32))
    ds.variables["model"] = NCVariable(
        "model", ("model",), np.array([29, 33, 41], dtype=np.int32)
    )
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), np.arange(GFAS_NLO) + 0.5)
    ds.variables["wetland_CH4_emissions"] = NCVariable(
        "wetland_CH4_emissions", ("time", "model", "lat", "lon"),
        np.broadcast_to(arr, (12, 3, GFAS_NLA, GFAS_NLO)),
        {"units": "mg m-2 d-1"},
    )
    write_netcdf(os.path.join(d, "wetcharts.nc"), ds)
    out = wetcharts(spark, d)
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") * 1e3 + 0.5).cast("double").alias("value_g_y"),
    )


SQL_WETCHARTS_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    vals AS (
        SELECT c.cell_id, c.la,
               AVG((m.m * 5 + mod.mod * 3 + c.cell_id * 11) % 40 + 1) AS mean_mg
        FROM cells c CROSS JOIN range(12) m(m) CROSS JOIN range(3) mod(mod)
        GROUP BY c.cell_id, c.la
    ),
    {_sql_gfas_areas(1.0)}
    SELECT v.cell_id, 'wetcharts' AS category, 'CH4' AS substance,
           FLOOR(v.mean_mg * a.area * 1e-6 * 365.25 * 1e3 + 0.5) AS value_g_y
    FROM vals v JOIN areas a USING (la)
"""

query(q_wetcharts_ingest, SQL_WETCHARTS_INGEST)


# ======================================================================
# GFED5: daily NetCDF sum × 1e-3 × area (reference gfed.py:308-372)
# ======================================================================
def q_gfed5_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_g5_")
    t = np.arange(31)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((t * 7 + cell * 3) % 20 + 1).astype(np.float64)
    ds = NCDataset()
    ds.dims = {"time": 31, "lat": GFAS_NLA, "lon": GFAS_NLO}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(31, dtype=np.int32))
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), np.arange(GFAS_NLO) + 0.5)
    ds.variables["CH4"] = NCVariable(
        "CH4", ("time", "lat", "lon"),
        np.broadcast_to(arr, (31, GFAS_NLA, GFAS_NLO)),
    )
    write_netcdf(os.path.join(d, "GFED5_Beta_daily_202001.nc"), ds)
    out = gfed5_emissions(spark, d, substances=["CH4"])
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_GFED5_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    vals AS (
        SELECT c.cell_id, c.la,
               CAST(SUM((t.t * 7 + c.cell_id * 3) % 20 + 1) AS DOUBLE) AS total
        FROM cells c CROSS JOIN range(31) t(t)
        GROUP BY c.cell_id, c.la
    ),
    {_sql_gfas_areas(1.0)}
    SELECT v.cell_id, 'gfed' AS category, 'CH4' AS substance,
           FLOOR((v.total * 1e-3) * a.area + 0.5) AS value_kg_y
    FROM vals v JOIN areas a USING (la)
"""

query(q_gfed5_ingest, SQL_GFED5_INGEST)


# ======================================================================
# WRF mole-flux conversion: kg/h → mole/km²/h (reference wrf.py:170-180)
# ======================================================================
def q_wrf_flux(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        fx.emissions(spark, sf_dir)
        .where(F.col("substance") == "F")
        .groupBy("cell_id", "category")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("value_kg_h"))
        .select(
            "cell_id", "category", F.lit("CO2").alias("substance"),
            F.lit(0).alias("hour_index"), "value_kg_h",
        )
    )
    grid = fx.fine_grid(spark).select(
        "cell_id",
        ((F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin")) * 1e6)
        .alias("area_m2"),
    )
    out = to_mole_flux(e, grid, molar_masses={"CO2": 44.009})
    return out.select(
        "cell_id", "category", "substance", "hour_index",
        qd("value_mole_km2_h", 1e6).alias("mole_flux"),
    )


SQL_WRF_FLUX = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    agg AS (
        SELECT cell_id, category, FLOOR({sql_sumd('value_kg_y')}) AS v
        FROM e WHERE substance = 'F' GROUP BY 1, 2
    )
    SELECT cell_id, category, 'CO2' AS substance, 0 AS hour_index,
           {sql_qd('v / (44.009 * 1e-3) / ((1e6) * 1e-6)', 1e6)} AS mole_flux
    FROM agg
"""

query(q_wrf_flux, SQL_WRF_FLUX)


# ======================================================================
# LPJ-GUESS ingest: {substance}_{category} variable naming,
# mg CH4 m-2 d-1 summed over daily steps x 1e-6 x spherical area
# (reference lpjguess.py:23-110).  Integer mg values make the daily sum
# exact in both engines; one multiply chain after that.
# ======================================================================
LPJ_NDAYS = 10


def q_lpj_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_lpj_")
    t = np.arange(LPJ_NDAYS)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    ds = NCDataset()
    ds.dims = {"time": LPJ_NDAYS, "latitude": GFAS_NLA, "longitude": GFAS_NLO}
    ds.variables["time"] = NCVariable(
        "time", ("time",), np.arange(LPJ_NDAYS, dtype=np.int32)
    )
    ds.variables["latitude"] = NCVariable(
        "latitude", ("latitude",), np.arange(GFAS_NLA) + GFAS_LAT0
    )
    ds.variables["longitude"] = NCVariable(
        "longitude", ("longitude",), np.arange(GFAS_NLO) + 0.5
    )
    for k, name in enumerate(["CH4_wetlands", "CH4_peatlands_total"]):
        arr = ((t * 3 + cell * 7 + k) % 30 + 1).astype(np.float64)
        ds.variables[name] = NCVariable(
            name,
            ("time", "latitude", "longitude"),
            arr,
            {"units": "mg CH4 m-2 d-1"},
        )
    write_netcdf(os.path.join(d, "lpj.nc"), ds)
    out = lpj_guess(spark, d)
    return out.select(
        "cell_id",
        "category",
        "substance",
        F.floor(F.col("value_kg_y") + F.lit(0.5)).cast("double").alias("value_kg_y"),
    )


SQL_LPJ_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    sums AS (
        SELECT c.cell_id, c.la, v.k,
               CAST(SUM((d.d * 3 + c.cell_id * 7 + v.k) % 30 + 1) AS DOUBLE) AS s
        FROM cells c
        CROSS JOIN range({LPJ_NDAYS}) d(d)
        CROSS JOIN range(2) v(k)
        GROUP BY 1, 2, 3
    ),
    {_sql_gfas_areas(1.0)}
    SELECT s.cell_id,
           CASE WHEN s.k = 0 THEN 'wetlands' ELSE 'peatlands_total' END AS category,
           'CH4' AS substance,
           FLOOR(s.s * 1e-6 * a.area + 0.5) AS value_kg_y
    FROM sums s JOIN areas a USING (la)
"""

query(q_lpj_ingest, SQL_LPJ_INGEST)


# ======================================================================
# Profile CSV readers: weekly temporal profiles (column-set dispatch +
# auto-normalize + dedup) and vertical height-header profiles
# (reference profiles/temporal/io.py:167-181, vertical_profiles.py:276-364)
# ======================================================================
def q_tprofiles_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_tp_")
    p = os.path.join(d, "profiles.csv")
    with open(p, "w") as f:
        f.write("category,Mon,Tue,Wed,Thu,Fri,Sat,Sun\n")
        f.write("A,1,2,3,4,5,6,7\n")
        f.write("B,2,2,2,2,2,2,2\n")
        f.write("C,1,2,3,4,5,6,7\n")  # duplicate of A: dedup path
    store, index = read_temporal_profiles_csv(spark, p, ["category"])
    out = index.join(store, ["profile_id", "ptype"]).select(
        "category", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    )
    return out.withColumn("ratio", qd("ratio"))


SQL_TPROFILES_CSV = """
    WITH rows(category, pos, v) AS (
        SELECT cat.category, t.pos,
               CASE WHEN cat.category = 'B' THEN 2.0 ELSE CAST(t.pos + 1 AS DOUBLE) END
        FROM (VALUES ('A'), ('B'), ('C')) AS cat(category),
             UNNEST(range(7)) AS t(pos)
    )
    SELECT category, 'weekly' AS ptype, pos,
           {qd} AS ratio
    FROM rows
""".format(qd=sql_qd("v / SUM(v) OVER (PARTITION BY category)"))

query(q_tprofiles_csv, SQL_TPROFILES_CSV)


def q_vprofiles_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_vp_")
    p = os.path.join(d, "vertical.csv")
    with open(p, "w") as f:
        # headers intentionally out of height order: the reader re-sorts
        f.write("category,92m,20m,184m\n")
        f.write("traffic,0,10,0\n")
        f.write("industry,4,1,5\n")
    store, index = read_vertical_profiles_csv(spark, p, ["category"])
    out = index.join(store, "profile_id").select(
        "category",
        F.posexplode(F.arrays_zip("heights_top_m", "ratios")).alias("pos", "z"),
    )
    return out.select(
        "category",
        "pos",
        F.col("z.heights_top_m").alias("height_top_m"),
        qd("z.ratios").alias("ratio"),
    )


SQL_VPROFILES_CSV = """
    WITH rows(category, pos, height_top_m, v) AS (VALUES
        ('traffic', 0, 20.0, 10.0), ('traffic', 1, 92.0, 0.0),
        ('traffic', 2, 184.0, 0.0),
        ('industry', 0, 20.0, 1.0), ('industry', 1, 92.0, 4.0),
        ('industry', 2, 184.0, 5.0))
    SELECT category, pos, height_top_m,
           {qd} AS ratio
    FROM rows
""".format(qd=sql_qd("v / SUM(v) OVER (PARTITION BY category)"))

query(q_vprofiles_csv, SQL_VPROFILES_CSV)


# ======================================================================
# from_duckdb: DuckDB table with emission_* wide columns → long form
# (reference DuckDBInventory, inventories/zurich/duck.py:84-154)
# ======================================================================
def q_from_duckdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    import duckdb

    path = os.path.join(fx.scratch_dir("emiproc_duck_"), "inv.duckdb")
    con = duckdb.connect(path)
    try:
        con.execute(
            f"""
            CREATE TABLE inv AS
            SELECT n_nationkey AS cell_id, n_name AS category,
                   CAST(n_nationkey * 1.5 + 1 AS DOUBLE) AS emission_co2,
                   CAST(n_regionkey * 2.25 AS DOUBLE) AS emission_ch4
            FROM read_parquet('{sf_dir}/nation.parquet')
            """
        )
    finally:
        con.close()
    return from_duckdb(spark, path, "inv", where="cell_id >= 5")


SQL_FROM_DUCKDB = """
    SELECT n_nationkey AS cell_id, n_name AS category, 'co2' AS substance,
           CAST(n_nationkey * 1.5 + 1 AS DOUBLE) AS value_kg_y
    FROM nation WHERE n_nationkey >= 5
    UNION ALL
    SELECT n_nationkey, n_name, 'ch4', CAST(n_regionkey * 2.25 AS DOUBLE)
    FROM nation WHERE n_nationkey >= 5
"""

query(q_from_duckdb, SQL_FROM_DUCKDB)


# ======================================================================
# osm_json_to_sources: Overpass JSON → WKB point/way sources
# (reference emiproc/utils/osm.py:18-179)
# ======================================================================
def q_osm_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    nations = sorted(
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .collect(),
        key=lambda r: r["n_nationkey"],
    )
    elements = [
        {
            "type": "node",
            "id": 1000 + r["n_nationkey"],
            "lon": float(r["n_nationkey"]),
            "lat": float(r["n_regionkey"] * 2),
        }
        for r in nations
    ]
    by_region: dict[int, list[int]] = {}
    for r in nations:
        by_region.setdefault(r["n_regionkey"], []).append(1000 + r["n_nationkey"])
    elements += [
        {
            "type": "way",
            "id": 2000 + rk,
            "nodes": refs,
            "tags": {"highway": "primary"},
        }
        for rk, refs in sorted(by_region.items())
    ]
    path = os.path.join(fx.scratch_dir("emiproc_osm_"), "overpass.json")
    with open(path, "w") as f:
        json.dump({"elements": elements}, f)
    out = osm_json_to_sources(spark, path)
    # WKB length pins the geometry kind and the resolved vertex count:
    # point = 21 bytes, linestring = 9 + 16·n
    return out.select(
        "osm_id", "osm_type", F.length("geometry").alias("wkb_len")
    )


SQL_OSM_WAYS = """
    SELECT 1000 + n_nationkey AS osm_id, 'node' AS osm_type, 21 AS wkb_len
    FROM nation
    UNION ALL
    SELECT 2000 + n_regionkey, 'way', CAST(9 + 16 * COUNT(*) AS INT)
    FROM nation GROUP BY n_regionkey
"""

query(q_osm_ways, SQL_OSM_WAYS)


# ======================================================================
# to_wide: long → (cat,sub)-pivoted wide layout (reference
# inv_to_xarray / raster export, utils/translators.py:11-49)
# ======================================================================
def q_to_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    return to_wide(e)


def _wide_cell_sql() -> str:
    cases = []
    for cat in ("A", "N", "R"):
        for sub in ("F", "O"):
            cases.append(
                f"SUM(CASE WHEN category = '{cat}' AND substance = '{sub}' "
                f"THEN value_kg_y END) AS \"{cat}__{sub}\""
            )
    return ", ".join(cases)


SQL_TO_WIDE = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    )
    SELECT cell_id, {_wide_cell_sql()}
    FROM e GROUP BY cell_id
"""

query(q_to_wide, SQL_TO_WIDE)


# ======================================================================
# icon_oem_sf: OEM region scaling factors with UTC-shift roll
# (reference exports/icon.py:505-526)
# ======================================================================
def q_icon_oem_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    regions = local_rows_df(spark,
        [(r, f"R{r}", r - 2) for r in range(6)],
        "region_id int, region_key string, tz_shift int",
    )
    index = local_rows_df(spark,
        [("traffic", "NOx", r, "daily", r % 3) for r in range(6)],
        "category string, substance string, region_id int, ptype string, profile_id int",
    )
    out = region_scaling_factors(index, daily_k(spark), regions)
    return out.select(
        "category", "substance", "region_id", "profile_id",
        F.posexplode("sf").alias("pos", "sf"),
    )


SQL_ICON_OEM_SF = """
    SELECT 'traffic' AS category, 'NOx' AS substance,
           CAST(r.r AS INT) AS region_id, CAST(r.r % 3 AS INT) AS profile_id,
           CAST(p.pos AS INT) AS pos,
           ((((p.pos + (r.r - 2)) % 24 + 24) % 24) + 1 + (r.r % 3))
               / (300.0 + 24 * (r.r % 3)) * 24 AS sf
    FROM range(6) r(r), range(24) p(pos)
"""

query(q_icon_oem_sf, SQL_ICON_OEM_SF)


# ======================================================================
# shapefile_regions: .shp/.dbf → regions table → cell fractions
# (reference get_natural_earth/get_timezones + get_country_mask,
# emiproc/utilities.py:103-314, 317-531)
# ======================================================================
def q_shapefile_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = sorted(
        fx.load(spark, sf_dir, "region").select("r_regionkey", "r_name").collect(),
        key=lambda r: r["r_regionkey"],
    )
    # region r covers the x ∈ [2r, 2r+2) stripe of the 10×10 fixture grid
    polys = [
        [np.array([[2.0 * r["r_regionkey"], 0.0], [2.0 * r["r_regionkey"] + 2.0, 0.0],
                   [2.0 * r["r_regionkey"] + 2.0, 10.0], [2.0 * r["r_regionkey"], 10.0]])]
        for r in regs
    ]
    attrs = pd.DataFrame({"NAME": [r["r_name"] for r in regs]})
    base = os.path.join(fx.scratch_dir("emiproc_shp_"), "regions")
    write_shapefile(base, polys, attrs)
    regions = shapefile_to_regions(spark, base + ".shp", label_field="NAME")
    fr = cell_region_fractions(regions, fx.fine_grid(spark), tile=2.5)
    return fr.withColumn("fraction", qd("fraction"))


SQL_SHAPEFILE_REGIONS = """
    SELECT t.i * 10 + s.j AS cell_id, r.r_name AS country, 1.0 AS fraction
    FROM range(10) t(i) CROSS JOIN range(10) s(j)
    JOIN region r ON r.r_regionkey = t.i // 2
"""

query(q_shapefile_regions, SQL_SHAPEFILE_REGIONS)


# ======================================================================
# fluxie export file layout round-trip (reference exports/fluxie.py):
# write the yearly per-substance NetCDFs, read flux_total_prior and the
# country rollup back, compare against the closed-form SQL
# ======================================================================
FLUXIE_YEAR = 2020


def q_fluxie_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-stage quantized pre-aggregation: the per-(cell, substance)
    # value entering the file is byte-identical to the oracle's nested
    # sumd, so the export's internal category sum adds single rows only
    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
        .groupBy("cell_id", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
        .withColumn("category", F.lit("all"))
    )
    grid = raster_grid(spark)
    cfrac = grid.select(
        "cell_id",
        F.concat(F.lit("C"), (F.col("cell_id") % 3).cast("string")).alias(
            "country"
        ),
        F.lit(1.0).alias("fraction"),
    )
    out = fx.scratch_dir("emiproc_fluxie_")
    export_fluxie({FLUXIE_YEAR: agg}, grid, cfrac, out)
    rows = []
    base = os.path.join(out, "emiproc")
    for sub in sorted(os.listdir(base)):
        ds = read_netcdf(
            os.path.join(base, sub, f"emiproc_{sub}_yearly.nc")
        )  # files are read eagerly below, so the tree can be removed
        # before returning (repeated sweeps must not accumulate /tmp)
        flux = np.asarray(ds.variables["flux_total_prior"].data)[0]
        cflux = np.asarray(ds.variables["country_flux_total_prior"].data)[0]
        countries = list(ds.variables["country"].data)
        lats = np.asarray(ds.variables["latitude"].data)
        lons = np.asarray(ds.variables["longitude"].data)
        for li, lat in enumerate(lats):
            for lo, lon in enumerate(lons):
                if flux[li, lo] != 0.0:
                    rows.append(
                        (sub, "cell", float(lon), float(lat), float(flux[li, lo]))
                    )
        for ci, c in enumerate(countries):
            if isinstance(c, np.ndarray):  # NetCDF char-matrix row
                c = c.tobytes().decode().rstrip("\x00").strip()
            elif isinstance(c, bytes):
                c = c.decode()
            rows.append((sub, "country:" + c, -1.0, -1.0, float(cflux[ci])))

    shutil.rmtree(out, ignore_errors=True)
    # cell fluxes are byte-identical µ-multiples (qd at 1e9 is exact on
    # identical inputs); country sums are float dots in engine-specific
    # order, so quantize those to 1e-2 (≫ the ~1e-8 order noise)
    out_df = local_rows_df(spark,
        rows, "substance string, kind string, lon double, lat double, flux double"
    )
    return out_df.select(
        "substance",
        "kind",
        "lon",
        "lat",
        F.when(F.col("kind") == "cell", qd("flux"))
        .otherwise(qd("flux", 100.0))
        .alias("flux"),
    )


SQL_FLUXIE_EXPORT = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    agg AS (
        SELECT cell_id, substance, {sql_sumd('value_kg_y')} AS v
        FROM (
            SELECT cell_id, category, substance,
                   {sql_sumd('value_kg_y')} AS value_kg_y
            FROM e GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    ),
    cells AS (
        SELECT substance, 'cell' AS kind,
               CAST(cell_id // 10 AS DOUBLE) AS lon,
               CAST(cell_id % 10 AS DOUBLE) AS lat,
               {sql_qd('v / 1.0')} AS flux
        FROM agg WHERE v <> 0.0
    ),
    countries AS (
        SELECT substance, 'country:C' || CAST(cell_id % 3 AS VARCHAR) AS kind,
               -1.0 AS lon, -1.0 AS lat,
               {sql_qd('SUM(v / 1.0)', 100.0)} AS flux
        FROM agg GROUP BY 1, 2
    )
    SELECT * FROM cells UNION ALL SELECT * FROM countries
"""

query(q_fluxie_export, SQL_FLUXIE_EXPORT)


# ======================================================================
# ICON triangular-mesh ingest + remap (reference ICONGrid,
# emiproc/grids.py:837-1013)
# ======================================================================
# Mesh: the 10×10 fixture extent tiled by 2×2 squares, each split along
# the main diagonal into a lower and an upper triangle → 50 cells, id =
# (tx*5 + ty)*2 + (0 lower | 1 upper).  Unit fine cells land exactly on
# triangle interiors (weight 1) or on the diagonal (weight 0.5 each),
# so the oracle is closed-form integer arithmetic.


def _icon_mesh_file(spark: SparkSession) -> str:
    lon, lat = [], []
    for tx in range(5):
        for ty in range(5):
            x0, y0 = tx * 2.0, ty * 2.0
            lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])
            lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])

    path = os.path.join(fx.scratch_dir("emiproc_icon_"), "grid.nc")
    return make_icon_grid_file(path, np.array(lon), np.array(lat))


def q_icon_mesh(spark: SparkSession, sf_dir: str) -> DataFrame:
    mesh = icon_mesh_grid(spark, _icon_mesh_file(spark))
    fine = regular_grid(spark, 0.0, 0.0, fx.FINE_NX, fx.FINE_NY, 1.0, 1.0)
    w = weights_poly_poly(
        fine.select(
            F.col("cell_id").alias("source_id"), "geometry",
            "xmin", "ymin", "xmax", "ymax",
        ),
        mesh,
        tile=2.0,
    )
    e = fx.emissions(spark, sf_dir)
    return (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"])
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )


# fine cell c: i = c // 10 (x), j = c % 10 (y); tile (i//2, j//2);
# in-tile (i%2, j%2): (1,0) → lower only, (0,1) → upper only,
# (0,0)/(1,1) → half each
SQL_ICON_MESH = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    m AS (
        SELECT cell_id, category, substance, value_kg_y,
               ((cell_id // 10) // 2) * 5 + ((cell_id % 10) // 2) AS tile,
               (cell_id // 10) % 2 AS ui, (cell_id % 10) % 2 AS uj
        FROM e
    ),
    x AS (
        SELECT tile * 2 AS mesh_cell, category, substance,
               value_kg_y * 1.0 AS value_kg_y
        FROM m WHERE ui = 1 AND uj = 0
        UNION ALL
        SELECT tile * 2 + 1, category, substance, value_kg_y * 1.0
        FROM m WHERE ui = 0 AND uj = 1
        UNION ALL
        SELECT tile * 2, category, substance, value_kg_y * 0.5
        FROM m WHERE ui = uj
        UNION ALL
        SELECT tile * 2 + 1, category, substance, value_kg_y * 0.5
        FROM m WHERE ui = uj
    )
    SELECT mesh_cell AS cell_id, category, substance,
           {sql_sumd('value_kg_y')} AS value_kg_y
    FROM x GROUP BY 1, 2, 3
"""

query(q_icon_mesh, SQL_ICON_MESH)


# ======================================================================
# YAML profile definitions (reference profiles/temporal/io.py:211-306):
# write → read → normalized dedup store.  Ratios are dyadic rationals
# ((k+1)/16, /8, /4) whose double sums are exact in ANY fold order, so
# normalization is bit-identical with no quantizer.
# ======================================================================
def q_profiles_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full write→read round-trip: profiles_to_yaml dumps the raw ratio
    lists (reference to_yaml dumps profile.ratios verbatim), then
    profiles_from_yaml reads + normalizes them into the dedup store."""

    path = os.path.join(fx.scratch_dir("emiproc_yaml_"), "prof.yaml")
    prof = local_rows_df(spark,
        [
            ("daily", [(h + 1) / 16.0 for h in range(24)]),
            ("weekly", [(d + 1) / 8.0 for d in range(7)]),
            ("monthly", [(m + 1) / 4.0 for m in range(12)]),
        ],
        schema="ptype string, ratios array<double>",
    )
    profiles_to_yaml(prof, path)
    store, _index = profiles_from_yaml(spark, path)
    return store.select(
        "profile_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    )


# ids are the lexicographic rank of (ptype, ratios): daily < monthly <
# weekly.  Sums: 24 terms/16 → 18.75, 12/4 → 19.5, 7/8 → 3.5 (exact).
SQL_PROFILES_YAML = """
    SELECT 0 AS profile_id, 'daily' AS ptype, CAST(p.pos AS INT) AS pos,
           ((p.pos + 1) / 16.0) / 18.75 AS ratio
    FROM range(24) p(pos)
    UNION ALL
    SELECT 1, 'monthly', CAST(p.pos AS INT), ((p.pos + 1) / 4.0) / 19.5
    FROM range(12) p(pos)
    UNION ALL
    SELECT 2, 'weekly', CAST(p.pos AS INT), ((p.pos + 1) / 8.0) / 3.5
    FROM range(7) p(pos)
"""

try:  # pyyaml is an optional dependency (pyproject [yaml]/[dev]); the
    # registry must import cleanly without it
    import yaml as _yaml  # noqa: F401

    query(q_profiles_yaml, SQL_PROFILES_YAML)
except ImportError:  # pragma: no cover
    pass


# ======================================================================
# edgar_profiles — EDGAR auxiliary weekly + hour-of-week-per-month
# composite profiles (reference emiproc/inventories/edgar/temporal.py)
# ======================================================================
def write_edgar_aux(d: str) -> None:
    """Reference-format fixture: AAA uses weekend type 0 (Sat/Sun),
    SEA type 2 (Fri/Sat); hourly value = daytype*48 + hour so the
    oracle recomputes every position in closed form."""
    with open(os.path.join(d, "weekly_profiles.csv"), "w") as f:
        f.write("Country_code_A3,activity_code,Weekday_id,daily_factor\n")
        for c in ("AAA", "SEA"):
            for cat in ("ENE", "IND"):
                for w in range(1, 8):
                    f.write(f"{c},{cat},{w},{w if cat == 'ENE' else 1}\n")
    with open(os.path.join(d, "hourly_profiles.csv"), "w") as f:
        f.write(
            "Country_code_A3,activity_code,month_id,Daytype_id,"
            + ",".join(f"h{i}" for i in range(1, 25))
            + "\n"
        )
        for c in ("AAA", "SEA"):
            for cat in ("ENE", "IND"):
                for m in range(1, 13):
                    for dt in (1, 2, 3):
                        vals = ",".join(str(dt * 48 + h) for h in range(1, 25))
                        f.write(f"{c},{cat},{m},{dt},{vals}\n")
    with open(os.path.join(d, "weekenddays.csv"), "w") as f:
        f.write("Weekend_type_id;Country_code_A3\n0;AAA\n2;SEA\n")
    with open(os.path.join(d, "weekdays.csv"), "w") as f:
        f.write("Weekend_type_id;weekday_name;Weekday_id;Daytype_id\n")
        for wt, dts in ((0, [1, 1, 1, 1, 1, 2, 3]), (2, [1, 1, 1, 1, 2, 3, 3])):
            for w, dt in enumerate(dts, start=1):
                f.write(f"{wt};day{w};{w};{dt}\n")


def q_edgar_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGAR auxiliary tables → composite profile store + index, long
    form.  Exercises the weekend-type day-type placement, SEA → -99,
    the country alias fan-out and the 3-letter category-prefix
    fallback (reference emiproc/inventories/edgar/temporal.py:62-259)."""

    d = fx.scratch_dir("emiproc_edgar_aux_")
    write_edgar_aux(d)
    store, index = edgar_auxiliary_profiles(
        spark,
        d,
        inv_categories=["ENE", "INDZZZ"],
        country_aliases={"BBB": "AAA"},
    )
    return (
        index.join(store, "profile_id")
        .select(
            "country",
            "category",
            "ptype",
            F.posexplode("ratios").alias("pos", "ratio"),
        )
        .withColumn("ratio", qd("ratio"))
    )


SQL_EDGAR_PROFILES = """
    WITH c(country, wt) AS (VALUES ('AAA', 0), ('-99', 2), ('BBB', 0)),
    cat(category) AS (VALUES ('ENE'), ('INDZZZ')),
    wk AS (
        SELECT country, category, 'weekly' AS ptype, t.pos,
               CASE WHEN category = 'ENE'
                    THEN CAST(t.pos + 1 AS DOUBLE) / 28.0
                    ELSE 1.0 / 7.0 END AS ratio
        FROM c, cat, UNNEST(range(7)) AS t(pos)
    ),
    hp_raw AS (
        SELECT country, category, t.pos,
               CASE WHEN wt = 0
                    THEN CASE WHEN (t.pos % 168) // 24 <= 4 THEN 1
                              WHEN (t.pos % 168) // 24 = 5 THEN 2
                              ELSE 3 END
                    ELSE CASE WHEN (t.pos % 168) // 24 <= 3 THEN 1
                              WHEN (t.pos % 168) // 24 = 4 THEN 2
                              ELSE 3 END
               END * 48 + (t.pos % 24) + 1 AS v
        FROM c, cat, UNNEST(range(2016)) AS t(pos)
    ),
    hp AS (
        SELECT country, category, 'hour_of_week_per_month' AS ptype, pos,
               CAST(v AS DOUBLE)
               / SUM(CAST(v AS DOUBLE)) OVER (PARTITION BY country, category)
               AS ratio
        FROM hp_raw
    )
    SELECT country, category, ptype, CAST(pos AS INT) AS pos,
           {qd} AS ratio
    FROM (SELECT * FROM wk UNION ALL SELECT * FROM hp)
""".format(qd=sql_qd("ratio"))

query(q_edgar_profiles, SQL_EDGAR_PROFILES)


# ======================================================================
# netcdf4_ingest — raster export → re-ingest through the NetCDF-4/HDF5
# container (minimal pure-numpy writer + reader, functions/hdf5*.py)
# ======================================================================
def q_netcdf4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_nc4_"), "inv.nc")
    export_raster_netcdf(
        agg, raster_grid(spark), out, add_totals=False, container="hdf5"
    )
    return from_netcdf_rasters(spark, out)


def _sql_netcdf4_ingest() -> str:
    return SQL_NETCDF_INGEST


query(q_netcdf4_ingest, _sql_netcdf4_ingest())


# ======================================================================
# oem_profiles_export — the full export_inventory_profiles composition
# (OEM per-cycle files + tz_mask raster) read back from disk
# ======================================================================
def q_oem_profiles_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4×4 grid, UTC/CET checkerboard by latitude row, one daily
    profile: the hourofday matrix carries the tz-rolled scaling factors
    (regions sorted by tzid: CET=0 shift +1, UTC=1 shift 0) and tz_mask
    holds the region index per raster cell."""

    index = local_rows_df(spark,
        [("A", "F", "daily", 0)],
        "category string, substance string, ptype string, profile_id int",
    )
    store = local_rows_df(spark,
        [(0, "daily", [(h + 1) / 300.0 for h in range(24)])],
        "profile_id int, ptype string, ratios array<double>",
    )
    grid = regular_grid(spark, 0.0, 0.0, 4, 4, 1.0, 1.0, with_geometry=False)
    cell_tz = grid.select(
        "cell_id",
        F.when(F.col("cell_id") % 2 == 0, "UTC").otherwise("CET").alias("tzid"),
    )
    d = fx.scratch_dir("emiproc_oem_")
    out = export_inventory_profiles(
        index, store, cell_tz, grid, d, tz_shifts={"CET": 1}
    )
    hod = read_netcdf(out["hourofday"]).variables["A_F"].data
    tzm = read_netcdf(out["tz_mask"]).variables["tz_mask"].data
    rows = [
        ("sf", int(r), int(h), float(hod[h, r]))
        for h in range(hod.shape[0])
        for r in range(hod.shape[1])
    ] + [
        ("tz", -1, int(p), float(v))
        for p, v in enumerate(tzm.reshape(-1))
    ]
    return local_rows_df(spark,
        rows, "kind string, region int, pos int, value double"
    ).withColumn("value", qd("value"))


SQL_OEM_PROFILES_EXPORT = """
    SELECT 'sf' AS kind, CAST(r.r AS INT) AS region, CAST(p.pos AS INT) AS pos,
           {qd_sf} AS value
    FROM range(2) r(r), range(24) p(pos)
    UNION ALL
    SELECT 'tz', -1, CAST(t.p AS INT),
           CASE WHEN (t.p // 4) % 2 = 0 THEN 1.0 ELSE 0.0 END
    FROM range(16) t(p)
""".format(
    qd_sf=sql_qd(
        "((p.pos + CASE WHEN r.r = 0 THEN 1 ELSE 0 END) % 24 + 1) / 300.0 * 24"
    )
)

query(q_oem_profiles_export, SQL_OEM_PROFILES_EXPORT)


# ======================================================================
# gfed4_ingest — GFED4 HDF5 layout (nested emissions/MM/partitioning
# groups) written by the minimal writer, scanned by the distributed
# GFED4 reader through the built-in HDF5 codec
# ======================================================================
GFED_NLAT, GFED_NLON = 3, 4


def write_gfed4_fixture(d: str) -> None:
    """DM(month) = month, frac_SAVA = (lat+1)/10, frac_TEMF = (lon+1)/20,
    area = 100 — annual kg = Σ_m month·frac·100 = 7800·frac."""

    lat_i = np.arange(GFED_NLAT)[:, None] * np.ones((1, GFED_NLON))
    lon_i = np.ones((GFED_NLAT, 1)) * np.arange(GFED_NLON)[None, :]
    vs = {
        "ancill/grid_cell_area": NCVariable(
            "a", ("lat", "lon"), np.full((GFED_NLAT, GFED_NLON), 100.0), {}
        )
    }
    for m in range(1, 13):
        vs[f"emissions/{m:02}/DM"] = NCVariable(
            "dm", ("lat", "lon"), np.full((GFED_NLAT, GFED_NLON), float(m)), {}
        )
        vs[f"emissions/{m:02}/partitioning/DM_SAVA"] = NCVariable(
            "p", ("lat", "lon"), (lat_i + 1) / 10.0, {}
        )
        vs[f"emissions/{m:02}/partitioning/DM_TEMF"] = NCVariable(
            "p", ("lat", "lon"), (lon_i + 1) / 20.0, {}
        )
    ds = NCDataset(dims={"lat": GFED_NLAT, "lon": GFED_NLON}, variables=vs)
    write_netcdf4(os.path.join(d, "GFED4.1s_2020.hdf5"), ds)


def q_gfed4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.scratch_dir("emiproc_gfed4_")
    write_gfed4_fixture(d)
    return gfed4_emissions(spark, d).withColumn("value_kg_y", qd("value_kg_y"))


SQL_GFED4_INGEST = """
    WITH cells AS (
        SELECT CAST(lon.i * {nlat} + lat.i AS BIGINT) AS cell_id,
               lat.i AS lat_i, lon.i AS lon_i
        FROM UNNEST(range({nlat})) AS lat(i), UNNEST(range({nlon})) AS lon(i)
    )
    SELECT cell_id, 'SAVA' AS category, 'DM' AS substance,
           {qd_sava} AS value_kg_y
    FROM cells
    UNION ALL
    SELECT cell_id, 'TEMF', 'DM', {qd_temf}
    FROM cells
""".format(
    nlat=GFED_NLAT,
    nlon=GFED_NLON,
    qd_sava=sql_qd("7800.0 * (lat_i + 1) / 10.0"),
    qd_temf=sql_qd("7800.0 * (lon_i + 1) / 20.0"),
)

query(q_gfed4_ingest, SQL_GFED4_INGEST)


# ======================================================================
# png_cycle — real image decode through the pure-numpy PNG codec
# ======================================================================
N_IMAGES = 200
SIDE = 4


def q_png_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                px = (
                    (i * 31 + np.arange(SIDE * SIDE)) % 256
                ).astype(np.uint8).reshape(SIDE, SIDE)
                img = decode_image(write_png(px), fake=False)
                flat = img.astype(np.int64)
                out.append(
                    {
                        "doc_id": i,
                        "n_px": int(flat.size),
                        "checksum": int(flat.sum() % 1_000_003),
                        "mean_byte": float(flat.mean()),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_px", "checksum", "mean_byte"]
            )

    return spark.range(N_IMAGES).mapInPandas(
        run, "doc_id long, n_px long, checksum long, mean_byte double"
    )


SQL_PNG_CYCLE = f"""
    WITH px AS (
        SELECT d.i AS doc_id, (d.i * 31 + p.p) % 256 AS v
        FROM range({N_IMAGES}) d(i), range({SIDE * SIDE}) p(p)
    )
    SELECT doc_id,
           CAST({SIDE * SIDE} AS BIGINT) AS n_px,
           CAST(SUM(v) % 1000003 AS BIGINT) AS checksum,
           CAST(SUM(v) AS DOUBLE) / {SIDE * SIDE} AS mean_byte
    FROM px GROUP BY doc_id
"""

query(q_png_cycle, SQL_PNG_CYCLE)


# ======================================================================
# gpkg_lines — line-buffer ingest (inventories/utils.py:58-88)
# ======================================================================
_LINE_WIDTH = 10.0


def q_gpkg_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = (
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey")
        .toPandas()
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    # horizontal segments at integer coordinates: every buffered vertex
    # is exact, so the shoelace area is the closed form bit-for-bit
    pdf = pd.DataFrame(
        {
            "geometry": [
                wkb_linestring(
                    [(0.0, float(k)), (10.0 * (k + 1), float(k))]
                )
                for k in nat["n_nationkey"]
            ],
            "Shape_Length": [10.0 * (k + 1) for k in nat["n_nationkey"]],
            "Emission_CO2": nat["n_nationkey"] * 2.0,
        }
    )
    layer = (
        spark.createDataFrame(pdf)
        .coalesce(1)
        .sortWithinPartitions("Shape_Length")
    )
    path = os.path.join(fx.scratch_dir("emiproc_gpkgl_"), "lines.gpkg")
    export_to_geopackage({"traffic_lines": layer}, path)
    out = from_geopackage(spark, path, line_width=_LINE_WIDTH)

    @F.pandas_udf("double")
    def poly_area(geoms: pd.Series) -> pd.Series:
        return pd.Series(
            [
                abs(geom.shoelace_area(np.asarray(geom.parse_wkb(bytes(b))[1][0])))
                for b in geoms
            ]
        )

    return out.select(
        "category",
        "source_id",
        "substance",
        "value_kg_y",
        qd(poly_area("geometry")).alias("area"),
    )


SQL_GPKG_LINES = f"""
    SELECT 'traffic_lines' AS category, n_nationkey + 1 AS source_id,
           'CO2' AS substance, n_nationkey * 2.0 AS value_kg_y,
           {sql_qd(f"(10.0 * (n_nationkey + 1) + 2 * {_LINE_WIDTH}) * 2 * {_LINE_WIDTH}")} AS area
    FROM nation
"""

query(q_gpkg_lines, SQL_GPKG_LINES)


# ======================================================================
# cf_attrs — nc_cf_attributes read-back (reference exports/netcdf.py:6-69)
# ======================================================================
_CF_FIELDS = {
    "title": "r5 attrs check",
    "author": "emiproc_spark",
    "institution": "driver",
    "source": "sf fixtures",
    "comment": "cf attrs oracle",
    "references": "SURVEY.md",
}


def q_cf_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_cf_"), "inv.nc")
    export_raster_netcdf(
        agg,
        raster_grid(spark),
        out,
        add_totals=False,
        netcdf_attributes=cf_global_attributes(**_CF_FIELDS),
    )

    files = spark.read.format("binaryFile").load(out).select("content")

    def attrs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                ds = read_netcdf(bytes(content), header_only=True)
                rows = [
                    {"key": k, "value": str(ds.attrs[k])}
                    for k in sorted(_CF_FIELDS)
                    if k in ds.attrs
                ]
                rows.append(
                    {
                        "key": "Conventions",
                        "value": str(ds.attrs.get("Conventions", "")),
                    }
                )
                # timestamped fields: presence + stamp-format markers
                rows.append(
                    {
                        "key": "history_stamped",
                        "value": str(
                            "created by emiproc_spark"
                            in str(ds.attrs.get("history", ""))
                        ).lower(),
                    }
                )
                rows.append(
                    {
                        "key": "created_is_iso",
                        "value": str(
                            str(ds.attrs.get("created", "")).count("-") >= 2
                            and "T" in str(ds.attrs.get("created", ""))
                        ).lower(),
                    }
                )
                yield pd.DataFrame(rows, columns=["key", "value"])

    return files.mapInPandas(attrs, "key string, value string")


def _sql_cf_attrs() -> str:
    vals = ", ".join(f"('{k}', '{v}')" for k, v in sorted(_CF_FIELDS.items()))
    return f"""
        SELECT key, value FROM (VALUES
            {vals},
            ('Conventions', 'CF-1.10'),
            ('history_stamped', 'true'),
            ('created_is_iso', 'true')
        ) t(key, value)
    """


query(q_cf_attrs, _sql_cf_attrs())


# ======================================================================
# wav_cycle — WAV codec round-trip + audio features (functions/wav.py)
# ======================================================================
WAV_RATE = 8000


def q_wav_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a deterministic int16 waveform per doc through the
    pure-numpy WAV codec, decode it back with the same codec inside
    ``audio_features`` (mapInPandas), and emit exact-integer stats; the
    oracle recomputes every stat arithmetically from the sample formula
    — the codec must be lossless for the hashes to match.
    """

    ids = fx.load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 200
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 160 + (d % 7) * 40
                i = np.arange(n, dtype=np.int64)
                samples = ((d * 31 + i * 17) % 2048 - 1024).astype(np.int16)
                rows.append({"doc_id": d, "payload": encode_wav(samples, WAV_RATE)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = ids.mapInPandas(gen, schema="doc_id long, payload binary")
    return audio_features(media)


SQL_WAV_CYCLE = f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
    s AS (
        SELECT ids.doc_id,
               t.i,
               ((ids.doc_id * 31 + t.i * 17) % 2048) - 1024 AS v
        FROM ids,
             UNNEST(range(160 + (ids.doc_id % 7) * 40)) AS t(i)
    ),
    sgn AS (
        SELECT doc_id, i, CASE WHEN v > 0 THEN 1 ELSE -1 END AS g
        FROM s WHERE v <> 0
    ),
    zc AS (
        SELECT doc_id,
               CAST(COALESCE(SUM(CASE WHEN flip THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n
        FROM (SELECT doc_id,
                     g <> LAG(g) OVER (PARTITION BY doc_id ORDER BY i) AS flip
              FROM sgn)
        GROUP BY doc_id
    )
    SELECT s.doc_id,
           {WAV_RATE} AS sample_rate,
           COUNT(*) AS n_samples,
           1 AS channels,
           COUNT(*) / {WAV_RATE}.0 AS duration_s,
           CAST(MAX(ABS(v)) AS INT) AS peak,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(COALESCE(MIN(zc.n), 0) AS BIGINT) AS zero_crossings
    FROM s LEFT JOIN zc ON zc.doc_id = s.doc_id
    GROUP BY s.doc_id
"""

query(q_wav_cycle, SQL_WAV_CYCLE)


# ======================================================================
# frame_sample — video-column plumbing (operators/multimodal.py:110)
# ======================================================================
FRAME_STEP = 64


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic opaque 'video' payloads (40–295 bytes, JVM-built:
    repeat→cast binary, no Python in the path) sampled every 64 bytes.
    One output row per (doc, frame); the oracle recomputes the offset
    lattice from the payload-length formula.
    """

    n = (F.col("doc_id") * 13 % 256 + 40).cast("int")
    media = (
        fx.load(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 400)
        .select("doc_id", F.repeat(F.lit("x"), n).cast("binary").alias("payload"))
    )
    out = frame_sample(media, every_n_bytes=FRAME_STEP)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )


SQL_FRAME_SAMPLE = f"""
    SELECT d.doc_id,
           CAST(t.v // {FRAME_STEP} AS BIGINT) AS frame_idx,
           CAST(t.v AS BIGINT) AS byte_offset
    FROM (SELECT doc_id FROM documents WHERE doc_id < 400) d,
         UNNEST(range(0, d.doc_id * 13 % 256 + 40, {FRAME_STEP})) AS t(v)
"""

query(q_frame_sample, SQL_FRAME_SAMPLE)


# ======================================================================
# image_resize — decode → nearest-neighbor resize → stats (multimodal)
# ======================================================================
RS_N, RS_SIDE, RS_H, RS_W = 300, 24, 10, 6


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode + resize path: deterministic 24x24 grey PNGs decoded
    through the pure-numpy codec, nearest-neighbor resized to 10x6 with
    the exact integer index map (src = (dst*24)//10), stats of the
    RESIZED pixels emitted.  The oracle recomputes the sampled pixel
    lattice arithmetically — codec and resize must both be exact for
    the hashes to match."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                px = (
                    (i * 31 + np.arange(RS_SIDE * RS_SIDE)) % 256
                ).astype(np.uint8).reshape(RS_SIDE, RS_SIDE)
                rows.append({"doc_id": i, "payload": write_png(px)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = spark.range(RS_N).mapInPandas(run, "doc_id long, payload binary")
    return resize_features(media, RS_H, RS_W)


SQL_IMAGE_RESIZE = f"""
    WITH px AS (
        SELECT d.i AS doc_id,
               (d.i * 31 + ((r.r * {RS_SIDE}) // {RS_H}) * {RS_SIDE}
                         + ((c.c * {RS_SIDE}) // {RS_W})) % 256 AS v
        FROM range({RS_N}) d(i), range({RS_H}) r(r), range({RS_W}) c(c)
    )
    SELECT doc_id,
           {RS_H} AS out_h, {RS_W} AS out_w,
           CAST({RS_H * RS_W} AS BIGINT) AS n_px,
           CAST(SUM(v) % 1000003 AS BIGINT) AS checksum,
           CAST(SUM(v) AS DOUBLE) / {RS_H * RS_W} AS mean_byte
    FROM px GROUP BY doc_id
"""

query(q_image_resize, SQL_IMAGE_RESIZE)


# ======================================================================
# zorder_layout — Morton tiles (operators/layout.py)
# ======================================================================
Z_SIDE_BITS = 7  # 128×128 point lattice
Z_PREFIX_SHIFT = 6  # each prefix = an 8×8 tile (2^6 curve positions)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the lineitem (partkey, suppkey) point set and report per
    curve-prefix extents: every prefix must be a tight 8×8 tile, which
    is exactly the min/max file-statistics guarantee a Z-clustered
    write gives the scan pruner at 100 TB."""

    pts = fx.load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 128).alias("x"),
        (F.col("l_suppkey") % 128).alias("y"),
    )
    keyed = pts.withColumn("zkey", zorder_key("x", "y", Z_SIDE_BITS))
    return layout_extents(keyed, "x", "y", "zkey", Z_PREFIX_SHIFT)


SQL_ZORDER_LAYOUT = f"""
    WITH pts AS (
        SELECT l_partkey % 128 AS x, l_suppkey % 128 AS y FROM lineitem
    ),
    k AS (SELECT x, y, {zorder_key_sql("x", "y", Z_SIDE_BITS)} AS z FROM pts)
    SELECT (z >> {Z_PREFIX_SHIFT}) AS z_prefix,
           COUNT(*) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM k GROUP BY 1
"""

query(q_zorder_layout, SQL_ZORDER_LAYOUT)


# ======================================================================
# orc_partitioned — hive-partitioned ORC round-trip (exports/store.py)
# ======================================================================
ORC_LANGS = ("en", "de", "fr")


def q_orc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → lang-partitioned ORC → pruned read of 3 of 5
    partitions → per-lang rollup.  Integer sums only (n_chars), so the
    round-trip is exact; the oracle reads the source parquet with the
    same predicate."""

    # written once per sf_dir: the benchmark times the pruned read,
    # not the sink
    def build(path: str) -> None:
        docs = fx.load(spark, sf_dir, "documents").select(
            "doc_id", "n_chars", "lang"
        )
        save_partitioned(docs, path, ["lang"], fmt="orc")

    path = fx.store("orc_docs", sf_dir, build)
    back = read_partitioned(spark, path, fmt="orc")
    return (
        back.where(F.col("lang").isin(*ORC_LANGS))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_ORC_LANG_LIST = ", ".join(f"'{lang}'" for lang in ORC_LANGS)
SQL_ORC_PARTITIONED = f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ({_ORC_LANG_LIST})
    GROUP BY lang
"""

query(q_orc_partitioned, SQL_ORC_PARTITIONED)


# ======================================================================
# jsonl_roundtrip — JSON-lines sink + schema-explicit source
# ======================================================================
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(path: str) -> None:
        fx.load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        ).write.mode("overwrite").json(path)

    path = fx.store("jsonl_docs", sf_dir, build)
    # explicit schema: inference would cost a second full scan, and at
    # 100 TB the contract should come from the catalog, not the data
    back = spark.read.schema("doc_id long, lang string, text string").json(
        path
    )
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("text_chars"),
    )


SQL_JSONL_ROUNDTRIP = """
    SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_chars
    FROM documents
"""

query(q_jsonl_roundtrip, SQL_JSONL_ROUNDTRIP)
