"""Driver-contract queries for I/O paths and round-2 operators.

Same contract as ``driver_queries``: each Spark callable has a DuckDB
oracle computing the identical result in closed-form ANSI SQL over the
driver's parquet tables.  Float determinism via qhelpers quantization.

The NetCDF queries exercise the REAL file path: the Spark side writes a
classic NetCDF-3 file with the pure-numpy codec, re-ingests it through
the distributed ``binaryFile``+``mapInPandas`` scan, and must agree
with an oracle that never leaves SQL — so codec, layout (lon-major cell
ids), unit identity, and time-mean semantics are all on the hook.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark.operators import speciation as spn
from emiproc_spark.qhelpers import qd, sql_qd, sql_sumd, sumd
from emiproc_spark.sources.readers import SECONDS_PER_YEAR
from emiproc_spark.registry import query

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
def _raster_grid(spark: SparkSession) -> DataFrame:
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
    from emiproc_spark.exports.netcdf import export_raster_netcdf
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    # pre-aggregate with exact quantized sums so the values entering the
    # file are engine-independent; everything after is per-row exact
    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_nc_"), "inv.nc")
    export_raster_netcdf(agg, _raster_grid(spark), out, add_totals=False)
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
def _tno_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic TNO-layout file derived from lineitem + supplier.

    Values are floored to integer-valued doubles before writing so every
    downstream sum is order-independent-exact in both engines.
    """
    import pandas as pd

    from emiproc_spark.sources.tno import write_tno_netcdf

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
    from emiproc_spark.sources.tno import tno_area_emissions

    path = _tno_fixture(spark, sf_dir)
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
    from emiproc_spark.sources.tno import tno_point_sources

    path = _tno_fixture(spark, sf_dir)
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
# Format-specific readers (round 2): EDGAR v8 / CAMS-REG-AQ / GFAS /
# Saunois ingest through real NetCDF-3 files vs pure-SQL oracles
# ======================================================================
def _catsub_raster(spark: SparkSession, sf_dir: str, category: str) -> "np.ndarray":
    """Integer-valued 10×10 (lat, lon) raster: FLOOR(µ-sum of emissions)
    per cell for one category — engine-independent by construction."""
    import numpy as np

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
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

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
    from emiproc_spark.functions.netcdf3 import NCVariable, write_netcdf
    from emiproc_spark.sources.formats import edgar_v8

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
    from emiproc_spark.functions.netcdf3 import NCVariable, write_netcdf
    from emiproc_spark.sources.formats import cams_reg_aq

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


def q_gfas_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFAS layout: daily kg m-2 s-1 fire fluxes over one full year;
    inventory = time-mean × year-seconds × spherical cell area
    (reference gfas.py:58-118).  Integer-kg quantization collapses
    sum-fold and libm-sin ulp differences."""
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import gfas_emissions

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
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
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
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import saunois_emissions

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
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
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
    import pandas as pd

    from emiproc_spark.functions.geometry import wkb_point
    from emiproc_spark.sources.geopackage import export_to_geopackage, from_geopackage

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
    import pandas as pd

    from emiproc_spark.exports.gral import HOUR_PER_YR, write_gral_emissions
    from emiproc_spark.functions.geometry import wkb_point
    from emiproc_spark.sources.gral import gral_inventory

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
    from emiproc_spark.sources.swiss import swiss_rasters

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
    from emiproc_spark.sources.tno import tno_gridded_profiles

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
    from emiproc_spark.functions.xlsx import write_xlsx
    from emiproc_spark.sources.swiss import read_prtr

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
    from emiproc_spark.operators.regrid import weights_rect_rect
    from emiproc_spark.plans.cache import cached_weights

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
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import edgar_legacy

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
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(90.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
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
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import wetcharts

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
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT v.cell_id, 'wetcharts' AS category, 'CH4' AS substance,
           FLOOR(v.mean_mg * a.area * 1e-6 * 365.25 * 1e3 + 0.5) AS value_g_y
    FROM vals v JOIN areas a USING (la)
"""

query(q_wetcharts_ingest, SQL_WETCHARTS_INGEST)


# ======================================================================
# GFED5: daily NetCDF sum × 1e-3 × area (reference gfed.py:308-372)
# ======================================================================
def q_gfed5_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.gfed import gfed5_emissions

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
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT v.cell_id, 'gfed' AS category, 'CH4' AS substance,
           FLOOR((v.total * 1e-3) * a.area + 0.5) AS value_kg_y
    FROM vals v JOIN areas a USING (la)
"""

query(q_gfed5_ingest, SQL_GFED5_INGEST)


# ======================================================================
# WRF mole-flux conversion: kg/h → mole/km²/h (reference wrf.py:170-180)
# ======================================================================
def q_wrf_flux(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.wrf import to_mole_flux

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
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import lpj_guess

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
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
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
    from emiproc_spark.sources.profiles_io import read_temporal_profiles_csv

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
    from emiproc_spark.sources.profiles_io import read_vertical_profiles_csv

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
