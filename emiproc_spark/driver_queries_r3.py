"""Round-3 driver-contract queries: explicit coverage for the last
unit-only SURVEY §2 rows — cyclic profile positions (all distinct
types), tz-aware local-time scaling series, profile weights with the
−1 masking rule, and the fluxie export file layout.

Timestamp hygiene: positions are computed on ``timestamp_ntz`` built
from epoch-nanos integer arithmetic (no session-timezone dependence on
either engine); DuckDB mirrors with ``make_timestamp`` on naive
microseconds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark.fixtures import events as _events
from emiproc_spark.operators import temporal as tp
from emiproc_spark.operators.profiles import get_weights_of_profiles
from emiproc_spark.qhelpers import qd, sql_qd, sumd, sql_sumd
from emiproc_spark.registry import query

NS_PER_DAY = 86_400 * 10**9


def _ntz(ev: DataFrame) -> DataFrame:
    """epoch-nanos ``ts`` → ``ts_ntz`` via integer day/second splitting.

    Day extraction uses integral ``div`` — a double division of the
    ~1e18 nanos value carries ~1e-12 relative error, enough to land one
    ulp below an exact day boundary and truncate to the previous day for
    some date ranges.  ns-of-day < 2**53 so its double path is exact.
    """
    ns_of_day = F.col("ts") % F.lit(NS_PER_DAY)
    epoch_day = F.expr(f"ts div {NS_PER_DAY}L").cast("int")
    sec_of_day = (ns_of_day / F.lit(10**9)).cast("long")
    return ev.withColumn(
        "ts_ntz",
        F.date_from_unix_date(epoch_day).cast("timestamp_ntz")
        + F.make_interval(secs=sec_of_day),
    )


# ======================================================================
# all distinct cyclic position types on one event stream (reference
# get_index_in_profile, profiles/temporal/operators.py:49-94)
# ======================================================================
POSITION_TYPES = [
    "daily",
    "weekly",
    "monthly",
    "day_of_year",
    "hour_of_year",
    "hour_of_week",
    "hour3_of_day",
    "hour3_of_day_per_month",
    "hour_of_week_per_month",
]


def q_profile_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ntz(_events(spark, sf_dir).select("event_id", "ts"))
    cols = [
        tp.position_in_profile(F.col("ts_ntz"), t).cast("int").alias(f"pos_{t}")
        for t in POSITION_TYPES
    ]
    return ev.select("event_id", *cols)


SQL_PROFILE_POSITIONS = """
    WITH e AS (
        SELECT event_id,
               make_timestamp(CAST(FLOOR(epoch_ns(ts) / 1000.0) AS BIGINT)) AS t
        FROM events
    )
    SELECT event_id,
           CAST(hour(t) AS INT) AS pos_daily,
           CAST(isodow(t) - 1 AS INT) AS pos_weekly,
           CAST(month(t) - 1 AS INT) AS pos_monthly,
           CAST(dayofyear(t) - 1 AS INT) AS pos_day_of_year,
           CAST((dayofyear(t) - 1) * 24 + hour(t) AS INT) AS pos_hour_of_year,
           CAST((isodow(t) - 1) * 24 + hour(t) AS INT) AS pos_hour_of_week,
           CAST(hour(t) // 3 AS INT) AS pos_hour3_of_day,
           CAST(hour(t) // 3 + (month(t) - 1) * 8 AS INT)
               AS pos_hour3_of_day_per_month,
           CAST((isodow(t) - 1) * 24 + hour(t) + (month(t) - 1) * 168 AS INT)
               AS pos_hour_of_week_per_month
    FROM e
"""

query(q_profile_positions, SQL_PROFILE_POSITIONS)


# ======================================================================
# tz-aware local-time scaling factors (reference
# create_scaling_factors_time_serie, operators.py:443-485)
# ======================================================================
TZS = ["UTC", "Europe/Zurich", "America/New_York", "Asia/Tokyo"]
# daily ratio vector r_h = (h+1)/300 (sums to 1); sf = r[pos]·24
_RATIOS = [(h + 1) / 300.0 for h in range(24)]


def q_local_time_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ntz(_events(spark, sf_dir).select("event_id", "ts", "user_id"))
    ev = ev.withColumn(
        "tz",
        F.element_at(
            F.array(*[F.lit(z) for z in TZS]),
            (F.col("user_id") % 4 + 1).cast("int"),
        ),
    )
    ratios = F.array(*[F.lit(r) for r in _RATIOS])
    out = tp.local_scaling_series(ev, ratios, "daily")
    return out.select("event_id", "tz", "pos_local", qd("sf").alias("sf"))


_SQL_TZ_CASE = (
    "CASE CAST(user_id % 4 AS INT) "
    + " ".join(f"WHEN {i} THEN '{z}'" for i, z in enumerate(TZS))
    + " END"
)

SQL_LOCAL_TIME_SF = f"""
    WITH e AS (
        SELECT event_id, {_SQL_TZ_CASE} AS tz,
               make_timestamp(CAST(FLOOR(epoch_ns(ts) / 1000.0) AS BIGINT)) AS t
        FROM events
    ),
    loc AS (
        SELECT event_id, tz,
               CAST(hour(timezone(tz, timezone('UTC', t))) AS INT) AS pos_local
        FROM e
    )
    SELECT event_id, tz, pos_local,
           {sql_qd('(pos_local + 1) / 300.0 * 24')} AS sf
    FROM loc
"""

query(q_local_time_sf, SQL_LOCAL_TIME_SF)


# ======================================================================
# profile weights with the −1 → weight 0 rule (reference
# get_weights_of_gdf_profiles, profiles/operators.py:253-304)
# ======================================================================
def q_profile_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-quantized per-(cell, category) mass so the weight entering the
    # masking rule is engine-independent
    e = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    w = get_weights_of_profiles(e, ["cell_id", "category"])
    idx = e.select(
        "cell_id",
        "category",
        ((F.col("cell_id") + F.length("category")) % 5 - 1).alias("profile_id"),
    )
    return w.join(idx, ["cell_id", "category"]).select(
        "cell_id",
        "category",
        F.col("profile_id").cast("int").alias("profile_id"),
        F.when(F.col("profile_id") == -1, F.lit(0.0))
        .otherwise(F.col("weight"))
        .alias("weight"),
    )


SQL_PROFILE_WEIGHTS = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    w AS (
        SELECT cell_id, category, {sql_sumd('value_kg_y')} AS weight
        FROM e GROUP BY 1, 2
    )
    SELECT cell_id, category,
           CAST((cell_id + len(category)) % 5 - 1 AS INT) AS profile_id,
           CASE WHEN (cell_id + len(category)) % 5 - 1 = -1
                THEN 0.0 ELSE weight END AS weight
    FROM w
"""

query(q_profile_weights, SQL_PROFILE_WEIGHTS)


# ======================================================================
# fluxie export file layout round-trip (reference exports/fluxie.py):
# write the yearly per-substance NetCDFs, read flux_total_prior and the
# country rollup back, compare against the closed-form SQL
# ======================================================================
FLUXIE_YEAR = 2020


def q_fluxie_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from emiproc_spark.driver_queries_io import _raster_grid
    from emiproc_spark.exports.fluxie import export_fluxie
    from emiproc_spark.functions.netcdf3 import read_netcdf

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
    grid = _raster_grid(spark)
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
    import shutil

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
# CRS transform as a query: swisstopo WGS84→LV95 polynomial on plain
# coordinate columns (reference regrid.py:473-483 CRS reconciliation +
# functions/crs.py kernels).  mm-level quantization absorbs pow()-vs-
# repeated-multiplication ulp differences across engines.
# ======================================================================
def q_crs_lv95(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.functions.crs import LV95, WGS84, transform_columns

    pts = fx.load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (6.0 + (F.col("s_suppkey") % 50) / 12.5).alias("lon"),
        (46.0 + (F.col("s_suppkey") % 11) / 10.0).alias("lat"),
    )
    out = transform_columns(pts, WGS84, LV95, out_x="e", out_y="n")
    return out.select(
        "s_suppkey", qd("e", 1000.0).alias("e"), qd("n", 1000.0).alias("n")
    )


SQL_CRS_LV95 = f"""
    WITH p AS (
        SELECT s_suppkey,
               ((6.0 + (s_suppkey % 50) / 12.5) * 3600.0 - 26782.5) / 10000.0
                   AS lam,
               ((46.0 + (s_suppkey % 11) / 10.0) * 3600.0 - 169028.66) / 10000.0
                   AS phi
        FROM supplier
    )
    SELECT s_suppkey,
           {sql_qd('2600072.37 + 211455.93 * lam - 10938.51 * lam * phi'
                   ' - 0.36 * lam * phi * phi - 44.54 * lam * lam * lam',
                   1000.0)} AS e,
           {sql_qd('1200147.07 + 308807.95 * phi + 3745.25 * lam * lam'
                   ' + 76.63 * phi * phi - 194.56 * lam * lam * phi'
                   ' + 119.79 * phi * phi * phi', 1000.0)} AS n
    FROM p
"""

query(q_crs_lv95, SQL_CRS_LV95)


# ======================================================================
# add_gdf pattern: shaped sources appended with missing-column zero-fill
# (reference Inventory.add_gdf, inventories/__init__.py:339-367)
# ======================================================================
def q_add_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    gridded = fx.emissions(spark, sf_dir).withColumn(
        "source_id", F.lit(None).cast("long")
    )
    shaped = fx.load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("source_id"),
        F.lit("pts").alias("category"),
        F.lit("F").alias("substance"),
        (F.floor(F.abs(F.col("s_acctbal"))) + 1.0).alias("value_kg_y"),
    )
    combined = gridded.unionByName(shaped, allowMissingColumns=True).fillna(
        {"cell_id": -1}
    )
    return combined.groupBy("category", "substance").agg(
        sumd("value_kg_y").alias("total"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("cell_id") == -1, 1).otherwise(0)).alias("n_shaped"),
    )


SQL_ADD_SHAPED = f"""
    WITH g AS (
        SELECT cell_id, category, substance, value_kg_y
        FROM ({fx.EMISSIONS_SQL})
    ),
    s AS (
        SELECT -1 AS cell_id, 'pts' AS category, 'F' AS substance,
               FLOOR(ABS(s_acctbal)) + 1.0 AS value_kg_y
        FROM supplier
    ),
    u AS (SELECT * FROM g UNION ALL SELECT * FROM s)
    SELECT category, substance, {sql_sumd('value_kg_y')} AS total,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN cell_id = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shaped
    FROM u GROUP BY 1, 2
"""

query(q_add_shaped, SQL_ADD_SHAPED)


# ======================================================================
# normalize_ratios incl. the all-zero → uniform rule (reference
# rescale_ratios, composite.py:29-45)
# ======================================================================
def q_normalize_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.profiles import normalize_ratios

    base = fx.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("profile_id"),
        F.array(
            (F.col("n_nationkey") % 5).cast("double"),
            (F.col("n_nationkey") % 3).cast("double"),
            F.lit(0.0),
            (F.col("n_nationkey") % 7).cast("double"),
        ).alias("ratios"),
    )
    out = base.select(
        "profile_id", F.posexplode(normalize_ratios(F.col("ratios"))).alias("pos", "ratio")
    )
    return out.select("profile_id", "pos", qd("ratio").alias("ratio"))


SQL_NORMALIZE_RATIOS = f"""
    WITH base AS (
        SELECT n_nationkey AS profile_id,
               [CAST(n_nationkey % 5 AS DOUBLE), CAST(n_nationkey % 3 AS DOUBLE),
                0.0, CAST(n_nationkey % 7 AS DOUBLE)] AS ratios,
               CAST(n_nationkey % 5 AS DOUBLE) + CAST(n_nationkey % 3 AS DOUBLE)
                   + 0.0 + CAST(n_nationkey % 7 AS DOUBLE) AS total
        FROM nation
    )
    SELECT profile_id, CAST(u.i - 1 AS INT) AS pos,
           {sql_qd('CASE WHEN total = 0.0 THEN 0.25 ELSE ratios[u.i] / total END')}
               AS ratio
    FROM base, UNNEST(range(1, 5)) u(i)
"""

query(q_normalize_ratios, SQL_NORMALIZE_RATIOS)
