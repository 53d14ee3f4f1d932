"""Temporal and vertical profile queries.

Temporal expansion and scaling; profile combination, dedup and
indexing; day-type and time-zone resolution; specific-day profiles;
event time series (daily and hourly roll-ups, sessions, funnels,
cohorts, rolling features) and resampling (LOCF, interpolation, null
fill).  Time arithmetic is on epoch-nanosecond integers
(``fixtures.events``), so no result depends on the session time zone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.core.schemas import TPROFILE
from emiproc_spark.exports.writers import tz_shifted_ratios
from emiproc_spark.fixtures import NS_PER_DAY, NS_PER_HOUR
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import temporal as tp
from emiproc_spark.operators.behavior import (
    cohort_retention,
    funnel_counts,
    rolling_active_users,
    rolling_event_features,
)
from emiproc_spark.operators.composite import (
    broadcast_to_types,
    check_valid_profiles,
    concatenate_profiles,
    ensure_specific_days_consistency,
)
from emiproc_spark.operators.history import resample_interp, resample_locf
from emiproc_spark.operators.interpolation import (
    hour_of_year_to_cycles,
    profile_da,
    profile_to_hour_of_year,
    resolve_daytype,
)
from emiproc_spark.operators.joins import asof_join, merge_intervals
from emiproc_spark.operators.profiles import (
    add_constant_profile_to_missing_cells,
    combine_profiles,
    country_to_cells,
    dedup_profiles,
    get_weights_of_profiles,
    group_profiles_indexes,
    merge_indexes,
    remap_profiles,
)
from emiproc_spark.operators.regrid import weights_rect_rect
from emiproc_spark.operators.temporal import (
    attach_profiles,
    days_in_year,
    scaling_factor_at,
    temporally_scaled,
    temporally_scaled_cellwise,
    time_scaffold,
)
from emiproc_spark.operators.vertical import resample_vertical_profiles
from emiproc_spark.qhelpers import qd, sql_floor_div, sql_qd, sql_sumd, sumd
from emiproc_spark.registry import query
from emiproc_spark.sources.profiles_io import read_temporal_profiles_csv


# ======================================================================
# Events (time-series)
# ======================================================================
def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day aggregation.  ts is TIMESTAMP(NANOS) parquet which
    Spark reads via nanosAsLong — bucketing is integer arithmetic on the
    epoch-nanos value, timezone-free by construction."""
    ev = fx.events(spark, sf_dir)
    return (
        ev.withColumn("epoch_day", (F.col("ts") / F.lit(NS_PER_DAY)).cast("long"))
        .groupBy("epoch_day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            sumd("value").alias("sum_value"),
        )
    )


SQL_EVENTS_DAILY = f"""
    SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_DAY}.0) AS BIGINT) AS epoch_day,
           event_type,
           COUNT(*) AS n_events,
           {sql_sumd('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
"""

query(q_events_daily, SQL_EVENTS_DAILY)


def q_events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile — the engine's cyclic-profile position
    expression (get_index_in_profile semantics,
    reference emiproc/profiles/temporal/operators.py:49-94)."""
    ev = fx.events(spark, sf_dir)
    return (
        ev.withColumn(
            "hour_of_day", ((F.col("ts") / F.lit(NS_PER_HOUR)).cast("long") % 24).cast("int")
        )
        .groupBy("hour_of_day")
        .agg(F.count("*").alias("n_events"), sumd("value").alias("sum_value"))
    )


SQL_EVENTS_HOURLY_PROFILE = f"""
    SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) % 24 AS hour_of_day,
           COUNT(*) AS n_events,
           {sql_sumd('value')} AS sum_value
    FROM events
    GROUP BY 1
"""

query(q_events_hourly_profile, SQL_EVENTS_HOURLY_PROFILE)


# ======================================================================
# Profile algebra + temporal expansion
# ======================================================================
def _daily_ratios(k: int = 0) -> list[float]:
    """Pattern-k daily profile: r[h] = (h+1+k)/(300+24k) — sums to 1
    exactly in rational arithmetic; identical double arithmetic exists
    in closed-form SQL."""
    return [(h + 1 + k) / (300.0 + 24 * k) for h in range(24)]


WEEKLY_RATIOS = [(d + 1) / 28.0 for d in range(7)]
EXPAND_HOURS = 72
YEAR_HOURS = 8784.0  # 2024 is a leap year


def tprofile_table(spark: SparkSession) -> DataFrame:
    return local_rows_df(spark,
        [
            (0, "daily", _daily_ratios(0)),
            (1, "daily", [1.0 / 24] * 24),
            (2, "weekly", WEEKLY_RATIOS),
        ],
        schema=TPROFILE,
    )


def q_temporal_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annual → hourly expansion over 72 h: category A follows the daily
    profile, R the weekly profile, N is constant (missing index row →
    sf 1.0).  Exercises temporally_scaled end-to-end."""

    e = fx.emissions(spark, sf_dir)
    # pre-aggregate to the canonical one-row-per-(cell, cat, sub)
    # inventory before exploding hours: the expansion fans out keys,
    # not raw scan rows (600 × 72 instead of |lineitem| × 72)
    e2 = e.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )
    index = local_rows_df(spark,
        [("A", "F", 0), ("A", "O", 0), ("R", "F", 2), ("R", "O", 2)],
        schema="category string, substance string, profile_id int",
    )
    out = temporally_scaled(
        e2, index, tprofile_table(spark), "2024-01-01 00:00:00", EXPAND_HOURS, int(YEAR_HOURS)
    )
    return out.groupBy("category", "substance", "hour_index").agg(
        sumd("value_kg_h").alias("value_kg_h")
    )


# 2024-01-01 is a Monday → weekday(ts) == (h // 24) % 7 over the window
SQL_TEMPORAL_EXPAND = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    ),
    hrs AS (SELECT h FROM range({EXPAND_HOURS}) t(h)),
    x AS (
        SELECT e.category, e.substance, hrs.h AS hour_index,
               e.value_kg_y / {YEAR_HOURS} * (
                   CASE e.category
                       WHEN 'A' THEN ((hrs.h % 24) + 1) / 300.0 * 24
                       WHEN 'R' THEN (((hrs.h // 24) % 7) + 1) / 28.0 * 7
                       ELSE 1.0
                   END
               ) AS value_kg_h
        FROM e CROSS JOIN hrs
    )
    SELECT category, substance, hour_index, {sql_sumd('value_kg_h')} AS value_kg_h
    FROM x GROUP BY 1, 2, 3
"""

query(q_temporal_expand, SQL_TEMPORAL_EXPAND)


def q_profiles_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emission-weighted profile merge under a category grouping
    (combine_profiles / group_profiles_indexes semantics).  Weights are
    the µ-quantized per-category masses, so both engines blend identical
    doubles; the blended ratio is re-quantized at 1e-9."""

    e = fx.emissions(spark, sf_dir)
    w = e.groupBy("category").agg(sumd("value_kg_y").alias("weight"))
    idx = local_rows_df(spark,
        [("A", 0), ("N", 1), ("R", 0)], schema="category string, profile_id int"
    )
    grp = local_rows_df(spark,
        [("A", "grp_an"), ("N", "grp_an"), ("R", "grp_r")],
        schema="category string, grp string",
    )
    iw = idx.join(w, "category").join(F.broadcast(grp), "category")
    out = combine_profiles(iw, tprofile_table(spark), ["grp"])
    return out.select(
        "grp", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_PROFILES_COMBINE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    w AS (
        SELECT category, {sql_sumd('value_kg_y')} AS weight
        FROM e GROUP BY category
    ),
    -- profiles: A,R → pattern-0 daily; N → uniform daily
    blend AS (
        SELECT 'grp_an' AS grp, 'daily' AS ptype, p.pos,
               ((wa.weight * ((p.pos + 1) / 300.0)) + (wn.weight * (1.0 / 24)))
               / (wa.weight + wn.weight) AS ratio
        FROM range(24) p(pos),
             (SELECT weight FROM w WHERE category = 'A') wa,
             (SELECT weight FROM w WHERE category = 'N') wn
        UNION ALL
        SELECT 'grp_r' AS grp, 'daily' AS ptype, p.pos,
               (p.pos + 1) / 300.0 AS ratio
        FROM range(24) p(pos)
    ),
    -- plain SUM: the ±ulp fold-order wobble is collapsed by the 1e-9
    -- output quantizer (sql_sumd would quantize at 1e-6 and skew ratios)
    tot AS (
        SELECT grp, ptype, SUM(ratio) AS total FROM blend GROUP BY grp, ptype
    )
    SELECT b.grp, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.ratio / t.total')} AS ratio
    FROM blend b JOIN tot t ON b.grp = t.grp AND b.ptype = t.ptype
"""

query(q_profiles_combine, SQL_PROFILES_COMBINE)


def q_country_to_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country-keyed profiles → cell-keyed via country fractions
    (country_to_cells fraction method).  cell_country is closed-form:
    cell c belongs 60 % to country C(c%3), 40 % to C((c+1)%3)."""

    cidx = local_rows_df(spark,
        [("C0", 0), ("C1", 1), ("C2", 2)], schema="country string, profile_id int"
    )
    store = local_rows_df(spark,
        [(k, "daily", _daily_ratios(k)) for k in range(3)],
        schema="profile_id int, ptype string, ratios array<double>",
    )
    cc = (
        spark.range(fx.N_CELLS)
        .select(
            F.col("id").alias("cell_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("C"), (F.col("id") % 3)).alias("country"),
                        F.lit(0.6).alias("fraction"),
                    ),
                    F.struct(
                        F.concat(F.lit("C"), ((F.col("id") + 1) % 3)).alias("country"),
                        F.lit(0.4).alias("fraction"),
                    ),
                )
            ).alias("cf"),
        )
        .select("cell_id", "cf.country", "cf.fraction")
    )
    out = country_to_cells(cidx, store, cc)
    return out.select(
        "cell_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_COUNTRY_TO_CELLS = f"""
    WITH cells AS (SELECT c AS cell_id FROM range({fx.N_CELLS}) t(c)),
    blend AS (
        SELECT cell_id, 'daily' AS ptype, p.pos,
               0.6 * ((p.pos + 1 + (cell_id % 3)) / (300.0 + 24 * (cell_id % 3)))
             + 0.4 * ((p.pos + 1 + ((cell_id + 1) % 3)) / (300.0 + 24 * ((cell_id + 1) % 3)))
               AS wr
        FROM cells CROSS JOIN range(24) p(pos)
    ),
    tot AS (SELECT cell_id, ptype, SUM(wr) AS total FROM blend GROUP BY 1, 2)
    SELECT b.cell_id, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.wr / t.total')} AS ratio
    FROM blend b JOIN tot t USING (cell_id, ptype)
"""

query(q_country_to_cells, SQL_COUNTRY_TO_CELLS)


def q_profiles_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding dedup of per-cell ratio vectors
    (ratios_dataarray_to_profiles semantics): 100 cells carry 5 distinct
    daily patterns → 5 stored profiles; ids are lexicographic rank
    (pattern k has increasing first element, so id == k)."""

    k = F.col("id") % 5
    per_cell = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"),
        F.lit("daily").alias("ptype"),
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda h: (h + 1 + k) / (F.lit(300.0) + 24 * k),
        ).alias("ratios"),
    )
    store, index = dedup_profiles(per_cell)
    counts = index.groupBy("profile_id").agg(F.count("*").alias("n_cells"))
    return (
        store.join(counts, "profile_id")
        .select("profile_id", "n_cells", F.posexplode("ratios").alias("pos", "ratio"))
    )


SQL_PROFILES_DEDUP = f"""
    SELECT k AS profile_id,
           CAST({fx.N_CELLS} / 5 AS BIGINT) AS n_cells,
           CAST(p.pos AS INT) AS pos,
           (p.pos + 1 + k) / (300.0 + 24 * k) AS ratio
    FROM range(5) t(k) CROSS JOIN range(24) p(pos)
"""

query(q_profiles_dedup, SQL_PROFILES_DEDUP)


def q_vertical_rebin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative vertical re-binning onto [100, 200, 400] m levels
    (resample_vertical_profiles)."""

    vp = local_rows_df(spark,
        [
            (0, [50.0, 100.0, 200.0], [0.5, 0.3, 0.2]),
            (1, [100.0, 300.0], [0.6, 0.4]),
        ],
        schema="profile_id int, heights_top_m array<double>, ratios array<double>",
    )
    out = resample_vertical_profiles(vp, [100.0, 200.0, 400.0])
    return out.select("profile_id", F.posexplode("ratios").alias("layer", "ratio"))


SQL_VERTICAL_REBIN = """
    WITH src(profile_id, lo, hi, ratio) AS (
        VALUES (0, 0.0, 50.0, 0.5), (0, 50.0, 100.0, 0.3), (0, 100.0, 200.0, 0.2),
               (1, 0.0, 100.0, 0.6), (1, 100.0, 300.0, 0.4)
    ),
    tgt(layer, t_lo, t_hi) AS (
        VALUES (0, 0.0, 100.0), (1, 100.0, 200.0), (2, 200.0, 400.0)
    ),
    contrib AS (
        SELECT s.profile_id, t.layer,
               s.ratio * GREATEST(0.0, LEAST(s.hi, t.t_hi) - GREATEST(s.lo, t.t_lo))
               / (s.hi - s.lo) AS part
        FROM src s CROSS JOIN tgt t
        WHERE LEAST(s.hi, t.t_hi) - GREATEST(s.lo, t.t_lo) > 0
    )
    SELECT p.profile_id, t.layer, COALESCE(SUM(c.part), 0.0) AS ratio
    FROM (SELECT DISTINCT profile_id FROM src) p
    CROSS JOIN tgt t
    LEFT JOIN contrib c ON c.profile_id = p.profile_id AND c.layer = t.layer
    GROUP BY p.profile_id, t.layer
"""

query(q_vertical_rebin, SQL_VERTICAL_REBIN)


def q_hdd_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heating-degree-day factors from the events stream used as a
    temperature series (create_HDD_scaling_factor semantics):
    temp = value/10, HDD = (20 − T̄)·[T̄ < 12], normalized by the
    period-mean HDD — all arithmetic deterministic via sumd."""
    ev = fx.events(spark, sf_dir)
    daily = (
        ev.withColumn("epoch_day", (F.col("ts") / F.lit(NS_PER_DAY)).cast("long"))
        .groupBy("epoch_day")
        .agg(sumd("value").alias("sv"), F.count("*").alias("n"))
        .withColumn("temp_c", F.col("sv") / F.col("n") / F.lit(10.0))
        .withColumn(
            "hdd",
            F.when(F.col("temp_c") < 12.0, F.lit(20.0) - F.col("temp_c")).otherwise(
                F.lit(0.0)
            ),
        )
    )
    mean = daily.agg(
        (sumd("hdd") / F.count("*")).alias("mean_hdd")
    )
    return (
        daily.crossJoin(F.broadcast(mean))
        .withColumn(
            "factor",
            F.when(F.col("mean_hdd") == 0.0, F.lit(1.0)).otherwise(
                F.col("hdd") / F.col("mean_hdd")
            ),
        )
        .select("epoch_day", "hdd", "factor")
    )


SQL_HDD_FACTORS = f"""
    WITH daily AS (
        SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_DAY}.0) AS BIGINT) AS epoch_day,
               {sql_sumd('value')} AS sv, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    h AS (
        SELECT epoch_day,
               CASE WHEN sv / n / 10.0 < 12.0 THEN 20.0 - sv / n / 10.0 ELSE 0.0 END AS hdd
        FROM daily
    ),
    m AS (SELECT {sql_sumd('hdd')} / COUNT(*) AS mean_hdd FROM h)
    SELECT epoch_day, hdd,
           CASE WHEN m.mean_hdd = 0.0 THEN 1.0 ELSE hdd / m.mean_hdd END AS factor
    FROM h CROSS JOIN m
"""

query(q_hdd_factors, SQL_HDD_FACTORS)


def q_composite_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite profile (daily × weekly) scaling factors over one week
    — the product-of-cycles semantics (composite_scaling_factor).
    exp(Σlog) vs direct product differ at libm-ulp level only, collapsed
    by the 1e-9 quantizer."""

    subs = local_rows_df(spark,
        [
            (0, "daily", _daily_ratios(0)),
            (0, "weekly", WEEKLY_RATIOS),
        ],
        schema="comp_id int, ptype string, ratios array<double>",
    )
    hours = time_scaffold(subs, "2024-01-01 00:00:00", 168)
    per_type = hours.crossJoin(F.broadcast(subs)).withColumn(
        "sf1", scaling_factor_at(F.col("ts"), F.col("ptype"), F.col("ratios"))
    )
    return (
        per_type.groupBy("comp_id", "hour_index")
        .agg(F.exp(F.sum(F.log("sf1"))).alias("sf"))
        .select("comp_id", "hour_index", qd("sf").alias("sf"))
    )


SQL_COMPOSITE_SCALING = f"""
    SELECT 0 AS comp_id, h AS hour_index,
           {sql_qd('EXP(LN(((h % 24) + 1) / 300.0 * 24) + LN((((h // 24) % 7) + 1) / 28.0 * 7))')} AS sf
    FROM range(168) t(h)
"""

query(q_composite_scaling, SQL_COMPOSITE_SCALING)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (30-minute
    inactivity gap): lag + cumulative-sum session ids, then per-user
    session stats — integer arithmetic throughout, fully deterministic."""

    ev = fx.events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    with_new = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts") - F.lag("ts").over(w)) > gap_ns, 1
        ).otherwise(F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)),
    )
    with_sid = with_new.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_sid.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_SESSIONIZE = f"""
    WITH w AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1
                    WHEN epoch_ns(ts) - epoch_ns(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                         > {30 * 60 * 1_000_000_000} THEN 1
                    ELSE 0 END AS new_session
        FROM events
    ),
    s AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM w
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id
"""

query(q_sessionize, SQL_SESSIONIZE)


def q_interpolate_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly profile → hour-of-year with midpoint linear interpolation
    (interpolate_profiles semantics); first 1000 hours."""

    prof = local_rows_df(spark,
        [(0, [(m + 1) / 78.0 for m in range(12)])],
        schema="profile_id int, ratios array<double>",
    )
    out = profile_to_hour_of_year(prof, "monthly", 8760, interpolate=True)
    return out.where(F.col("hour") < 1000).select(
        "profile_id", "hour", qd("sf").alias("sf")
    )


SQL_INTERPOLATE_PROFILES = f"""
    WITH hrs AS (SELECT h FROM range(1000) t(h)),
    calc AS (
        SELECT h,
               ((h % 8760) + 0.5) / (8760.0 / 12) - 0.5 AS frac
        FROM hrs
    ),
    pos AS (
        SELECT h, frac, FLOOR(frac) AS k0, frac - FLOOR(frac) AS t,
               CAST(((CAST(FLOOR(frac) AS BIGINT) % 12) + 12) % 12 AS INT) AS lo
        FROM calc
    )
    SELECT 0 AS profile_id, h AS hour,
           {sql_qd('((lo + 1) / 78.0 * (1.0 - t) + (((lo + 1) % 12) + 1) / 78.0 * t) * 12')} AS sf
    FROM pos
"""

query(q_interpolate_profiles, SQL_INTERPOLATE_PROFILES)


def _store3(spark: SparkSession) -> DataFrame:
    """Profile store: pattern-k daily (k=0,1) + weekly (id 2).
    Pattern-k daily ratio: (pos+1+k)/(300+24k); weekly (d+1)/28."""
    rows = [
        (0, "daily", [(h + 1) / 300.0 for h in range(24)]),
        (1, "daily", [1.0 / 24] * 24),
        (2, "weekly", [(d + 1) / 28.0 for d in range(7)]),
    ]
    return local_rows_df(spark,
        rows, schema="profile_id int, ptype string, ratios array<double>"
    )


def daily_k(spark: SparkSession) -> DataFrame:
    """Three pattern-k daily profiles, ids 0..2."""
    return local_rows_df(spark,
        [
            (k, "daily", [(h + 1 + k) / (300.0 + 24 * k) for h in range(24)])
            for k in range(3)
        ],
        schema="profile_id int, ptype string, ratios array<double>",
    )


# ======================================================================
# remap_profiles: carry per-cell profiles through the fine→coarse
# regrid, (emission × remap-weight)-weighted
# (reference emiproc/profiles/operators.py:571-666)
# ======================================================================
def q_remap_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    # integral masses: any fold order sums exactly in both engines
    mass = e.groupBy("cell_id").agg(
        F.floor(sumd("value_kg_y")).cast("double").alias("mass")
    )
    cidx = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    w = weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    out = remap_profiles(cidx, daily_k(spark), w, emissions_by_cell=mass)
    return out.select(
        "cell_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_REMAP_PROFILES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    mass AS (
        SELECT cell_id, FLOOR({sql_sumd('value_kg_y')}) AS mass
        FROM e GROUP BY cell_id
    ),
    w AS ({fx.WEIGHTS_SQL}),
    blend AS (
        SELECT w.dst_id AS cell_id, p.pos,
               SUM(w.weight * m.mass *
                   ((p.pos + 1 + (w.src_id % 3)) / (300.0 + 24 * (w.src_id % 3))))
                   AS wr
        FROM w JOIN mass m ON w.src_id = m.cell_id
        CROSS JOIN range(24) p(pos)
        GROUP BY 1, 2
    ),
    tot AS (SELECT cell_id, SUM(wr) AS t FROM blend GROUP BY cell_id)
    SELECT b.cell_id, 'daily' AS ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.wr / t.t')} AS ratio
    FROM blend b JOIN tot t USING (cell_id)
"""

query(q_remap_profiles, SQL_REMAP_PROFILES)


# ======================================================================
# group_profiles_indexes: category grouping applied to a
# (category, substance)-keyed profile index, emission-mass weighted
# (reference emiproc/profiles/operators.py:307-411)
# ======================================================================
GPI_ASSIGN = [
    ("A", "F", 0), ("A", "O", 2), ("N", "F", 1),
    ("N", "O", 1), ("R", "F", 0), ("R", "O", 2),
]


def q_group_profiles_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    w = e.groupBy("category", "substance").agg(sumd("value_kg_y").alias("weight"))
    idx = local_rows_df(spark,
        GPI_ASSIGN, schema="category string, substance string, profile_id int"
    )
    iw = idx.join(w, ["category", "substance"])
    out = group_profiles_indexes(iw, _store3(spark), fx.CATEGORY_GROUPS, dim="category")
    return out.select(
        "category", "substance", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_GROUP_PROFILES_INDEXES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    w AS (
        SELECT category, substance, {sql_sumd('value_kg_y')} AS weight
        FROM e GROUP BY 1, 2
    ),
    -- grp_an/F: daily blend of pattern-0 (A,F mass) and uniform (N,F);
    -- grp_an/O: weekly (A,O only) and daily uniform (N,O only) separate
    -- by ptype; grp_r: single members pass through.
    blend AS (
        SELECT 'grp_an' AS category, 'F' AS substance, 'daily' AS ptype, p.pos,
               (wa.weight * ((p.pos + 1) / 300.0) + wn.weight * (1.0 / 24))
               / (wa.weight + wn.weight) AS val
        FROM range(24) p(pos),
             (SELECT weight FROM w WHERE category = 'A' AND substance = 'F') wa,
             (SELECT weight FROM w WHERE category = 'N' AND substance = 'F') wn
        UNION ALL
        SELECT 'grp_an', 'O', 'weekly', p.pos, (p.pos + 1) / 28.0
        FROM range(7) p(pos)
        UNION ALL
        SELECT 'grp_an', 'O', 'daily', p.pos, 1.0 / 24 FROM range(24) p(pos)
        UNION ALL
        SELECT 'grp_r', 'F', 'daily', p.pos, (p.pos + 1) / 300.0
        FROM range(24) p(pos)
        UNION ALL
        SELECT 'grp_r', 'O', 'weekly', p.pos, (p.pos + 1) / 28.0
        FROM range(7) p(pos)
    ),
    tot AS (
        SELECT category, substance, ptype, SUM(val) AS t
        FROM blend GROUP BY 1, 2, 3
    )
    SELECT b.category, b.substance, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.val / t.t')} AS ratio
    FROM blend b JOIN tot t USING (category, substance, ptype)
"""

query(q_group_profiles_indexes, SQL_GROUP_PROFILES_INDEXES)


# ======================================================================
# merge_indexes: specificity-ordered overlay of sparse index tables
# (reference emiproc/profiles/utils.py:271-339)
# ======================================================================
def q_merge_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    keys = e.select("category", "substance").distinct()
    general = local_rows_df(spark,
        [("A", 0), ("N", 1)], schema="category string, profile_id int"
    )
    specific = local_rows_df(spark,
        [("A", "F", 5), ("R", "O", 7)],
        schema="category string, substance string, profile_id int",
    )
    return merge_indexes([general, specific], keys)


SQL_MERGE_INDEXES = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT DISTINCT category, substance,
           CASE
               WHEN category = 'A' AND substance = 'F' THEN 5
               WHEN category = 'R' AND substance = 'O' THEN 7
               WHEN category = 'A' THEN 0
               WHEN category = 'N' THEN 1
               ELSE -1
           END AS profile_id
    FROM e
"""

query(q_merge_indexes, SQL_MERGE_INDEXES)


# ======================================================================
# resolve_daytype: weekday/weekend daily profiles → hour-of-week
# (reference emiproc/profiles/temporal/operators.py:345-437)
# ======================================================================
def q_resolve_daytype(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_profiles = local_rows_df(spark,
        [
            (0, "weekday", [(h + 1) / 300.0 for h in range(24)]),
            (0, "weekend", [1.0 / 24] * 24),
            (1, "weekday", [1.0 / 24] * 24),
            (1, "weekend", [(h + 2) / 324.0 for h in range(24)]),
        ],
        schema="profile_id int, day_type string, ratios array<double>",
    )
    out = resolve_daytype(day_profiles)
    return out.select(
        "profile_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_RESOLVE_DAYTYPE = f"""
    WITH hp AS (
        SELECT pid.pid, d.dow, h.h,
               CASE
                   WHEN pid.pid = 0 AND d.dow < 5 THEN (h.h + 1) / 300.0
                   WHEN pid.pid = 0 THEN 1.0 / 24
                   WHEN d.dow < 5 THEN 1.0 / 24
                   ELSE (h.h + 2) / 324.0
               END AS val
        FROM range(2) pid(pid), range(7) d(dow), range(24) h(h)
    ),
    tot AS (SELECT pid, SUM(val) AS t FROM hp GROUP BY pid)
    SELECT CAST(hp.pid AS INT) AS profile_id, 'hour_of_week' AS ptype,
           CAST(hp.dow * 24 + hp.h AS INT) AS pos,
           {sql_qd('hp.val / tot.t')} AS ratio
    FROM hp JOIN tot USING (pid)
"""

query(q_resolve_daytype, SQL_RESOLVE_DAYTYPE)


# ======================================================================
# tz_shifted_ratios: roll daily ratios by per-region UTC offsets
# (reference emiproc/exports/icon.py:505-526)
# ======================================================================
def q_tz_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    shifts = local_rows_df(spark,
        [(r, r - 2) for r in range(6)], schema="region_id int, shift_h int"
    )
    out = tz_shifted_ratios(daily_k(spark), shifts)
    return out.select(
        "profile_id",
        "region_id",
        F.posexplode("ratios_local").alias("pos", "ratio"),
    )


SQL_TZ_SHIFT = """
    SELECT k.k AS profile_id, CAST(r.r AS INT) AS region_id,
           CAST(p.pos AS INT) AS pos,
           ((((p.pos + r.r - 2) % 24 + 24) % 24) + 1 + k.k)
               / (300.0 + 24 * k.k) AS ratio
    FROM range(3) k(k), range(6) r(r), range(24) p(pos)
"""

query(q_tz_shift, SQL_TZ_SHIFT)


# ======================================================================
# hour_of_year_to_cycles: inverse temporal resample — hourly series →
# (daily mean, weekly mean, monthly sum) cycles
# (reference emiproc/profiles/temporal/operators.py:304-318)
# ======================================================================
def q_hoy_to_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = (
        spark.range(3)
        .select(F.col("id").alias("profile_id"))
        .crossJoin(spark.range(8760).select(F.col("id").alias("hour")))
        .withColumn(
            "sf",
            ((F.col("hour") * (F.col("profile_id") + 3)) % 97 + 1) / F.lit(49.0),
        )
    )
    out = hour_of_year_to_cycles(series, year_start_weekday=0)
    return out.withColumn("ratio", qd("ratio"))


_MONTH_CASE = (
    "CASE WHEN doy >= 334 THEN 11 WHEN doy >= 304 THEN 10 WHEN doy >= 273 THEN 9 "
    "WHEN doy >= 243 THEN 8 WHEN doy >= 212 THEN 7 WHEN doy >= 181 THEN 6 "
    "WHEN doy >= 151 THEN 5 WHEN doy >= 120 THEN 4 WHEN doy >= 90 THEN 3 "
    "WHEN doy >= 59 THEN 2 WHEN doy >= 31 THEN 1 ELSE 0 END"
)

SQL_HOY_TO_CYCLES = f"""
    WITH s AS (
        SELECT pid.pid, h.h, h.h // 24 AS doy,
               ((h.h * (pid.pid + 3)) % 97 + 1) / 49.0 AS sf
        FROM range(3) pid(pid), range(8760) h(h)
    ),
    enr AS (
        SELECT pid, sf, h % 24 AS hod, (h // 24) % 7 AS dow,
               {_MONTH_CASE} AS mon
        FROM s
    ),
    daily AS (
        SELECT pid, 'daily' AS ptype, hod AS pos, AVG(sf) AS val
        FROM enr GROUP BY 1, 3
    ),
    weekly AS (
        SELECT pid, 'weekly' AS ptype, dow AS pos, AVG(sf) AS val
        FROM enr GROUP BY 1, 3
    ),
    monthly AS (
        SELECT pid, 'monthly' AS ptype, mon AS pos, SUM(sf) AS val
        FROM enr GROUP BY 1, 3
    ),
    cyc AS (
        SELECT * FROM daily UNION ALL SELECT * FROM weekly
        UNION ALL SELECT * FROM monthly
    ),
    tot AS (SELECT pid, ptype, SUM(val) AS t FROM cyc GROUP BY 1, 2)
    SELECT c.pid AS profile_id, c.ptype, CAST(c.pos AS INT) AS pos,
           {sql_qd('c.val / t.t')} AS ratio
    FROM cyc c JOIN tot t USING (pid, ptype)
"""

query(q_hoy_to_cycles, SQL_HOY_TO_CYCLES)


# ======================================================================
# add_profiles / concatenate_profiles: store union with id offset
# (reference concatenate_profiles, profiles/operators.py:35-55)
# ======================================================================
def q_add_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = local_rows_df(spark,
        [(k, "daily", [(h + 1 + k) / (300.0 + 24 * k) for h in range(24)])
         for k in range(2)],
        "profile_id int, ptype string, ratios array<double>",
    )
    b = local_rows_df(spark,
        [(0, "weekly", [(d + 1) / 28.0 for d in range(7)]),
         (1, "daily", [1.0 / 24] * 24)],
        "profile_id int, ptype string, ratios array<double>",
    )
    merged, _offset = concatenate_profiles(a, b)
    return merged.select(
        "profile_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    )


SQL_ADD_PROFILES = """
    SELECT k.k AS profile_id, 'daily' AS ptype, CAST(p.pos AS INT) AS pos,
           (p.pos + 1 + k.k) / (300.0 + 24 * k.k) AS ratio
    FROM range(2) k(k), range(24) p(pos)
    UNION ALL
    SELECT 2, 'weekly', CAST(p.pos AS INT), (p.pos + 1) / 28.0 FROM range(7) p(pos)
    UNION ALL
    SELECT 3, 'daily', CAST(p.pos AS INT), 1.0 / 24 FROM range(24) p(pos)
"""

query(q_add_profiles, SQL_ADD_PROFILES)


# ======================================================================
# add_constant_profile_to_missing_cells: pad the index with −1 rows
# (reference profiles/operators.py:746-797)
# ======================================================================
def q_missing_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = spark.range(fx.N_CELLS // 2).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    grid = fx.fine_grid(spark)
    return add_constant_profile_to_missing_cells(idx, grid)


SQL_MISSING_CELLS = f"""
    SELECT c AS cell_id,
           CASE WHEN c < {fx.N_CELLS // 2} THEN CAST(c % 3 AS INT) ELSE -1 END
               AS profile_id
    FROM range({fx.N_CELLS}) t(c)
"""

query(q_missing_cells, SQL_MISSING_CELLS)


# ======================================================================
# broadcast_to_types: widen composites to a common type set, −1 fill
# (reference CompositeTemporalProfiles.broadcast, composite.py:230-372)
# ======================================================================
def q_broadcast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    composite = local_rows_df(spark,
        [(0, "daily", 4), (0, "weekly", 5), (1, "daily", 6), (2, "monthly", 7)],
        "comp_id int, ptype string, profile_id int",
    )
    return broadcast_to_types(composite, ["daily", "weekly", "monthly"])


SQL_BROADCAST_TYPES = """
    WITH comps AS (SELECT c AS comp_id FROM range(3) t(c)),
    types(ptype) AS (VALUES ('daily'), ('weekly'), ('monthly')),
    assigned(comp_id, ptype, profile_id) AS (
        VALUES (0, 'daily', 4), (0, 'weekly', 5), (1, 'daily', 6), (2, 'monthly', 7)
    )
    SELECT CAST(c.comp_id AS INT) AS comp_id, t.ptype,
           CAST(COALESCE(a.profile_id, -1) AS INT) AS profile_id
    FROM comps c CROSS JOIN types t
    LEFT JOIN assigned a ON a.comp_id = c.comp_id AND a.ptype = t.ptype
"""

query(q_broadcast_types, SQL_BROADCAST_TYPES)


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
    ev = _ntz(fx.events(spark, sf_dir).select("event_id", "ts"))
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
    ev = _ntz(fx.events(spark, sf_dir).select("event_id", "ts", "user_id"))
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
# midpoint-stamped profile series (reference get_profile_da,
# profiles/temporal/operators.py:152-235)
# ======================================================================
def q_profile_da(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = local_rows_df(spark,
        [(0, [(h + 1) / 300.0 for h in range(24)])],
        schema="profile_id int, ratios array<double>",
    )
    return profile_da(prof, 2024, "daily")


# daily profile over leap 2024: stamps k = −1 .. 8784 (prepended point
# + inclusive year-end), pos = hour of the UN-offset stamp, emitted ts
# carries the +30 min midpoint offset
SQL_PROFILE_DA = """
    SELECT 0 AS profile_id,
           TIMESTAMP '2024-01-01' + k * INTERVAL 1 HOUR + INTERVAL 30 MINUTE AS ts,
           CAST(EXTRACT(hour FROM TIMESTAMP '2024-01-01' + k * INTERVAL 1 HOUR) AS INT) AS pos,
           (CAST(EXTRACT(hour FROM TIMESTAMP '2024-01-01' + k * INTERVAL 1 HOUR) AS INT) + 1) / 300.0 AS ratio
    FROM range(-1, 8785) t(k)
"""

query(q_profile_da, SQL_PROFILE_DA)


# ======================================================================
# calendar rule (reference get_day_per_year, emiproc/utilities.py:38-46)
# ======================================================================
def q_days_in_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(1896, 2125).select(
        F.col("id").cast("int").alias("year"),
        days_in_year(F.col("id")).alias("days"),
    )


# span includes the 1900/2000/2100 century cases of the Gregorian rule
SQL_DAYS_IN_YEAR = """
    SELECT CAST(y AS INT) AS year,
           CASE WHEN (y % 4 = 0 AND y % 100 <> 0) OR y % 400 = 0
                THEN 366 ELSE 365 END AS days
    FROM range(1896, 2125) t(y)
"""

query(q_days_in_year, SQL_DAYS_IN_YEAR)


# ======================================================================
# temporal_expand_cell — annual→hourly with CELL-keyed profiles (the
# post-country_to_cells path the dimension-indexed expansion rejects)
# ======================================================================
def q_temporal_expand_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """country profiles → per-cell blend (0.6/0.4 fractions, same
    fixture as `country_to_cells`) → cell-wise hourly expansion of the
    emissions table, aggregated per (category, substance, hour)."""

    cidx = local_rows_df(spark,
        [("C0", 0), ("C1", 1), ("C2", 2)], schema="country string, profile_id int"
    )
    store = local_rows_df(spark,
        [(k, "daily", _daily_ratios(k)) for k in range(3)],
        schema="profile_id int, ptype string, ratios array<double>",
    )
    cc = (
        spark.range(fx.N_CELLS)
        .select(
            F.col("id").alias("cell_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("C"), (F.col("id") % 3)).alias("country"),
                        F.lit(0.6).alias("fraction"),
                    ),
                    F.struct(
                        F.concat(F.lit("C"), ((F.col("id") + 1) % 3)).alias("country"),
                        F.lit(0.4).alias("fraction"),
                    ),
                )
            ).alias("cf"),
        )
        .select("cell_id", "cf.country", "cf.fraction")
    )
    cell_profiles = country_to_cells(cidx, store, cc)
    hourly = temporally_scaled_cellwise(
        fx.emissions(spark, sf_dir), cell_profiles,
        "2024-01-02 00:00:00", 24, year_hours=8760,
    )
    return hourly.groupBy("category", "substance", "hour_index").agg(
        sumd("value_kg_h").alias("value_kg_h")
    )


def _sql_temporal_expand_cell() -> str:
    return f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    cells AS (SELECT c AS cell_id FROM range({fx.N_CELLS}) t(c)),
    blend AS (
        SELECT cell_id, p.pos,
               0.6 * ((p.pos + 1 + (cell_id % 3)) / (300.0 + 24 * (cell_id % 3)))
             + 0.4 * ((p.pos + 1 + ((cell_id + 1) % 3)) / (300.0 + 24 * ((cell_id + 1) % 3)))
               AS wr
        FROM cells CROSS JOIN range(24) p(pos)
    ),
    tot AS (SELECT cell_id, SUM(wr) AS total FROM blend GROUP BY 1),
    cellsf AS (
        SELECT b.cell_id, b.pos, (b.wr / t.total) * 24 AS sf
        FROM blend b JOIN tot t USING (cell_id)
    ),
    h AS (SELECT hh AS hour_index, hh % 24 AS pos FROM range(24) t(hh))
    SELECT e.category, e.substance, h.hour_index,
           {sql_sumd('e.value_kg_y / 8760.0 * cf.sf')} AS value_kg_h
    FROM e
    JOIN h ON TRUE
    JOIN cellsf cf ON cf.cell_id = e.cell_id AND cf.pos = h.pos
    GROUP BY 1, 2, 3
    """


query(q_temporal_expand_cell, _sql_temporal_expand_cell())


# ======================================================================
# profile_index_wildcard — CSV wildcard fallback (profiles/utils.py:228-238)
# ======================================================================
def q_profile_index_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer period values: the normalization total is an exact double,
    # so every ratio is bit-identical int/total in both engines
    path = os.path.join(fx.scratch_dir("emiproc_wildidx_"), "tprof.csv")
    rows = [
        "category,substance," + ",".join(f"h{h}" for h in range(24)),
        "heat,CO2," + ",".join(str(h + 1) for h in range(24)),          # specific
        "heat,," + ",".join(str(25 - h) for h in range(24)),            # (cat, ·)
        ",CH4," + ",".join("1" for _ in range(24)),                     # (·, sub)
        ",," + ",".join(str(h % 2 + 1) for h in range(24)),             # (·, ·)
    ]
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")
    store, index = read_temporal_profiles_csv(
        spark, path, ["category", "substance"]
    )
    facts = local_rows_df(spark,
        [
            (c, s, 1.0)
            for c in ("heat", "traffic")
            for s in ("CO2", "CH4", "N2O")
        ],
        schema="category string, substance string, value_kg_y double",
    )
    att = attach_profiles(facts, index, store)
    return att.select(
        "category", "substance", F.explode("__profs").alias("p")
    ).select(
        "category",
        "substance",
        F.posexplode("p.ratios").alias("pos", "ratio"),
    )


# specificity: (cat,sub) > (cat,·) > (·,sub) > (·,·); totals 300/324/24/36
SQL_PROFILE_INDEX_WILDCARD = """
    WITH f AS (
        SELECT c.category, s.substance
        FROM (VALUES ('heat'), ('traffic')) c(category),
             (VALUES ('CO2'), ('CH4'), ('N2O')) s(substance)
    )
    SELECT f.category, f.substance, CAST(h.h AS INT) AS pos,
           CASE
               WHEN f.category = 'heat' AND f.substance = 'CO2'
                   THEN (h.h + 1) / 300.0
               WHEN f.category = 'heat' THEN (25 - h.h) / 324.0
               WHEN f.substance = 'CH4' THEN 1 / 24.0
               ELSE (h.h % 2 + 1) / 36.0
           END AS ratio
    FROM f, range(24) h(h)
"""

query(q_profile_index_wildcard, SQL_PROFILE_INDEX_WILDCARD)


# ======================================================================
# specific_days — ensure_specific_days_consistency (temporal/utils.py:36-97)
# ======================================================================
# length-3 marker ratios: [c, 2c, 3c]; passed through unchanged
_SD_C = {"w4": 0.125, "we": 0.25, "sat": 0.5, "wk": 0.0625, "g0": 2.0, "g1": 4.0}


def q_specific_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    def mk(c: float) -> list[float]:
        return [c, 2 * c, 3 * c]

    prof = local_rows_df(spark,
        [
            (0, "weekday_4", mk(_SD_C["w4"])),
            (0, "weekend", mk(_SD_C["we"])),
            (0, "saturday", mk(_SD_C["sat"])),
            (1, "weekday", mk(_SD_C["wk"])),
        ],
        schema="profile_id int, day_type string, ratios array<double>",
    )
    general = local_rows_df(spark,
        [(0, mk(_SD_C["g0"])), (1, mk(_SD_C["g1"]))],
        schema="profile_id int, ratios array<double>",
    )
    out = ensure_specific_days_consistency(prof, general)
    return out.select(
        "profile_id", "dow", F.posexplode("ratios").alias("pos", "ratio")
    )


# pid 0: dow 0-3 weekday_4, dow 4 gap→general, dow 5 saturday (beats
# weekend), dow 6 weekend; pid 1: dow 0-4 weekday, dow 5-6 gap→general
SQL_SPECIFIC_DAYS = f"""
    WITH base AS (
        SELECT p.pid, d.dow,
               CASE
                   WHEN p.pid = 0 AND d.dow <= 3 THEN {_SD_C['w4']}
                   WHEN p.pid = 0 AND d.dow = 4 THEN {_SD_C['g0']}
                   WHEN p.pid = 0 AND d.dow = 5 THEN {_SD_C['sat']}
                   WHEN p.pid = 0 THEN {_SD_C['we']}
                   WHEN d.dow <= 4 THEN {_SD_C['wk']}
                   ELSE {_SD_C['g1']}
               END AS c
        FROM range(2) p(pid), range(7) d(dow)
    )
    SELECT CAST(pid AS INT) AS profile_id, CAST(dow AS INT) AS dow,
           CAST(k.k AS INT) AS pos, c * (k.k + 1) AS ratio
    FROM base, range(3) k(k)
"""

query(q_specific_days, SQL_SPECIFIC_DAYS)


# ======================================================================
# profile_validity — check_valid_profiles (profiles/utils.py:54-92)
# ======================================================================
_VALIDITY_ROWS = [
    (0, [0.5, 0.25, 0.25]),     # valid
    (1, [0.5, 0.25, 0.5]),      # sum 1.25
    (2, [1.5, -0.25, -0.25]),   # sum 1.0 but negative entries
    (3, [0.125, 0.375, 0.5]),   # valid
    (4, [0.25, 0.25, 0.25]),    # sum 0.75
]


def q_profile_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = local_rows_df(spark,
        [(i, "daily", r) for i, r in _VALIDITY_ROWS],
        schema="profile_id int, ptype string, ratios array<double>",
    )
    return check_valid_profiles(prof).select("profile_id", "ratio_sum")


def _sql_profile_validity() -> str:
    vals = ", ".join(
        f"({i}, {r[0]}, {r[1]}, {r[2]})" for i, r in _VALIDITY_ROWS
    )
    return f"""
        SELECT profile_id, a + b + c AS ratio_sum
        FROM (VALUES {vals}) t(profile_id, a, b, c)
        WHERE a < 0 OR b < 0 OR c < 0 OR ABS(a + b + c - 1.0) > 1e-6
    """


query(q_profile_validity, _sql_profile_validity())


# ======================================================================
# specific_day_sf — SpecificDayProfile in a composite product: off-days
# contribute factor 1.0, the profile's own days ratio·24 (reference
# get_scaling_factors_at_time, temporal/operators.py:120-144, the
# where(index≠−1, 1.0)).  Same exp(Σlog)+quantize convention as
# composite_scaling.
# ======================================================================
def q_specific_day_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    subs = local_rows_df(spark,
        [
            (0, "daily_saturday", _daily_ratios(0)),
            (0, "weekly", WEEKLY_RATIOS),
        ],
        schema="comp_id int, ptype string, ratios array<double>",
    )
    hours = time_scaffold(subs, "2024-01-01 00:00:00", 168)  # Monday start
    per_type = hours.crossJoin(F.broadcast(subs)).withColumn(
        "sf1", scaling_factor_at(F.col("ts"), F.col("ptype"), F.col("ratios"))
    )
    return (
        per_type.groupBy("comp_id", "hour_index")
        .agg(F.exp(F.sum(F.log("sf1"))).alias("sf"))
        .select("comp_id", "hour_index", qd("sf").alias("sf"))
    )


SQL_SPECIFIC_DAY_SF = f"""
    SELECT 0 AS comp_id, h AS hour_index,
           {sql_qd(
               "EXP(CASE WHEN (h // 24) % 7 = 5 "
               "THEN LN(((h % 24) + 1) / 300.0 * 24) ELSE 0 END "
               "+ LN((((h // 24) % 7) + 1) / 28.0 * 7))"
           )} AS sf
    FROM range(168) t(h)
"""

query(q_specific_day_sf, SQL_SPECIFIC_DAY_SF)


# ======================================================================
# interval_islands — gaps-and-islands coverage (operators/joins.py)
# ======================================================================
ISLAND_WIN_NS = 10 * 60 * 1_000_000_000  # 10 minutes in epoch-nanos


def q_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage: each event opens a 10-minute window
    [ts, ts+10min); overlapping/touching windows merge into maximal
    islands (merge_intervals — one shuffle + per-key sort, no
    self-join), then a per-user rollup of island count, covered
    nanoseconds and source-interval count.  All-integer arithmetic, so
    the oracle (same window formulation in DuckDB) matches exactly."""

    iv = fx.events(spark, sf_dir).select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.lit(ISLAND_WIN_NS)).alias("end"),
    )
    islands = merge_intervals(iv, ["user_id"])
    return islands.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("covered_ns"),
        F.sum("n_intervals").alias("n_intervals"),
    )


SQL_INTERVAL_ISLANDS = f"""
    WITH iv AS (
        SELECT user_id, epoch_ns(ts) AS s,
               epoch_ns(ts) + {ISLAND_WIN_NS} AS e
        FROM events
    ),
    m AS (
        SELECT user_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pme
        FROM iv
    ),
    isl AS (
        SELECT user_id, s, e,
               SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM m
    ),
    g AS (
        SELECT user_id, island, MIN(s) AS st, MAX(e) AS en,
               COUNT(*) AS n
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           COUNT(*) AS n_islands,
           CAST(SUM(en - st) AS BIGINT) AS covered_ns,
           CAST(SUM(n) AS BIGINT) AS n_intervals
    FROM g GROUP BY user_id
"""

query(q_interval_islands, SQL_INTERVAL_ISLANDS)


# ======================================================================
# resample_locf — gap-filled hourly lattice (operators/history.py)
# ======================================================================
LOCF_BUCKET_NS = 3_600_000_000_000  # 1 hour
LOCF_MAX_USER = 100


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user resample of the events `value` series with LOCF
    gap fill; value_locf is a SELECTION (no float arithmetic), so the
    doubles compare exactly across engines."""

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < LOCF_MAX_USER)
        .select("user_id", "ts", "value", "event_id")
    )
    return resample_locf(
        ev, ["user_id"], "ts", "value", LOCF_BUCKET_NS, tiebreak=["event_id"]
    )


SQL_RESAMPLE_LOCF = f"""
    WITH ev AS (
        -- NULL values are not observations (the resample_locf r11
        -- contract): they must neither represent a bucket nor extend
        -- a key's lattice bounds
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events WHERE user_id < {LOCF_MAX_USER} AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, b, value FROM (
            SELECT user_id, {sql_floor_div('tsn', LOCF_BUCKET_NS)} AS b, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, {sql_floor_div('tsn', LOCF_BUCKET_NS)}
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN({sql_floor_div('tsn', LOCF_BUCKET_NS)}) AS b0,
               MAX({sql_floor_div('tsn', LOCF_BUCKET_NS)}) AS b1
        FROM ev GROUP BY user_id
    ),
    lat AS (
        SELECT bounds.user_id, t.b
        FROM bounds, UNNEST(range(b0, b1 + 1)) AS t(b)
    ),
    j AS (
        SELECT lat.user_id, lat.b, obs.value AS v
        FROM lat LEFT JOIN obs
          ON obs.user_id = lat.user_id AND obs.b = lat.b
    )
    SELECT user_id,
           b * {LOCF_BUCKET_NS} AS bucket_start,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS value_locf,
           v IS NULL AS is_gap
    FROM j
"""

query(q_resample_locf, SQL_RESAMPLE_LOCF)


# ======================================================================
# funnel — ordered event funnel (operators/behavior.py)
# ======================================================================
FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    return funnel_counts(ev, FUNNEL_STEPS)


SQL_FUNNEL = """
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, event_type FROM events
    ),
    w1 AS (
        SELECT user_id, tsn, event_type,
               MIN(CASE WHEN event_type = 'view' THEN tsn END)
                   OVER (PARTITION BY user_id) AS s1
        FROM ev
    ),
    w2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND tsn > s1
                           THEN tsn END) OVER (PARTITION BY user_id) AS s2
        FROM w1
    ),
    w3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tsn > s2
                           THEN tsn END) OVER (PARTITION BY user_id) AS s3
        FROM w2
    ),
    u AS (
        SELECT user_id, MIN(s1) AS s1, MIN(s2) AS s2, MIN(s3) AS s3
        FROM w3 GROUP BY user_id
    ),
    c AS (SELECT COUNT(s1) AS c1, COUNT(s2) AS c2, COUNT(s3) AS c3 FROM u)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name, c1 AS users FROM c
    UNION ALL
    SELECT CAST(2 AS INT), 'click', c2 FROM c
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', c3 FROM c
"""

query(q_funnel, SQL_FUNNEL)


# ======================================================================
# cohort_retention — weekly cohorts (operators/behavior.py)
# ======================================================================
_WEEK_NS = 7 * 86400 * 10**9


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    return cohort_retention(ev, period_ns=_WEEK_NS)


SQL_COHORT_RETENTION = f"""
    WITH ev AS (
        SELECT user_id, {sql_floor_div('epoch_ns(ts)', _WEEK_NS)} AS period FROM events
    ),
    c AS (
        SELECT user_id, period,
               MIN(period) OVER (PARTITION BY user_id) AS cohort_period
        FROM ev
    ),
    a AS (SELECT DISTINCT user_id, period, cohort_period FROM c)
    SELECT cohort_period,
           period - cohort_period AS period_offset,
           COUNT(*) AS active_users
    FROM a GROUP BY cohort_period, period - cohort_period
"""

query(q_cohort_retention, SQL_COHORT_RETENTION)


# ======================================================================
# rolling_features — trailing-hour RANGE-frame features per event
# (operators/behavior.rolling_event_features)
# ======================================================================
_ROLL_NS = 3_600 * 10**9  # one hour


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = rolling_event_features(ev, window_ns=_ROLL_NS)
    return out.select("event_id", "user_id", "n_trailing", "v_trailing")


SQL_ROLLING_FEATURES = f"""
    WITH ev AS (
        SELECT event_id, user_id, epoch_ns(ts) AS tsn,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
        FROM events
    )
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_trailing,
           CAST(SUM(qv) OVER w AS DOUBLE) / 1000000.0 AS v_trailing
    FROM ev
    WINDOW w AS (
        PARTITION BY user_id ORDER BY tsn
        RANGE BETWEEN {_ROLL_NS} PRECEDING AND CURRENT ROW
    )
"""

query(q_rolling_features, SQL_ROLLING_FEATURES)


# ======================================================================
# active_users — trailing-7-day distinct actives (WAU) per day
# (operators/behavior.rolling_active_users)
# ======================================================================
_DAY_NS = 86400 * 10**9
_WAU_WINDOW = 7


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir).select("user_id", "ts")
    return rolling_active_users(
        ev, window_periods=_WAU_WINDOW, period_ns=_DAY_NS
    )


SQL_ACTIVE_USERS = f"""
    WITH d AS (
        SELECT DISTINCT user_id, {sql_floor_div('epoch_ns(ts)', _DAY_NS)} AS p
        FROM events
    ),
    e AS (
        SELECT user_id, p + o.o AS period
        FROM d, UNNEST(range({_WAU_WINDOW})) AS o(o)
    )
    SELECT period, COUNT(DISTINCT user_id) AS active_users
    FROM e GROUP BY period
"""

query(q_active_users, SQL_ACTIVE_USERS)


# ======================================================================
# resample_interp — linear-interpolated lattice (operators/history.py)
# ======================================================================
INTERP_BUCKET_NS = 3_600_000_000_000  # 1 hour
INTERP_MAX_USER = 100


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < INTERP_MAX_USER)
        .select("user_id", "ts", "value", "event_id")
    )
    return resample_interp(
        ev, ["user_id"], "ts", "value", INTERP_BUCKET_NS, tiebreak=["event_id"]
    )


SQL_RESAMPLE_INTERP = f"""
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events
        WHERE user_id < {INTERP_MAX_USER} AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, b, value AS v, tsn AS t FROM (
            SELECT user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)} AS b, value, tsn,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)}
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY user_id
    ),
    lat AS (
        SELECT bounds.user_id, t.b
        FROM bounds, UNNEST(range(b0, b1 + 1)) AS t(b)
    ),
    j AS (
        SELECT lat.user_id, lat.b, obs.v, obs.t
        FROM lat LEFT JOIN obs
          ON obs.user_id = lat.user_id AND obs.b = lat.b
    ),
    w AS (
        SELECT user_id, b, v,
               LAST_VALUE(v IGNORE NULLS) OVER fwd AS pv,
               LAST_VALUE(t IGNORE NULLS) OVER fwd AS pt,
               LAST_VALUE(v IGNORE NULLS) OVER bwd AS nv,
               LAST_VALUE(t IGNORE NULLS) OVER bwd AS nt
        FROM j
        WINDOW fwd AS (PARTITION BY user_id ORDER BY b
                       ROWS UNBOUNDED PRECEDING),
               bwd AS (PARTITION BY user_id ORDER BY b DESC
                       ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, b * {INTERP_BUCKET_NS} AS bucket_start,
           FLOOR((CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) *
                       (CAST(b * {INTERP_BUCKET_NS} - pt AS DOUBLE)
                        / CAST(nt - pt AS DOUBLE))
                  END) * 1e6 + 0.5) / 1e6 AS value_q6,
           v IS NULL AS is_gap
    FROM w
"""

query(q_resample_interp, SQL_RESAMPLE_INTERP)


# ======================================================================
# attribution — last-touch purchase→click attribution within a 7-day
# window (operators/joins.asof_join over the events stream): the
# canonical marketing/behavioral as-of use, and a second driver-grade
# exercise of the union+running-window as-of plan.
# ======================================================================
ATTR_TOL_NS = 7 * 24 * 3_600_000_000_000


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases,
        clicks,
        "ts",
        ["user_id"],
        ["click_id"],
        tolerance=ATTR_TOL_NS,
        direction="backward",
    )
    # unattributed purchases carry -1 (not NULL): the parity canon
    # sorts rows column-wise and a nullable FIRST column cannot order
    # against strings — the registry-wide convention is null-free keys
    return out.select(
        "purchase_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("ts") - F.col("ts_right"), F.lit(-1)).alias(
            "gap_ns"
        ),
    )


SQL_ATTRIBUTION = f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn
        FROM events
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, tsn
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           COALESCE(c.click_id, -1) AS click_id,
           COALESCE(p.tsn - c.ctsn, -1) AS gap_ns
    FROM p LEFT JOIN LATERAL (
        SELECT e.event_id AS click_id, e.tsn AS ctsn
        FROM ev e
        WHERE e.user_id = p.user_id AND e.event_type = 'click'
          AND e.tsn <= p.tsn AND e.tsn >= p.tsn - {ATTR_TOL_NS}
        ORDER BY e.tsn DESC, e.event_id DESC LIMIT 1
    ) c ON TRUE
"""

query(q_attribution, SQL_ATTRIBUTION)


# ======================================================================
# resample_nulls — the NULL path of resample_interp, driver-verified
# ======================================================================
NULL_MOD = 13  # every 13th event_id carries a NULL value


def q_resample_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < INTERP_MAX_USER)
        .select(
            "user_id",
            "ts",
            F.when(
                F.col("event_id") % NULL_MOD == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(F.col("value"))
            .alias("value"),
            "event_id",
        )
    )
    return resample_interp(
        ev, ["user_id"], "ts", "value", INTERP_BUCKET_NS, tiebreak=["event_id"]
    )


SQL_RESAMPLE_NULLS = f"""
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events
        WHERE user_id < {INTERP_MAX_USER}
          AND event_id % {NULL_MOD} <> 0
          AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, b, value AS v, tsn AS t FROM (
            SELECT user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)} AS b, value, tsn,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)}
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY user_id
    ),
    lat AS (
        SELECT bounds.user_id, t.b
        FROM bounds, UNNEST(range(b0, b1 + 1)) AS t(b)
    ),
    j AS (
        SELECT lat.user_id, lat.b, obs.v, obs.t
        FROM lat LEFT JOIN obs
          ON obs.user_id = lat.user_id AND obs.b = lat.b
    ),
    w AS (
        SELECT user_id, b, v,
               LAST_VALUE(v IGNORE NULLS) OVER fwd AS pv,
               LAST_VALUE(t IGNORE NULLS) OVER fwd AS pt,
               LAST_VALUE(v IGNORE NULLS) OVER bwd AS nv,
               LAST_VALUE(t IGNORE NULLS) OVER bwd AS nt
        FROM j
        WINDOW fwd AS (PARTITION BY user_id ORDER BY b
                       ROWS UNBOUNDED PRECEDING),
               bwd AS (PARTITION BY user_id ORDER BY b DESC
                       ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, b * {INTERP_BUCKET_NS} AS bucket_start,
           FLOOR((CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) *
                       (CAST(b * {INTERP_BUCKET_NS} - pt AS DOUBLE)
                        / CAST(nt - pt AS DOUBLE))
                  END) * 1e6 + 0.5) / 1e6 AS value_q6,
           v IS NULL AS is_gap
    FROM w
"""

query(q_resample_nulls, SQL_RESAMPLE_NULLS)
