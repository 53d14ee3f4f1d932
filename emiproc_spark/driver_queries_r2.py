"""Round-2 driver-contract queries: profile algebra edges, export
regionization, I/O connectors, and similarity ops that previously had
only unit tests (VERDICT r1 item 5).

Same contract as ``driver_queries``: each Spark callable has a DuckDB
oracle computing the identical result in closed-form ANSI SQL over the
driver's parquet tables; float determinism via qhelpers quantization
(per-row doubles are bit-identical across engines; sums µ-quantize;
renormalized ratios collapse fold-order wobble at 1e-9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark.qhelpers import qd, sql_qd, sql_sumd, sumd
from emiproc_spark.registry import query

DIM = 64
DOT_SCALE = 1e12


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


def _daily_k(spark: SparkSession) -> DataFrame:
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
    from emiproc_spark.operators.profiles import remap_profiles
    from emiproc_spark.operators.regrid import weights_rect_rect

    e = fx.emissions(spark, sf_dir)
    # integral masses: any fold order sums exactly in both engines
    mass = e.groupBy("cell_id").agg(
        F.floor(sumd("value_kg_y")).cast("double").alias("mass")
    )
    cidx = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    w = weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    out = remap_profiles(cidx, _daily_k(spark), w, emissions_by_cell=mass)
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
    from emiproc_spark.operators.profiles import group_profiles_indexes

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
    from emiproc_spark.operators.profiles import merge_indexes

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
    from emiproc_spark.operators.interpolation import resolve_daytype

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
# regionize: ICON-OEM regions = distinct (timezone, profile) pairs with
# dense ids (reference emiproc/exports/icon.py:255-298)
# ======================================================================
def q_regionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.writers import regionize

    cell_tz = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"),
        F.concat(F.lit("TZ"), (F.col("id") % 4)).alias("tzid"),
    )
    idx = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    return regionize(cell_tz, idx)


SQL_REGIONIZE = f"""
    SELECT c AS cell_id,
           CAST((c % 4) * 3 + (c % 3) AS INT) AS region_id,
           'TZ' || CAST(c % 4 AS VARCHAR) AS tzid,
           CAST(c % 3 AS INT) AS profile_id
    FROM range({fx.N_CELLS}) t(c)
"""

query(q_regionize, SQL_REGIONIZE)


# ======================================================================
# tz_shifted_ratios: roll daily ratios by per-region UTC offsets
# (reference emiproc/exports/icon.py:505-526)
# ======================================================================
def q_tz_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.writers import tz_shifted_ratios

    shifts = local_rows_df(spark, 
        [(r, r - 2) for r in range(6)], schema="region_id int, shift_h int"
    )
    out = tz_shifted_ratios(_daily_k(spark), shifts)
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
# from_duckdb: DuckDB table with emission_* wide columns → long form
# (reference DuckDBInventory, inventories/zurich/duck.py:84-154)
# ======================================================================
def q_from_duckdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    import duckdb

    from emiproc_spark.sources.readers import from_duckdb

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
    import json

    from emiproc_spark.sources.osm import osm_json_to_sources

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
# hamming_pairs: near-dup doc pairs by simhash Hamming distance,
# LSH-blocked on 16-bit quarters (complete for distance ≤ 3)
# ======================================================================
def q_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators import dedup as dd

    d = fx.load(spark, sf_dir, "documents").where(F.col("doc_id") < 1000).select(
        "doc_id", "text"
    )
    fp = dd.simhash(d)
    return dd.hamming_pairs(fp, max_distance=3)


SQL_HAMMING_PAIRS = """
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
    tok AS (
        SELECT DISTINCT doc_id, t.tok
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
             UNNEST(toks) AS t(tok)
    ),
    dig AS (
        SELECT doc_id,
               p.p * 4 + b.b AS pos,
               CASE WHEN CAST(FLOOR(
                    (strpos('0123456789abcdef', substr(md5(tok), p.p + 1, 1)) - 1)
                    / POWER(2.0, 3 - b.b)) AS BIGINT) % 2 = 1
                    THEN 1 ELSE -1 END AS bit
        FROM tok, UNNEST(range(16)) AS p(p), UNNEST(range(4)) AS b(b)
    ),
    votes AS (SELECT doc_id, pos, SUM(bit) AS vote FROM dig GROUP BY 1, 2),
    sim AS (
        SELECT doc_id,
               string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, ''
                          ORDER BY pos) AS bits
        FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(hamming(a.bits, b.bits) AS INT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE hamming(a.bits, b.bits) <= 3
"""

query(q_hamming_pairs, SQL_HAMMING_PAIRS)


# ======================================================================
# knn_join: exact k-NN of a broadcast query set against the corpus
# ======================================================================
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.similarity import knn_join

    emb = fx.load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    out = knn_join(q, emb, k=3)
    # 1e-4 quantizer: engine folds raw doubles, oracle reconstructs via
    # quantized per-element products (≤1e-11 apart) — both land on the
    # same 1e-4 grid point
    return out.select("query_id", "neighbor_id", qd("cos", 1e4).alias("cos"))


SQL_KNN_JOIN = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    terms AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(CAST(FLOOR(v * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS dp,
               CAST(SUM(CAST(FLOOR(v * v * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS na,
               CAST(SUM(CAST(FLOOR(qv * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS nq
        FROM terms GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, neighbor_id, dp / (SQRT(na) * SQRT(nq)) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY dp / (SQRT(na) * SQRT(nq)) DESC, neighbor_id
               ) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, {sql_qd('cos', 1e4)} AS cos
    FROM ranked WHERE rk <= 3
"""

query(q_knn_join, SQL_KNN_JOIN)


# ======================================================================
# to_wide: long → (cat,sub)-pivoted wide layout (reference
# inv_to_xarray / raster export, utils/translators.py:11-49)
# ======================================================================
def q_to_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.readers import to_wide

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
# add_totals: per-substance rollup over categories — the reference's
# NetCDF export totals (exports/rasters.py:247-306)
# ======================================================================
def q_add_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.writers import add_totals

    e2 = (
        fx.emissions(spark, sf_dir)
        .groupBy("substance", "category")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("value_kg_y"))
    )
    return add_totals(e2)


SQL_ADD_TOTALS = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    e2 AS (
        SELECT substance, category, FLOOR({sql_sumd('value_kg_y')}) AS v
        FROM e GROUP BY 1, 2
    )
    SELECT substance, COALESCE(category, '__total__') AS category,
           CAST(SUM(v) AS DOUBLE) AS total_kg_y
    FROM e2 GROUP BY ROLLUP (substance, category)
    HAVING substance IS NOT NULL
"""

query(q_add_totals, SQL_ADD_TOTALS)


# ======================================================================
# hour_of_year_to_cycles: inverse temporal resample — hourly series →
# (daily mean, weekly mean, monthly sum) cycles
# (reference emiproc/profiles/temporal/operators.py:304-318)
# ======================================================================
def q_hoy_to_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.interpolation import hour_of_year_to_cycles

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
# icon_oem_sf: OEM region scaling factors with UTC-shift roll
# (reference exports/icon.py:505-526)
# ======================================================================
def q_icon_oem_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.icon import region_scaling_factors

    regions = local_rows_df(spark, 
        [(r, f"R{r}", r - 2) for r in range(6)],
        "region_id int, region_key string, tz_shift int",
    )
    index = local_rows_df(spark, 
        [("traffic", "NOx", r, "daily", r % 3) for r in range(6)],
        "category string, substance string, region_id int, ptype string, profile_id int",
    )
    out = region_scaling_factors(index, _daily_k(spark), regions)
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
    import numpy as np
    import pandas as pd

    from emiproc_spark.operators.masks import cell_region_fractions
    from emiproc_spark.sources.shapefile import shapefile_to_regions, write_shapefile

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
# add_profiles / concatenate_profiles: store union with id offset
# (reference concatenate_profiles, profiles/operators.py:35-55)
# ======================================================================
def q_add_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.composite import concatenate_profiles

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
    from emiproc_spark.operators.profiles import add_constant_profile_to_missing_cells

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
    from emiproc_spark.operators.composite import broadcast_to_types

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
