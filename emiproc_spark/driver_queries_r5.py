"""Round-5 driver queries: oracle coverage for the last SURVEY §2 rows
that previously rested on unit tests only.

- ``profile_index_wildcard``: the nan/empty-selector wildcard fallback
  of the profile-index CSV reader (reference ``get_profiles_indexes``,
  profiles/utils.py:152-239 — a missing coordinate means "applies to
  all values of that dim", and a specific (category, substance) miss
  falls back to the most specific wildcard row).  A CSV with all four
  selector patterns is read by ``read_temporal_profiles_csv`` and
  resolved against a fact key set via ``attach_profiles``; the oracle
  replays the specificity lattice in SQL.
- ``specific_days``: ``ensure_specific_days_consistency`` (reference
  temporal/utils.py:36-97) — weekday/weekday_4/weekend expansion with
  single-day > weekday_4 > range precedence and general-profile gap
  fill, including the ``weekday_4`` type added for reference-enum
  parity this round.
- ``profile_validity``: ``check_valid_profiles`` as a data-quality
  query returning the violating rows (reference profile invariants,
  profiles/utils.py:54-92, temporal/profiles.py:53-55).
- ``gpkg_lines``: the GeoPackage line-buffer ingest path (reference
  ``process_emission_category``, inventories/utils.py:58-88 —
  ``buffer(width, cap_style=3)``): straight polylines written to a real
  .gpkg, read back through ``from_geopackage`` which buffers them to
  polygons; the square-cap rectangle area ``(L + 2w)·2w`` is closed
  form, so the oracle recomputes it arithmetically.
- ``cf_attrs``: ``nc_cf_attributes`` standalone read-back (reference
  exports/netcdf.py:6-69): CF global attributes written through
  ``export_raster_netcdf`` and read back from the file; timestamped
  fields are checked as presence markers, deterministic fields by
  value.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx

from emiproc_spark.qhelpers import qd, sql_qd
from emiproc_spark.registry import query


# ======================================================================
# profile_index_wildcard — CSV wildcard fallback (profiles/utils.py:228-238)
# ======================================================================
def q_profile_index_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.temporal import attach_profiles
    from emiproc_spark.sources.profiles_io import read_temporal_profiles_csv

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
    from emiproc_spark.operators.composite import ensure_specific_days_consistency

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
    from emiproc_spark.operators.composite import check_valid_profiles

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
# gpkg_lines — line-buffer ingest (inventories/utils.py:58-88)
# ======================================================================
_LINE_WIDTH = 10.0


def q_gpkg_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.functions.geometry import wkb_linestring
    from emiproc_spark.sources.geopackage import (
        export_to_geopackage,
        from_geopackage,
    )

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
        import numpy as np

        from emiproc_spark.functions import geometry as geom

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
    import pandas as pd

    from emiproc_spark import fixtures as fx
    from emiproc_spark.driver_queries_io import _raster_grid
    from emiproc_spark.exports.netcdf import (
        cf_global_attributes,
        export_raster_netcdf,
    )
    from emiproc_spark.qhelpers import sumd

    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_cf_"), "inv.nc")
    export_raster_netcdf(
        agg,
        _raster_grid(spark),
        out,
        add_totals=False,
        netcdf_attributes=cf_global_attributes(**_CF_FIELDS),
    )

    files = spark.read.format("binaryFile").load(out).select("content")

    def attrs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from emiproc_spark.functions.netcdf3 import read_netcdf

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
# url_dedup — canonical-URL dedup (beyond reference: crawl-pipeline op).
# Four surface forms per page, each exercising different rules; the
# oracle computes the CANONICAL form in closed form (it does not mirror
# the normalization code), so every rule must fire exactly.
# ======================================================================
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.urls import dedup_by_url

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    g = (F.col("doc_id") / 4).cast("long")  # page id: 4 doc variants each
    h = (g % 7).cast("string")
    page = F.concat(F.lit("/page/"), g.cast("string"))
    variants = F.array(
        # www + mixed-case host
        F.concat(F.lit("https://www.Example"), h, F.lit(".com"), page),
        # default port + trailing slash + fragment
        F.concat(
            F.lit("https://example"), h, F.lit(".com:443"), page, F.lit("/#top")
        ),
        # unsorted real params + a tracking param
        F.concat(
            F.lit("https://example"), h, F.lit(".com"), page,
            F.lit("?b=2&a=1&utm_source=feed"),
        ),
        # uppercase scheme/host + sorted params
        F.concat(
            F.lit("HTTPS://EXAMPLE"), h, F.lit(".com"), page, F.lit("?a=1&b=2")
        ),
    )
    urls = docs.select(
        "doc_id",
        F.element_at(variants, (F.col("doc_id") % 4 + 1).cast("int")).alias("url"),
    )
    return dedup_by_url(urls)


# variants {0,1} → bare canonical, {2,3} → ?a=1&b=2; keeper = first
# doc_id of the pair; the last page may be partial (doc count % 4)
SQL_URL_DEDUP = """
    WITH docs AS (SELECT doc_id FROM documents),
    v AS (
        SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS k FROM docs
    ),
    canon AS (
        SELECT doc_id,
               'https://example' || (g % 7) || '.com/page/' || g
               || CASE WHEN k >= 2 THEN '?a=1&b=2' ELSE '' END AS canon_url
        FROM v
    )
    SELECT canon_url, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
    FROM canon GROUP BY canon_url
"""

query(q_url_dedup, SQL_URL_DEDUP)


# ======================================================================
# diversity_sample — one representative per hyperplane-LSH bucket (the
# semantic-diversity down-sampler; operators/sampling.diversity_sample).
# The bucket bits reuse the parity-exact quantized-dot path of
# ann_lsh_buckets (per-term quantization keeps the sign bit identical
# across engines); the oracle wraps that query's SQL with the group.
# ======================================================================
def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_text import q_ann_lsh_buckets

    bits = q_ann_lsh_buckets(spark, sf_dir)
    return bits.groupBy("bucket").agg(
        F.min("vec_id").alias("keeper"), F.count("*").alias("n_members")
    )


def _sql_diversity_sample() -> str:
    from emiproc_spark.driver_queries_text import SQL_ANN_LSH_BUCKETS

    return f"""
        SELECT bucket, MIN(vec_id) AS keeper, COUNT(*) AS n_members
        FROM ({SQL_ANN_LSH_BUCKETS}) GROUP BY bucket
    """


query(q_diversity_sample, _sql_diversity_sample())


# ======================================================================
# specific_day_sf — SpecificDayProfile in a composite product: off-days
# contribute factor 1.0, the profile's own days ratio·24 (reference
# get_scaling_factors_at_time, temporal/operators.py:120-144, the
# where(index≠−1, 1.0)).  Same exp(Σlog)+quantize convention as
# composite_scaling.
# ======================================================================
def q_specific_day_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries import WEEKLY_RATIOS, _daily_ratios
    from emiproc_spark.operators.temporal import scaling_factor_at, time_scaffold

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
# ann_multiprobe — multi-probe LSH ANN: candidates are the query
# vector's bucket plus every bucket at Hamming distance 1 (one flipped
# sign bit), exact cosine re-rank inside.  Buckets and cosines both use
# the parity-exact quantized-dot machinery shared with ann_lsh_buckets
# / ann_cosine_topk.
# ======================================================================
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.driver_queries_text import _dotq, q_ann_lsh_buckets

    bits = q_ann_lsh_buckets(spark, sf_dir)
    qb = bits.where(F.col("vec_id") == 0).select(F.col("bucket").alias("qb"))
    cand = (
        bits.crossJoin(F.broadcast(qb))
        .where(
            F.bit_count(
                F.conv("bucket", 2, 10)
                .cast("long")
                .bitwiseXOR(F.conv("qb", 2, 10).cast("long"))
            )
            <= 1
        )
        .select("vec_id")
    )
    emb = fx.load(spark, sf_dir, "embeddings")
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    terms = (
        emb.join(cand, "vec_id", "left_semi")
        .select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    scored = (
        terms.groupBy("vec_id")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nq")))
    )
    return (
        scored.select("vec_id", qd("cos").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def _sql_ann_multiprobe() -> str:
    from emiproc_spark.driver_queries_text import (
        DIM,
        SQL_ANN_LSH_BUCKETS,
        sql_dotq,
    )

    return f"""
    WITH buckets AS ({SQL_ANN_LSH_BUCKETS}),
    qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
    cand AS (
        SELECT b.vec_id FROM buckets b, qb
        WHERE (
            SELECT COUNT(*) FROM range(8) p(i)
            WHERE substr(b.bucket, CAST(p.i + 1 AS INT), 1)
                  <> substr(qb.bucket, CAST(p.i + 1 AS INT), 1)
        ) <= 1
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    terms AS (
        SELECT e.vec_id,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id IN (SELECT vec_id FROM cand)
    ),
    scored AS (
        SELECT vec_id,
               {sql_dotq('v * qv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('qv * qv')} AS nq
        FROM terms GROUP BY vec_id
    )
    SELECT vec_id, {sql_qd('dp / (SQRT(na) * SQRT(nq))')} AS cos
    FROM scored
    ORDER BY {sql_qd('dp / (SQRT(na) * SQRT(nq))')} DESC, vec_id
    LIMIT 10
    """


query(q_ann_multiprobe, _sql_ann_multiprobe())
