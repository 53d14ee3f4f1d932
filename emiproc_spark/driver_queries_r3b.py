"""Round-3 driver-contract queries (new this round).

Covers the three gaps the round-2 review called out explicitly:

- ``speciate_country`` — the country-dependent speciation branch
  (per-cell fraction blend normalized per cell, partial-coverage
  renormalization, −99 default fallback; reference
  emiproc/speciation.py:204-260) which was unit-only until now;
- ``icon_mesh`` — triangular-mesh grid ingest + remap (reference ICON
  grid build, emiproc/grids.py:837-1013);
- ``profile_da`` — the standalone midpoint-stamped native-frequency
  profile series (reference profiles/temporal/operators.py:152-235).

Float determinism follows the repo-wide contract: per-row double chains
written identically on both engines, multi-term reductions through the
µ-quantized integer sum (``qhelpers``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark.qhelpers import qd, sql_qd, sql_sumd, sumd  # noqa: F401
from emiproc_spark.registry import query


# ======================================================================
# country-dependent speciation (reference emiproc/speciation.py:204-260)
# ======================================================================
# Cell-coverage design, chosen so every branch of the operator executes:
#   cell % 4 == 0 → C0 0.6 + C1 0.4  (full coverage, two-country blend)
#   cell % 4 == 1 → C0 0.5 only      (partial coverage → renormalized ×2)
#   cell % 4 == 2 → C2 1.0           (country absent from ratio table →
#                                     blend sum 0 → −99 default)
#   cell % 4 == 3 → no coverage rows (→ −99 default)
# Substance F splits into F1/F2; substance O has no entry → passthrough.
_SPEC_ROWS = [
    (None, "C0", None, None, "F", "F1", 0.7),
    (None, "C0", None, None, "F", "F2", 0.3),
    (None, "C1", None, None, "F", "F1", 0.25),
    (None, "C1", None, None, "F", "F2", 0.75),
    (None, "-99", None, None, "F", "F1", 0.45),
    (None, "-99", None, None, "F", "F2", 0.55),
]


def _cell_country(spark: SparkSession) -> DataFrame:
    rows = []
    for c in range(fx.N_CELLS):
        if c % 4 == 0:
            rows += [(c, "C0", 0.6), (c, "C1", 0.4)]
        elif c % 4 == 1:
            rows += [(c, "C0", 0.5)]
        elif c % 4 == 2:
            rows += [(c, "C2", 1.0)]
    return local_rows_df(spark, rows, "cell_id long, country string, fraction double")


def q_speciate_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.core.schemas import SPECIATION
    from emiproc_spark.operators.speciation import speciate

    # pre-aggregate to the canonical one-row-per-(cell, cat, sub)
    # inventory before speciating: the dst fan-out multiplies keys, not
    # raw scan rows (same pattern as q_temporal_expand)
    e = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    spec = local_rows_df(spark, _SPEC_ROWS, schema=SPECIATION)
    out = speciate(e, spec, cell_country=_cell_country(spark))
    return out.select("cell_id", "category", "substance", "value_kg_y")


# blend arithmetic mirrored term-by-term (two-term double addition is
# order-independent, so the Spark groupBy sum matches the literal chain)
_BLEND_F1 = (
    "CASE cell_id % 4 WHEN 0 THEN (0.6 / 1.0) * 0.7 + (0.4 / 1.0) * 0.25 "
    "WHEN 1 THEN (0.5 / 0.5) * 0.7 ELSE 0.45 END"
)
_BLEND_F2 = (
    "CASE cell_id % 4 WHEN 0 THEN (0.6 / 1.0) * 0.3 + (0.4 / 1.0) * 0.75 "
    "WHEN 1 THEN (0.5 / 0.5) * 0.3 ELSE 0.55 END"
)
SQL_SPECIATE_COUNTRY = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance,
               {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    ),
    sp AS (
        SELECT cell_id, category, 'F1' AS substance,
               value_kg_y * ({_BLEND_F1}) AS value_kg_y
        FROM e WHERE substance = 'F'
        UNION ALL
        SELECT cell_id, category, 'F2' AS substance,
               value_kg_y * ({_BLEND_F2}) AS value_kg_y
        FROM e WHERE substance = 'F'
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y
        FROM e WHERE substance <> 'F'
    )
    SELECT cell_id, category, substance, value_kg_y FROM sp
"""

query(q_speciate_country, SQL_SPECIATE_COUNTRY)


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
    import numpy as np

    from emiproc_spark.sources.icon_grid import make_icon_grid_file

    lon, lat = [], []
    for tx in range(5):
        for ty in range(5):
            x0, y0 = tx * 2.0, ty * 2.0
            lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])
            lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])
    import os

    path = os.path.join(fx.scratch_dir("emiproc_icon_"), "grid.nc")
    return make_icon_grid_file(path, np.array(lon), np.array(lat))


def q_icon_mesh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.grids import regular_grid
    from emiproc_spark.operators.regrid import weights_poly_poly
    from emiproc_spark.sources.icon_grid import icon_mesh_grid

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
# midpoint-stamped profile series (reference get_profile_da,
# profiles/temporal/operators.py:152-235)
# ======================================================================
def q_profile_da(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.interpolation import profile_da

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
    from emiproc_spark.operators.temporal import days_in_year

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
# totals invariant checker (reference total_emissions_almost_equal,
# emiproc/utilities.py:545-578) — distributed per-key comparison
# ======================================================================
def q_totals_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators import basic as ops

    e = fx.emissions(spark, sf_dir)
    factors = local_rows_df(spark, 
        [("A", "F", 1.1), ("R", "O", 1.0000001)],
        schema="category string, substance string, factor double",
    )
    scaled = ops.scale_inventory(e, factors)
    diff = ops.total_emissions_diff(
        ops.get_total_emissions(e), ops.get_total_emissions(scaled)
    )
    # totals themselves are plain double sums (fold-order wobble across
    # engines) — compare only the tolerance verdicts, whose thresholds
    # (0.1 and 1e-7 vs rtol 1e-5) sit far from any ulp boundary
    return diff.select("substance", "category", "within_tol")


_SCALE_TOT = (
    "CASE WHEN category = 'A' AND substance = 'F' THEN 1.1 "
    "WHEN category = 'R' AND substance = 'O' THEN 1.0000001 ELSE 1.0 END"
)
SQL_TOTALS_EQUAL = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    ta AS (
        SELECT substance, category, SUM(value_kg_y) AS v FROM e GROUP BY 1, 2
        UNION ALL
        SELECT substance, '__total__', SUM(value_kg_y) FROM e GROUP BY substance
    ),
    tb AS (
        SELECT substance, category, SUM(value_kg_y * ({_SCALE_TOT})) AS v
        FROM e GROUP BY 1, 2
        UNION ALL
        SELECT substance, '__total__', SUM(value_kg_y * ({_SCALE_TOT}))
        FROM e GROUP BY substance
    )
    SELECT ta.substance, ta.category,
           (ta.v = tb.v OR GREATEST(ABS(ta.v), ABS(tb.v)) = 0.0
            OR ABS(ta.v - tb.v) / GREATEST(ABS(ta.v), ABS(tb.v)) <= 1e-5)
               AS within_tol
    FROM ta JOIN tb USING (substance, category)
"""

query(q_totals_equal, SQL_TOTALS_EQUAL)


# ======================================================================
# k-NN majority-vote classification over the embeddings table (uses the
# label column; broadcast query side, same determinism contract as the
# knn_join query: quantized per-element products in the oracle land on
# the same ranking as the engine's raw-double fold)
# ======================================================================
DIM = 64
DOT_SCALE = 1e12


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.similarity import knn_classify

    emb = fx.load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    return knn_classify(q, corpus, k=5)


SQL_KNN_CLASSIFY = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 10
    ),
    terms AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id >= 10
    ),
    scored AS (
        SELECT query_id, neighbor_id, ANY_VALUE(label) AS label,
               CAST(SUM(CAST(FLOOR(v * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS dp,
               CAST(SUM(CAST(FLOOR(v * v * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS na,
               CAST(SUM(CAST(FLOOR(qv * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS nq
        FROM terms GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, label,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY dp / (SQRT(na) * SQRT(nq)) DESC, neighbor_id
               ) AS rk
        FROM scored
    ),
    votes AS (
        SELECT query_id, label, COUNT(*) AS votes
        FROM ranked WHERE rk <= 5 GROUP BY 1, 2
    ),
    best AS (
        SELECT query_id, label AS pred_label, votes,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY votes DESC, label ASC
               ) AS vk
        FROM votes
    )
    SELECT query_id, pred_label, votes FROM best WHERE vk = 1
"""

query(q_knn_classify, SQL_KNN_CLASSIFY)


# ======================================================================
# Structured Streaming end-to-end: a real stream (file source →
# availableNow trigger → memory sink) whose finished result equals the
# batch aggregation — which gives streaming a true DuckDB oracle
# instead of the rows-only check.  Values are pre-quantized to int64 so
# the window sums are exact on both engines.
# ======================================================================
from emiproc_spark.fixtures import NS_PER_HOUR as NS_PER_HOUR_R3B

_STREAM_DIR_CACHE: dict[str, str] = {}


def _stream_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events rewritten once per sf_dir as ONE parquet file: a single
    input file ⇒ the availableNow run is a single micro-batch, so
    within-watermark dedup state is never evicted mid-run and the
    finished stream equals the batch aggregation exactly."""
    if sf_dir in _STREAM_DIR_CACHE:
        return _STREAM_DIR_CACHE[sf_dir]
    import os

    from emiproc_spark.fixtures import events as _events
    from emiproc_spark.qhelpers import QSCALE

    ev = _events(spark, sf_dir)
    out = os.path.join(fx.scratch_dir("emiproc_stream_"), "in")
    (
        ev.select(
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "event_type",
            "user_id",
            F.floor(F.col("value") * F.lit(QSCALE) + F.lit(0.5))
            .cast("long")
            .alias("value"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    _STREAM_DIR_CACHE[sf_dir] = out
    return out


def q_stream_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour aggregation executed as an actual
    Structured Streaming query (streams.windowed_event_stats), complete
    output mode so every window reaches the sink."""
    from emiproc_spark.streaming.streams import run_available_now, windowed_event_stats

    src = _stream_events_dir(spark, sf_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, user_id long, value long"
    ).parquet(src)
    out = windowed_event_stats(stream, "1 hour", "2 hours")
    res = run_available_now(out, "r3b_stream_stats", "complete")
    return res.select(
        F.unix_seconds("window_start").alias("epoch_s"),
        "event_type",
        "n_events",
        "sum_value",
    )


SQL_STREAM_WINDOW_STATS = f"""
    SELECT (epoch_ns(ts) // {NS_PER_HOUR_R3B}) * 3600 AS epoch_s,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value
    FROM events
    GROUP BY 1, 2
"""

query(q_stream_window_stats, SQL_STREAM_WINDOW_STATS)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup (dropDuplicatesWithinWatermark) run to
    completion; only the key columns are returned, so the result is the
    distinct key set regardless of which arrival was kept."""
    from emiproc_spark.streaming.streams import dedup_stream, run_available_now

    src = _stream_events_dir(spark, sf_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, user_id long, value long"
    ).parquet(src)
    # watermark horizon >> data span: dedup is global even if the file
    # source ever split the run into several micro-batches
    out = dedup_stream(stream, ["user_id", "event_type"], "3650 days").select(
        "user_id", "event_type"
    )
    # dropDuplicatesWithinWatermark emits every kept row in the DATA
    # batch that delivered it; the trailing no-data batch only evicts
    # expired state (emits nothing), so skip it — one stateful-stage
    # execution saved.  tests/test_streaming_no_data_batches.py runs
    # this query under both settings and asserts equal frames.
    return run_available_now(out, "r3b_stream_dedup", "append", no_data_batches=False)


SQL_STREAM_DEDUP = """
    SELECT DISTINCT user_id, event_type FROM events
"""

query(q_stream_dedup, SQL_STREAM_DEDUP)


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
    import os

    from emiproc_spark.sources.profiles_io import (
        profiles_from_yaml,
        profiles_to_yaml,
    )

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
# cluster-collapse corpus materialization (dedup_keep_representative):
# every near-dup component keeps only its min-id representative — the
# corpus-level effect of dup_clusters, checked against the recursive-CTE
# component oracle
# ======================================================================
def q_dedup_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_text import _docs2
    from emiproc_spark.operators import cluster as cl
    from emiproc_spark.operators import dedup as dd

    docs = _docs2(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, k=8)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return cl.dedup_keep_representative(docs, pairs).select("doc_id")


def _sql_dedup_representative() -> str:
    from emiproc_spark.driver_queries_curate import SQL_DUP_CLUSTERS
    from emiproc_spark.driver_queries_text import DOCS2_SQL

    return f"""
    SELECT doc_id FROM ({DOCS2_SQL}) d
    WHERE doc_id NOT IN (
        SELECT node FROM ({SQL_DUP_CLUSTERS}) c WHERE node <> component
    )
    """


query(q_dedup_representative, _sql_dedup_representative())

