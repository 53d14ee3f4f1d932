"""Round-5c driver queries: storage-layout and incremental-maintenance
patterns that only pay off at cluster scale, plus the video half of the
multimodal column family.

- ``bucketed_join``: the bucketed inventory store (exports/store.py) —
  both sides of a cell-level join persisted with ``bucketBy(cell_id)``
  so Catalyst plans the join with ZERO exchanges (pinned in
  tests/test_plan_shapes.py).  At 100 TB this is the difference between
  re-shuffling the fact table on every remap/add/combine rerun and
  paying the partitioning once at write time; the reference's analogue
  is the weights ``.npz`` cache (emiproc/regrid.py:41-78).
- ``delta_totals``: incremental rollup maintenance — category/substance
  totals recomputed from pre-aggregated BASE state merged with a small
  DELTA batch, never rescanning the base facts.  Exactness survives the
  two-level aggregation because partial sums are µ-quantized
  (qhelpers.sumd), so merge(sumd parts) == sumd(whole) bit-for-bit; the
  oracle recomputes the totals from the full fact table in one pass.
- ``frame_sample``: video-frame-sampling plumbing on opaque binary
  payloads (operators/multimodal.py:110) — one row per sampled byte
  offset via ``posexplode(sequence(...))``, all JVM-side.  Real video
  decode needs codecs this container lacks; the partition-explosion
  shape, schema, and offset arithmetic are the real, tested part.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.qhelpers import sql_sumd, sumd
from emiproc_spark.registry import query

# ======================================================================
# bucketed_join — zero-shuffle co-located join (exports/store.py)
# ======================================================================
BKT_BUCKETS = 16


def _bucketed_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two bucketed inventories, written once per session per
    sf_dir (the write is itself part of the pattern under test, but
    repeating it on every bench iteration would time the sink, not the
    join).  Catalog tables die with their session, so the session's
    application id is part of the store name."""
    from emiproc_spark.exports.store import (
        read_inventory_table,
        save_inventory_bucketed,
    )

    def build(path: str) -> None:
        em = fx.emissions(spark, sf_dir)
        flow = (
            em.where(F.col("category").isin("A", "N"))
            .groupBy("cell_id")
            .agg(sumd("value_kg_y").alias("flow_kg_y"))
        )
        ret = (
            em.where(F.col("category") == "R")
            .groupBy("cell_id")
            .agg(sumd("value_kg_y").alias("return_kg_y"))
        )
        t = os.path.basename(path)
        save_inventory_bucketed(
            flow, f"{t}_a", buckets=BKT_BUCKETS, path=os.path.join(path, "a")
        )
        save_inventory_bucketed(
            ret, f"{t}_b", buckets=BKT_BUCKETS, path=os.path.join(path, "b")
        )

    name = f"bkt_{spark.sparkContext.applicationId}"
    t = os.path.basename(fx.store(name, sf_dir, build))
    return read_inventory_table(spark, f"{t}_a"), read_inventory_table(spark, f"{t}_b")


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the two bucketed inventories on cell_id.

    Both scans carry HashPartitioning(cell_id, 16) from the catalog
    bucketing spec — exactly the join's clustering requirement — so the
    plan has NO Exchange on either side, only the residual per-bucket
    sorts (and those vanish too when ``sortBy`` matters at read, which
    Spark applies per bucket file).
    """
    flow, ret = _bucketed_sides(spark, sf_dir)
    return flow.join(ret, ["cell_id"], "inner").select(
        "cell_id", "flow_kg_y", "return_kg_y"
    )


SQL_BUCKETED_JOIN = f"""
    WITH em AS ({fx.EMISSIONS_SQL}),
    flow AS (
        SELECT cell_id, {sql_sumd("value_kg_y")} AS flow_kg_y
        FROM em WHERE category IN ('A', 'N') GROUP BY cell_id
    ),
    ret AS (
        SELECT cell_id, {sql_sumd("value_kg_y")} AS return_kg_y
        FROM em WHERE category = 'R' GROUP BY cell_id
    )
    SELECT flow.cell_id, flow.flow_kg_y, ret.return_kg_y
    FROM flow JOIN ret USING (cell_id)
"""

query(q_bucketed_join, SQL_BUCKETED_JOIN)


# ======================================================================
# delta_totals — incremental rollup maintenance (partial-agg merge)
# ======================================================================
def q_delta_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge pre-aggregated base totals with a small delta batch.

    base (cell_id % 10 != 0) stands in for yesterday's materialized
    rollup; delta (cell_id % 10 == 0) is today's arrivals.  The merge
    re-aggregates the two partial states — base facts are never
    rescanned in the incremental path.  Partials carry the µ-quantized
    numerator as an INT64 (micro-units), so the merge is a plain
    integer sum — exact at ANY magnitude — and only the final
    projection divides back to kg.  (Merging the partials as doubles
    and re-quantizing only round-trips while the numerator stays below
    ~2.2e15; integer partial state has no such ceiling and is what a
    production incremental rollup should materialize.)
    """
    from emiproc_spark.qhelpers import QSCALE

    em = fx.emissions(spark, sf_dir)

    def totals(df: DataFrame) -> DataFrame:
        return df.groupBy("category", "substance").agg(
            F.sum(
                F.floor(F.col("value_kg_y") * F.lit(QSCALE) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("total_micro"),
            F.count("*").alias("n_rows"),
        )

    base = totals(em.where(F.col("cell_id") % 10 != 0))
    delta = totals(em.where(F.col("cell_id") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("category", "substance")
        .agg(
            F.sum("total_micro").alias("total_micro"),
            F.sum("n_rows").alias("n_rows"),
        )
        .select(
            "category",
            "substance",
            (F.col("total_micro").cast("double") / F.lit(QSCALE)).alias(
                "total_kg_y"
            ),
            "n_rows",
        )
    )


SQL_DELTA_TOTALS = f"""
    SELECT category, substance,
           {sql_sumd("value_kg_y")} AS total_kg_y,
           COUNT(*) AS n_rows
    FROM ({fx.EMISSIONS_SQL})
    GROUP BY category, substance
"""

query(q_delta_totals, SQL_DELTA_TOTALS)


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
    from emiproc_spark.operators.multimodal import frame_sample

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
# table_profile — one-pass per-column stats (operators/stats.py)
# ======================================================================
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile every documents column in one aggregation job: non-null
    and exact-distinct counts, min/max as strings, quantized numeric
    sums.  The oracle recomputes each column's row independently."""
    from emiproc_spark.operators.stats import profile_table

    return profile_table(fx.load(spark, sf_dir, "documents"))


def _sql_table_profile() -> str:
    rows = []
    for c, numeric in [
        ("doc_id", True),
        ("text", False),
        ("lang", False),
        ("source", False),
        ("n_chars", True),
    ]:
        # overflow-safe quantized sum (sumd_safe lockstep): decimal
        # accumulation + NULL past the quantizable magnitude
        from emiproc_spark.qhelpers import sql_sumd_safe

        s = (
            sql_sumd_safe(f"CAST({c} AS DOUBLE)")
            if numeric
            else "CAST(NULL AS DOUBLE)"
        )
        rows.append(f"""
        SELECT '{c}' AS "column",
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_nonnull,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str,
               {s} AS sum_num
        FROM documents""")
    return " UNION ALL ".join(rows)


SQL_TABLE_PROFILE = _sql_table_profile()

query(q_table_profile, SQL_TABLE_PROFILE)


# ======================================================================
# int8_topk — quantized similarity search (operators/similarity.py)
# ======================================================================
INT8_K = 20
INT8_DIM = 64
# closed-form pre-quantized query: qq_i = (i*37) % 17 - 8 in [-8, 8]
INT8_QQ = [(i * 37) % 17 - 8 for i in range(INT8_DIM)]


def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized similarity search: the embedding store quantizes
    per-vector (q_i = floor(v_i*127/max|v| + 0.5)) and the top-20 ranks
    by exact INT64 dot product against a closed-form quantized query —
    no float tie ambiguity, so the oracle (same quantization formula +
    integer dot in DuckDB) matches hash-for-hash."""
    from emiproc_spark.operators.similarity import int8_topk

    emb = fx.load(spark, sf_dir, "embeddings")
    return int8_topk(emb, INT8_QQ, k=INT8_K)


SQL_INT8_TOPK = f"""
    WITH ex AS (
        SELECT e.vec_id, CAST(t.i AS INT) AS i,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS x
        FROM embeddings e, UNNEST(range(len(e.embedding))) AS t(i)
    ),
    m AS (SELECT vec_id, MAX(ABS(x)) AS ma FROM ex GROUP BY vec_id),
    qv AS (
        SELECT ex.vec_id, ex.i,
               CASE WHEN m.ma > 0
                    THEN CAST(FLOOR(ex.x * 127.0 / m.ma + 0.5) AS BIGINT)
                    ELSE 0 END AS qi
        FROM ex JOIN m USING (vec_id)
    )
    SELECT vec_id,
           CAST(SUM(qi * ((i * 37) % 17 - 8)) AS BIGINT) AS score
    FROM qv GROUP BY vec_id
    ORDER BY score DESC, vec_id
    LIMIT {INT8_K}
"""

query(q_int8_topk, SQL_INT8_TOPK)


# ======================================================================
# fuzzy_join — edit-distance-1 key matching (operators/dedup.py)
# ======================================================================
FZ_PREFIX_LEN = 10


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical key detection without a quadratic join: distinct
    10-char document prefixes (min doc_id as representative) matched at
    Levenshtein distance ≤ 1 via SymSpell deletion blocking + built-in
    levenshtein confirm.  The oracle brute-forces the same pair set
    with DuckDB's levenshtein — the blocking must be recall-complete
    for the row sets to match."""
    from emiproc_spark.operators.dedup import edit1_pairs

    prefixes = (
        fx.load(spark, sf_dir, "documents")
        .select(F.substring("text", 1, FZ_PREFIX_LEN).alias("key"), "doc_id")
        .groupBy("key")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return edit1_pairs(prefixes)


SQL_FUZZY_JOIN = f"""
    WITH p AS (
        SELECT substr(text, 1, {FZ_PREFIX_LEN}) AS k,
               MIN(doc_id) AS doc_id
        FROM documents GROUP BY 1
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.k, b.k) AS INT) AS dist
    FROM p a JOIN p b
      ON a.doc_id < b.doc_id AND levenshtein(a.k, b.k) <= 1
"""

query(q_fuzzy_join, SQL_FUZZY_JOIN)


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
    from emiproc_spark.operators.joins import merge_intervals

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
    import numpy as np
    import pandas as pd

    def run(batches):
        from emiproc_spark.functions.png import write_png

        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                px = (
                    (i * 31 + np.arange(RS_SIDE * RS_SIDE)) % 256
                ).astype(np.uint8).reshape(RS_SIDE, RS_SIDE)
                rows.append({"doc_id": i, "payload": write_png(px)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    from emiproc_spark.operators.multimodal import resize_features

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
# stream_heavy — streaming Misra-Gries + exact confirm (streams.py)
# ======================================================================
STREAM_HH_K = 20


def q_stream_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming run of the bounded-state heavy-hitter
    tracker: user_id events stream through 4 micro-batches into 8
    Misra-Gries state shards (streaming half), then the final sketches'
    candidates are counted EXACTLY over the replayable source and the
    top-20 returned (confirm half) — the streaming twin of the batch
    `heavy_hitters` query, same guarantee structure.
    """
    from pyspark.sql import Window

    from emiproc_spark.streaming.streams import heavy_hitters_stream, run_available_now

    def build(path: str) -> None:
        ev = fx.events(spark, sf_dir).select("event_id", "user_id")
        # 4-file parquet dir (maxFilesPerTrigger=1 => four real
        # micro-batches, so the sketch state is merged+decayed across
        # batches, not built in one shot); overlap the four 1-task
        # slice writes (guide §2.6); pinned mtimes keep the batch
        # order identical to the old sequential appends (the MG merge
        # order is part of the sketch's identity)
        from concurrent.futures import ThreadPoolExecutor

        from emiproc_spark.streaming.bootstrap import write_ordered_file

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(
                pool.map(
                    lambda p: write_ordered_file(
                        ev.where(F.col("event_id") % 4 == p).select("user_id"),
                        path,
                        p,
                    ),
                    range(4),
                )
            )

    d = fx.store("hh_stream", sf_dir, build)

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    sketches = heavy_hitters_stream(stream, "user_id", capacity=1024, n_buckets=8)
    # stateful shards are per-shuffle-partition state stores; 8 match
    # n_buckets and cut the fixture-scale setup cost (binds at START)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        res = run_available_now(sketches, "r5c_stream_hh", "update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    w = Window.partitionBy("bucket")
    final = res.withColumn("mx", F.max("ver").over(w)).where(
        F.col("ver") == F.col("mx")
    )
    cand = final.select(F.col("v").cast("long").alias("user_id")).distinct()
    exact = (
        spark.read.parquet(d)
        .join(F.broadcast(cand), "user_id", "semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    return exact.orderBy(F.col("n").desc(), "user_id").limit(STREAM_HH_K)


SQL_STREAM_HEAVY = f"""
    SELECT user_id, COUNT(*) AS n
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    ORDER BY n DESC, user_id
    LIMIT {STREAM_HH_K}
"""

query(q_stream_heavy, SQL_STREAM_HEAVY)


# ======================================================================
# lsh_verified — verify-then-cluster dedup (operators/dedup.py)
# ======================================================================
LSH_VERIFY_THRESHOLD = 0.5


def q_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup pipeline in one query: MinHash
    signatures → LSH candidate pairs → EXACT shingle-Jaccard confirm ≥
    0.5.  LSH bounds the pair count (never a corpus self-join); the
    verify stage then removes its band-collision false positives, so
    downstream clustering only ever sees true near-duplicates.  The
    oracle recomputes candidates AND the exact Jaccard independently.

    Reads the shared per-sf_dir candidate store
    (driver_queries_r5f.minhash_candidate_frame) — the same
    MinHash→LSH→exact-verify pipeline this query used to recompute;
    verify_candidate_pairs drops no-common-shingle candidates and
    filters jaccard ≥ threshold, which on the stored frame is exactly
    the jaccard ≥ threshold filter (threshold > 0 and missing pairs are
    stored with jaccard = 0).
    """
    from emiproc_spark.driver_queries_r5f import minhash_candidate_frame

    return (
        minhash_candidate_frame(spark, sf_dir)
        .where(F.col("jaccard") >= LSH_VERIFY_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _sql_lsh_verified() -> str:
    from emiproc_spark.driver_queries_text import LSH_BANDED_CTES

    return f"""
    {LSH_BANDED_CTES},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           i.n_common / CAST(za.sz + zb.sz - i.n_common AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE i.n_common / CAST(za.sz + zb.sz - i.n_common AS DOUBLE)
          >= {LSH_VERIFY_THRESHOLD}
"""


query(q_lsh_verified, _sql_lsh_verified())
