"""Round-5b driver queries: the temporal-join and incremental-curation
operators added this round.

- ``asof_join``: pandas-``merge_asof``-style backward as-of join
  (operators/joins.py) — each click event gets the latest prior view of
  the same user, NULLed beyond a 30-minute tolerance.  The oracle is
  DuckDB's native ``ASOF LEFT JOIN`` (an independent engine-level
  implementation of the same semantics), with the tolerance applied as
  a post-projection.
- ``range_join``: interval-overlap join via bucket explode
  (operators/joins.py) — per-user error windows [ts, ts+10 min) against
  click windows [ts, ts+5 min).  The oracle is the plain inequality
  join DuckDB executes as an IEJoin.
- ``points_in_windows``: point-in-interval join — views landing inside
  error windows, point side never exploded.
- ``minhash_inc``: incremental LSH dedup (operators/dedup.py) — the
  twin half of the doubled corpus arrives as a "new batch" and is
  banded against the full band table; output must equal the full LSH
  pair set filtered to pairs touching a new doc, old×old never
  generated.
- ``bloom_decon``: Bloom-prefiltered exact decontamination
  (operators/packing.py) — same planted-contamination fixture and
  oracle as ``decontaminate``; the Bloom stage must be invisible in the
  result (false positives exactly confirmed away, no false negatives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark.driver_queries_text import DOCS2_SQL, DOUBLE_OFFSET, SQL_MINHASH_LSH, _docs2
from emiproc_spark.registry import query

NS_PER_MIN = 60 * 1_000_000_000

# DuckDB-side events with the same epoch-nanos ts the Spark fixture uses
EVENTS_NS_SQL = """
    SELECT event_id, user_id, epoch_ns(ts) AS ts, value, event_type
    FROM events
"""


# ======================================================================
# asof_join — backward as-of with tolerance (operators/joins.py)
# ======================================================================
ASOF_TOL = 30 * NS_PER_MIN


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import asof_join

    ev = fx.events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        clicks, views, "ts", ["user_id"], ["view_value"], tolerance=ASOF_TOL
    )
    return out.select(
        "event_id", "user_id", "ts", "click_value", "view_value",
        F.col("ts_right").alias("view_ts"),
    )


SQL_ASOF_JOIN = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    c AS (SELECT event_id, user_id, ts, value AS click_value FROM ev
          WHERE event_type = 'click'),
    v AS (SELECT user_id, ts, value AS view_value FROM ev
          WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, c.ts, c.click_value,
           CASE WHEN c.ts - v.ts <= {ASOF_TOL} THEN v.view_value END AS view_value,
           CASE WHEN c.ts - v.ts <= {ASOF_TOL} THEN v.ts END AS view_ts
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""

query(q_asof_join, SQL_ASOF_JOIN)


# ======================================================================
# range_join — interval overlap via bucket explode (operators/joins.py)
# ======================================================================
ERR_WIN = 10 * NS_PER_MIN
CLICK_WIN = 5 * NS_PER_MIN


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import range_join

    ev = fx.events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + ERR_WIN).alias("end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + CLICK_WIN).alias("end"),
    )
    pairs = range_join(errors, clicks, ["user_id"], bucket=ERR_WIN)
    return pairs.select(
        "err_id",
        "click_id",
        "user_id",
        (F.least("end", "r_end") - F.greatest("start", "r_start")).alias("overlap_ns"),
    )


SQL_RANGE_JOIN = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    e AS (SELECT event_id AS err_id, user_id, ts AS start_,
                 ts + {ERR_WIN} AS end_ FROM ev WHERE event_type = 'error'),
    c AS (SELECT event_id AS click_id, user_id, ts AS start_,
                 ts + {CLICK_WIN} AS end_ FROM ev WHERE event_type = 'click')
    SELECT e.err_id, c.click_id, e.user_id,
           LEAST(e.end_, c.end_) - GREATEST(e.start_, c.start_) AS overlap_ns
    FROM e JOIN c ON e.user_id = c.user_id
                 AND e.start_ < e.end_ AND c.start_ < c.end_
                 AND e.start_ < c.end_ AND c.start_ < e.end_
"""

query(q_range_join, SQL_RANGE_JOIN)


# ======================================================================
# points_in_windows — point-in-interval join (operators/joins.py)
# ======================================================================
def q_points_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import point_in_range_join

    ev = fx.events(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + ERR_WIN).alias("end"),
    )
    hits = point_in_range_join(views, errors, ["user_id"], bucket=ERR_WIN)
    return hits.groupBy("user_id").agg(
        F.count("*").alias("n_hits"),
        F.countDistinct("view_id").alias("n_views_in_windows"),
        F.countDistinct("err_id").alias("n_windows_hit"),
    )


SQL_POINTS_IN_WINDOWS = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    v AS (SELECT event_id AS view_id, user_id, ts FROM ev
          WHERE event_type = 'view'),
    e AS (SELECT event_id AS err_id, user_id, ts AS start_,
                 ts + {ERR_WIN} AS end_ FROM ev WHERE event_type = 'error')
    SELECT v.user_id, COUNT(*) AS n_hits,
           COUNT(DISTINCT v.view_id) AS n_views_in_windows,
           COUNT(DISTINCT e.err_id) AS n_windows_hit
    FROM v JOIN e ON v.user_id = e.user_id
                 AND v.ts >= e.start_ AND v.ts < e.end_
    GROUP BY v.user_id
"""

query(q_points_in_windows, SQL_POINTS_IN_WINDOWS)


# ======================================================================
# minhash_inc — incremental LSH batch dedup (operators/dedup.py)
# ======================================================================
def q_minhash_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import emiproc_spark.operators.dedup as dd

    docs = _docs2(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, k=8)
    new = docs.where(F.col("doc_id") >= DOUBLE_OFFSET).select("doc_id")
    return dd.lsh_candidate_pairs_incremental(sigs, new, bands=4, rows_per_band=2)


SQL_MINHASH_INC = f"""
    SELECT doc_a, doc_b FROM ({SQL_MINHASH_LSH})
    WHERE doc_a >= {DOUBLE_OFFSET} OR doc_b >= {DOUBLE_OFFSET}
"""

query(q_minhash_inc, SQL_MINHASH_INC)


# ======================================================================
# bloom_decon — Bloom-prefiltered exact decontamination (packing.py)
# ======================================================================
def q_bloom_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixture is q_decontaminate's planted-contamination corpus verbatim
    # (driver_queries_curate.py) so the two queries share an oracle
    from emiproc_spark.operators import packing as pk

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = d.where(F.col("doc_id") % 41 == 0)
    ev = eval_docs.select(
        F.col("doc_id").alias("ev_id"), F.col("text").alias("ev_text")
    )
    corpus = (
        d.where(F.col("doc_id") % 41 != 0)
        .withColumn(
            "ev_id",
            F.when(F.col("doc_id") % 7 == 0, (F.col("doc_id") % 12) * 41),
        )
        .join(F.broadcast(ev), "ev_id", "left")
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("text"), F.col("ev_text")).alias("text"),
        )
    )
    return pk.decontaminate_bloom(corpus, eval_docs, n=5, fpr=1e-3, keep=False)


def _sql_bloom_decon() -> str:
    from emiproc_spark.driver_queries_curate import SQL_DECONTAMINATE

    # the Bloom stage is exactly confirmed away, so the oracle is the
    # exact-decontamination SQL verbatim
    return SQL_DECONTAMINATE


query(q_bloom_decon, _sql_bloom_decon())


# ======================================================================
# weighted_sample — Efraimidis–Spirakis weighted top-k (sampling.py)
# ======================================================================
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.sampling import weighted_sample

    d = fx.load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("w")
    )
    # 15 docs per source, inclusion probability ∝ byte length; the
    # selection (not the pow score) is the compared result — see
    # weighted_sample's parity note
    return weighted_sample(d, 15, "w", by=["source"], salt="ws")


def _sql_weighted_sample() -> str:
    from emiproc_spark.operators.sampling import sql_weighted_es_key

    es = sql_weighted_es_key("doc_id", "w", salt="ws")
    return f"""
        WITH d AS (SELECT doc_id, source, LENGTH(text) AS w FROM documents),
        r AS (
            SELECT doc_id, source, w,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY {es} DESC, doc_id
                   ) AS rn
            FROM d WHERE w > 0
        )
        SELECT doc_id, source, w FROM r WHERE rn <= 15
    """


query(q_weighted_sample, _sql_weighted_sample())


# ======================================================================
# stream_asof — stream-stream time-interval join (streaming/streams.py)
# ======================================================================
STREAM_ASOF_TOL_MIN = 30


def q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming run of the stream-stream as-of
    enrichment: click events joined to all views of the same user in
    the preceding 30 minutes (time-interval LEFT OUTER join with
    watermarks on both sides), then the as-of reduction (latest view
    per click + candidate count) as a rollup of the emitted pairs.

    Outer-join results only emit once the watermark passes a row's join
    window, and the global watermark is the MIN across both sources —
    so each source carries one far-future sentinel row (user −1) that
    pushes the final no-data batch's watermark beyond every real event,
    flushing the last unmatched clicks.  Sentinels drop in the final
    filter.
    """
    import os

    from emiproc_spark.streaming.streams import asof_enrich_stream, run_available_now

    def build(path: str) -> None:
        ev = fx.events(spark, sf_dir).where(F.col("user_id") % 4 == 1).select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
        )
        flush_us = (
            ev.agg(F.unix_micros(F.max("ts"))).collect()[0][0]
            + (STREAM_ASOF_TOL_MIN + 10) * 60 * 1_000_000
        )
        sentinel = local_rows_df(
            spark, [(-1, -1)], "event_id long, user_id long"
        ).select(
            "event_id", F.timestamp_micros(F.lit(flush_us)).alias("ts"), "user_id"
        )
        for etype, side in (("click", "clicks"), ("view", "views")):
            (
                ev.where(F.col("event_type") == etype)
                .select("event_id", "ts", "user_id")
                .unionByName(sentinel)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, side))
            )

    d = fx.store("asof_stream", sf_dir, build)
    clicks_dir, views_dir = os.path.join(d, "clicks"), os.path.join(d, "views")
    schema = "event_id long, ts timestamp, user_id long"
    clicks = spark.readStream.schema(schema).parquet(clicks_dir)
    views = (
        spark.readStream.schema(schema)
        .parquet(views_dir)
        .withColumnRenamed("event_id", "view_id")
    )
    out = asof_enrich_stream(
        clicks, views, tolerance=f"{STREAM_ASOF_TOL_MIN} minutes",
        value_cols=["view_id"],
    )
    # a stream-stream join keeps TWO state stores per shuffle partition
    # and the run is dominated by their per-partition setup, not data:
    # 8 partitions cut the wall time ~2.5× at identical results (the
    # conf binds at stream START, so restoring it after .start() is
    # safe; state-partition count is per-query, not per-session)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        pairs = run_available_now(out, "r5b_stream_asof", "append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        pairs.where(F.col("user_id") >= 0)
        .groupBy("event_id", "user_id")
        .agg(
            F.unix_micros(F.first("ts")).alias("ts_us"),
            F.unix_micros(F.max("ts_right")).alias("view_ts_us"),
            F.count("ts_right").alias("n_views"),
        )
    )


SQL_STREAM_ASOF = f"""
    WITH ev AS (
        SELECT event_id, (epoch_ns(ts) // 1000) AS ts_us, user_id, event_type
        FROM events WHERE user_id % 4 = 1
    ),
    c AS (SELECT event_id, ts_us, user_id FROM ev WHERE event_type = 'click'),
    v AS (SELECT event_id, ts_us, user_id FROM ev WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, c.ts_us,
           MAX(v.ts_us) AS view_ts_us,
           COUNT(v.ts_us) AS n_views
    FROM c LEFT JOIN v
      ON c.user_id = v.user_id
     AND v.ts_us >= c.ts_us - {STREAM_ASOF_TOL_MIN} * 60 * 1000000
     AND v.ts_us <= c.ts_us
    GROUP BY c.event_id, c.user_id, c.ts_us
"""

query(q_stream_asof, SQL_STREAM_ASOF)


# ======================================================================
# heavy_hitters — sketch-then-confirm hot keys (operators/hotkeys.py)
# ======================================================================
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.hotkeys import heavy_hitters
    from emiproc_spark.operators.text import tokens

    d = (
        fx.load(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
    )
    return heavy_hitters(d, "tok", k=20, capacity=1024)


SQL_HEAVY_HITTERS = """
    WITH tok AS (
        SELECT t.tok
        FROM (SELECT string_split(text, ' ') AS toks FROM documents),
             UNNEST(toks) AS t(tok)
        WHERE t.tok <> ''
    )
    SELECT tok, COUNT(*) AS n
    FROM tok GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
"""

query(q_heavy_hitters, SQL_HEAVY_HITTERS)


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
    import numpy as np
    import pandas as pd

    from emiproc_spark.functions.wav import encode_wav
    from emiproc_spark.operators.multimodal import audio_features

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
