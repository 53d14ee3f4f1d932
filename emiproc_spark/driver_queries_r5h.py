"""Round-5h driver queries: streaming behavior, anomaly/quantile
statistics, quality-aware dedup, LM scoring and the materialized
vector store.

- ``stream_funnel``: the ordered event funnel executed as a REAL
  Structured Streaming job (streaming/streams.funnel_stream —
  applyInPandasWithState, per-key step-timestamp state, sentinel
  flush) and compared against the batch window-chain funnel in SQL.
- ``value_outliers``: per-group z-score anomaly screen from
  quantized-sum moments (operators/stats.value_outliers).
- ``dedup_best``: quality-aware near-dup collapse — each component
  keeps its highest-scoring member (operators/cluster.dedup_keep_best).
- ``rolling_features`` / ``active_users``: trailing RANGE-frame event
  features and the WAU distinct-actives rollup (operators/behavior).
- ``group_quantiles``: exact per-group type-7 percentiles via the
  histogram reduction (operators/stats.group_quantiles).
- ``lsh_quality``: MinHash sketch audit — candidate precision and mean
  estimator error vs exact Jaccard.
- ``bigram_logprob``: order-2 smoothed LM fluency score
  (operators/text.bigram_logprob).
- ``nation_topk``: per-group top-k via rank window.
- ``ivf_store_probe``: the IVF index materialized as a
  hive-partitioned vector store; probes read only the nprobe nearest
  partitions (pruning plan-pinned).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.qhelpers import sql_floor_div
from emiproc_spark.registry import query

_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One availableNow micro-batch over a parquet fixture (a quarter
    of the users — state groups, not volume, dominate the stateful
    stage); each user gets a ``__flush__`` sentinel an hour after the
    global max timestamp, which emits that user's final funnel row.
    Timestamps ride at µs resolution end-to-end, so the oracle's
    epoch_ns // 1000 matches exactly."""
    from emiproc_spark.streaming.streams import funnel_stream, run_available_now

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") % 4 == 0)
        .select(
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
        )
    )
    cutoff = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = (
        ev.select("user_id")
        .distinct()
        .select(
            F.timestamp_micros(
                F.unix_micros(F.lit(cutoff).cast("timestamp"))
                + F.lit(3_600_000_000)
            ).alias("ts"),
            "user_id",
            F.lit("__flush__").alias("event_type"),
        )
    )
    d = fx.scratch_dir("emiproc_funnel_stream_")
    src = os.path.join(d, "in")
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string"
    ).parquet(src)
    # NB (r12 optimization pass): explicit derive_shards-rule sizing
    # (max(4·parallelism, keys/1000) = 128 here) was A/B-measured a
    # wash at this key count (1.63→1.73 s — ~780 near-empty shard
    # invocations saved vs one extra count job) and reverted; the
    # derived 1024 floor stands.
    out = funnel_stream(stream, _FUNNEL_STEPS)
    res = run_available_now(out, "r5h_stream_funnel", "append")
    return res.select(
        "user_id",
        F.unix_micros("step1_ts").alias("step1_us"),
        F.unix_micros("step2_ts").alias("step2_us"),
        F.unix_micros("step3_ts").alias("step3_us"),
    )


SQL_STREAM_FUNNEL = """
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        FROM events WHERE user_id % 4 = 0
    ),
    w1 AS (
        SELECT user_id, ts_us, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts_us END)
                   OVER (PARTITION BY user_id) AS s1
        FROM ev
    ),
    w2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > s1
                           THEN ts_us END) OVER (PARTITION BY user_id) AS s2
        FROM w1
    ),
    w3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > s2
                           THEN ts_us END) OVER (PARTITION BY user_id) AS s3
        FROM w2
    )
    SELECT user_id, MIN(s1) AS step1_us, MIN(s2) AS step2_us,
           MIN(s3) AS step3_us
    FROM w3 GROUP BY user_id
"""

query(q_stream_funnel, SQL_STREAM_FUNNEL)


# ======================================================================
# value_outliers — per-group z-score anomaly screen (operators/stats.py)
# ======================================================================
_Z = 3.0


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import value_outliers

    ev = fx.events(spark, sf_dir).select("event_type", "value")
    return value_outliers(ev, ["event_type"], "value", z=_Z)


def _sql_value_outliers_moments() -> str:
    # overflow-safe quantized moments (qhelpers.sumd_safe lockstep)
    from emiproc_spark.qhelpers import sql_sumd_safe

    return f"""
        SELECT event_type,
               COUNT(value) AS n,
               {sql_sumd_safe('value')} AS s1,
               {sql_sumd_safe('value * value')} AS s2
        FROM events GROUP BY event_type
    """


SQL_VALUE_OUTLIERS = f"""
    WITH m AS ({_sql_value_outliers_moments()}),
    d AS (
        SELECT event_type, n, s1 / n AS mean,
               CASE WHEN n > 1
                    THEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) END AS var
        FROM m
    ),
    sd AS (
        SELECT event_type, n, mean,
               SQRT(CASE WHEN var > 0 THEN var END) AS sd
        FROM d
    ),
    z AS (
        SELECT e.event_type, s.n,
               (e.value - s.mean) / s.sd AS z
        FROM events e JOIN sd s USING (event_type)
    )
    SELECT event_type, n,
           COUNT(CASE WHEN ABS(z) > {_Z!r} THEN 1 END) AS n_outliers,
           FLOOR(MAX(ABS(z)) * 1000000.0 + 0.5) / 1000000.0 AS max_abs_z
    FROM z GROUP BY event_type, n
"""

query(q_value_outliers, SQL_VALUE_OUTLIERS)


# ======================================================================
# dedup_best — quality-aware near-dup collapse (operators/cluster.py):
# keep each LSH component's LONGEST member (id tiebreak), not its
# min-id one; isolated docs always survive.
# ======================================================================
def q_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_text import _docs2
    from emiproc_spark.operators import dedup as dd
    from emiproc_spark.operators.cluster import dedup_keep_best

    docs = _docs2(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, k=8)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    scored = docs.withColumn("score", F.length("text").cast("double"))
    kept = dedup_keep_best(scored, pairs, "score")
    return kept.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


def _sql_dedup_best() -> str:
    from emiproc_spark.driver_queries_curate import SQL_DUP_CLUSTERS
    from emiproc_spark.driver_queries_text import DOCS2_SQL

    return f"""
    WITH comp AS ({SQL_DUP_CLUSTERS}),
    d AS ({DOCS2_SQL}),
    labeled AS (
        SELECT d.doc_id, length(d.text) AS score, c.component
        FROM d JOIN comp c ON c.node = d.doc_id
    ),
    winners AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY component
                       ORDER BY score DESC, doc_id
                   ) AS rn
            FROM labeled
        ) WHERE rn = 1
    ),
    kept AS (
        SELECT doc_id FROM winners
        UNION ALL
        SELECT doc_id FROM d
        WHERE doc_id NOT IN (SELECT node FROM comp)
    )
    SELECT k.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM kept k JOIN d USING (doc_id)
"""


query(q_dedup_best, _sql_dedup_best())


# ======================================================================
# rolling_features — trailing-hour RANGE-frame features per event
# (operators/behavior.rolling_event_features)
# ======================================================================
_ROLL_NS = 3_600 * 10**9  # one hour


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.behavior import rolling_event_features

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
    from emiproc_spark.operators.behavior import rolling_active_users

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
# group_quantiles — exact per-language length percentiles
# (operators/stats.group_quantiles, histogram reduction)
# ======================================================================
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import group_quantiles
    from emiproc_spark.qhelpers import qd

    d = fx.load(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).alias("len")
    )
    out = group_quantiles(d, ["lang"], "len")
    return out.select("lang", "q", qd("value").alias("value"))


def _sql_group_quantiles() -> str:
    from emiproc_spark.qhelpers import sql_qd

    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    branches = " UNION ALL ".join(
        f"SELECT lang, {q} AS q, quantile_cont(len, {q}) AS v "
        "FROM lens GROUP BY lang"
        for q in qs
    )
    return f"""
    WITH lens AS (
        SELECT lang, len(string_split(text, ' ')) AS len FROM documents
    )
    SELECT lang, q, {sql_qd('v')} AS value FROM ({branches})
"""


query(q_group_quantiles, _sql_group_quantiles())


# ======================================================================
# lsh_quality — sketch quality rollup over minhash_est: candidate
# precision at an exact-Jaccard threshold + mean estimator error
# ======================================================================
_LSHQ_THRESHOLD = 0.5


def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_r5f import minhash_candidate_frame
    from emiproc_spark.qhelpers import sumd

    est = minhash_candidate_frame(spark, sf_dir)
    agg = est.agg(
        F.count("*").alias("n_candidates"),
        F.count(F.when(F.col("jaccard") >= _LSHQ_THRESHOLD, 1)).alias(
            "n_true"
        ),
        sumd(F.abs(F.col("est_jaccard") - F.col("jaccard"))).alias("__ae"),
    )
    return agg.select(
        "n_candidates",
        "n_true",
        (F.col("n_true") / F.col("n_candidates")).alias("precision"),
        (F.col("__ae") / F.col("n_candidates")).alias("mean_abs_err"),
    )


def _sql_lsh_quality() -> str:
    from emiproc_spark.driver_queries_r5f import SQL_MINHASH_EST
    from emiproc_spark.qhelpers import sql_sumd

    return f"""
    WITH est AS ({SQL_MINHASH_EST})
    SELECT COUNT(*) AS n_candidates,
           COUNT(CASE WHEN jaccard >= {_LSHQ_THRESHOLD} THEN 1 END)
               AS n_true,
           COUNT(CASE WHEN jaccard >= {_LSHQ_THRESHOLD} THEN 1 END)
               / COUNT(*) AS precision,
           {sql_sumd('ABS(est_jaccard - jaccard)')} / COUNT(*)
               AS mean_abs_err
    FROM est
"""


query(q_lsh_quality, _sql_lsh_quality())


# ======================================================================
# bigram_logprob — order-2 LM fluency score (operators/text.py)
# ======================================================================
_BG_ALPHA = 1.0
_BG_QSCALE = 1_000_000.0


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import bigram_logprob
    from emiproc_spark.qhelpers import qd

    docs = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    out = bigram_logprob(docs, alpha=_BG_ALPHA, qscale=_BG_QSCALE)
    return out.select(
        "doc_id", "n_bigrams", qd("mean_logprob").alias("mean_logprob")
    )


def _sql_bigram_logprob() -> str:
    from emiproc_spark.qhelpers import sql_qd

    mean = sql_qd(
        f"CAST(SUM(tf * CAST(FLOOR(ln((gc + {_BG_ALPHA!r}) / (cc + {_BG_ALPHA!r} * v))"
        f" * {_BG_QSCALE!r} + 0.5) AS BIGINT)) AS DOUBLE) / SUM(tf) / {_BG_QSCALE!r}"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, t[i.i + 1] AS ctx,
               t[i.i + 1] || ' ' || t[i.i + 2] AS bg
        FROM toks, UNNEST(range(GREATEST(len(t) - 1, 0))) AS i(i)
        WHERE len(t) >= 2
    ),
    tf AS (
        SELECT doc_id, ctx, bg, COUNT(*) AS tf
        FROM bg GROUP BY doc_id, ctx, bg
    ),
    bgc AS (SELECT ctx, bg, SUM(tf) AS gc FROM tf GROUP BY ctx, bg),
    ctxc AS (SELECT ctx, SUM(gc) AS cc FROM bgc GROUP BY ctx),
    voc AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w <> ''
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           {mean} AS mean_logprob
    FROM tf JOIN bgc USING (ctx, bg) JOIN ctxc USING (ctx), voc
    GROUP BY doc_id
"""


query(q_bigram_logprob, _sql_bigram_logprob())


# ======================================================================
# nation_topk — per-group top-k (rank window, NOT a global TakeOrdered):
# top-3 customers by order revenue within every nation
# ======================================================================
_NATION_K = 3


def q_nation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.qhelpers import sumd

    c = fx.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = fx.load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n = fx.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = o.groupBy("o_custkey").agg(sumd("o_totalprice").alias("revenue"))
    cust = c.join(rev, c["c_custkey"] == rev["o_custkey"]).select(
        "c_custkey", "c_nationkey", "revenue"
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    top = (
        cust.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _NATION_K)
    )
    return top.join(F.broadcast(n), top["c_nationkey"] == n["n_nationkey"]).select(
        "n_name", F.col("rank").cast("int").alias("rank"), "c_custkey", "revenue"
    )


def _sql_nation_topk() -> str:
    from emiproc_spark.qhelpers import sql_sumd

    return f"""
    WITH rev AS (
        SELECT o_custkey, {sql_sumd('o_totalprice')} AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c.c_custkey, c.c_nationkey, r.revenue,
               ROW_NUMBER() OVER (
                   PARTITION BY c.c_nationkey
                   ORDER BY r.revenue DESC, c.c_custkey
               ) AS rank
        FROM customer c JOIN rev r ON r.o_custkey = c.c_custkey
    )
    SELECT n.n_name, CAST(rank AS INT) AS rank, c_custkey, revenue
    FROM ranked JOIN nation n ON n.n_nationkey = ranked.c_nationkey
    WHERE rank <= {_NATION_K}
"""


query(q_nation_topk, _sql_nation_topk())


# ======================================================================
# ivf_store_probe — the IVF index MATERIALIZED as a hive-partitioned
# vector store: assignment written once partitioned by cell, the probe
# reads ONLY the nprobe nearest partitions (partition pruning pinned in
# tests/test_plan_shapes.py).  Results are identical to ivf_topk, so
# its oracle is reused verbatim — the new surface is the store path.
# ======================================================================
_IVF_DIRS: dict[str, str] = {}


def q_ivf_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_text import N_PROBE, _dotq, ivf_scored
    from emiproc_spark.exports.store import read_partitioned, save_partitioned
    from emiproc_spark.qhelpers import qd

    path = _IVF_DIRS.get(sf_dir)
    if path is None or not os.path.isdir(path):
        tag = re.sub(r"\W+", "_", sf_dir).strip("_")
        path = os.path.join(
            fx.scratch_dir("emiproc_ivf_store_"), f"vecs_{tag}"
        )
        scored = ivf_scored(spark, sf_dir)
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cos").desc(), F.col("cid")
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", F.col("cid").cast("int").alias("cell"))
        )
        emb = fx.load(spark, sf_dir, "embeddings")
        save_partitioned(
            emb.join(assigned, "vec_id"), path, ["cell"], fmt="parquet"
        )
        _IVF_DIRS[sf_dir] = path

    probes = [
        int(r["cid"])
        for r in ivf_scored(spark, sf_dir)
        .where(F.col("vec_id") == 0)
        .orderBy(F.col("cos").desc(), "cid")
        .limit(N_PROBE)
        .collect()
    ]
    store = read_partitioned(spark, path, fmt="parquet")
    cand = store.where(F.col("cell").isin(probes))  # partition pruning
    emb = fx.load(spark, sf_dir, "embeddings")
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    qterms = (
        cand.select("vec_id", "cell", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    rescored = (
        qterms.groupBy("vec_id", "cell")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nq")))
    )
    return (
        rescored.select(
            "vec_id", F.col("cell").cast("long").alias("cell"), qd("cos").alias("cos")
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def _sql_ivf_store_probe() -> str:
    from emiproc_spark.driver_queries_text import SQL_IVF_TOPK

    return SQL_IVF_TOPK


query(q_ivf_store_probe, _sql_ivf_store_probe())


# ======================================================================
# sql_api — the SAME statement text executed by BOTH engines: Spark's
# spark.sql(...) over registered temp views vs DuckDB over its views.
# Proves the SQL entry point (not just the DataFrame API) produces
# plan-equivalent, value-identical results; Catalyst still broadcasts
# the dimension chain (pinned in the shared no-cartesian sweep).
# ======================================================================
SQL_API_STMT = """
    SELECT r.r_name,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 1000000.0 + 0.5)
                AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY r.r_name
"""


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx.register_tables(spark, sf_dir)
    return spark.sql(SQL_API_STMT)


query(q_sql_api, SQL_API_STMT)


# ======================================================================
# data_split — deterministic disjoint train/val/test assignment
# (operators/sampling.hash_split), rolled up per split
# ======================================================================
_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.sampling import hash_split

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = hash_split(d, _SPLITS, key_col="doc_id")
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _sql_data_split() -> str:
    from emiproc_spark.operators.sampling import sql_hash_fraction

    hf = sql_hash_fraction("doc_id", "split")
    return f"""
    SELECT CASE WHEN {hf} < 0.8 THEN 'train'
                WHEN {hf} < {0.8 + 0.1!r} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
"""


query(q_data_split, _sql_data_split())
