"""Round-5e driver queries: behavioral analytics, cardinality sketches,
semantic dedup and sliding-window exact-substring spans.

- ``funnel``: ordered view→click→purchase funnel over the events table
  (operators/behavior.funnel_counts) — strict-order step timestamps via
  one window chain, ONE exchange on the user key.
- ``cohort_retention``: weekly cohort retention matrix
  (operators/behavior.cohort_retention) — integer-nanosecond period
  arithmetic, plain COUNT over the per-(user, period) distinct set.
- ``kmv_distinct``: the KMV k-minimum-values cardinality sketch made
  oracle-checkable (operators/stats.kmv_distinct) — md5-ordered k-th
  minimum, (k−1)/h_k estimator, exact-count fallback under k.
- ``semdedup``: SemDeDup-style semantic dedup (operators/similarity
  .semdedup_flags) — cluster-bounded within-cell cosine pruning,
  keep-lowest-id; assignment mirrored in the quantized-explode form so
  both engines agree bit-for-bit (same pattern as ``ivf_topk``).
- ``dup_spans``: maximal duplicated token spans
  (operators/dedup.duplicated_spans) — sliding n-gram shingles, hot
  digests by distinct-doc count, per-doc island merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.driver_queries_text import DIM, _dotq, sql_dotq
from emiproc_spark.qhelpers import sql_qd, sql_floor_div
from emiproc_spark.registry import query

# ======================================================================
# funnel — ordered event funnel (operators/behavior.py)
# ======================================================================
_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.behavior import funnel_counts

    ev = fx.events(spark, sf_dir)
    return funnel_counts(ev, _FUNNEL_STEPS)


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
    from emiproc_spark.operators.behavior import cohort_retention

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
# kmv_distinct — KMV cardinality sketch (operators/stats.py)
# ======================================================================
_KMV_K = 64
_KMV_DIGITS = 12
_KMV_DENOM = float(16**_KMV_DIGITS)  # 281474976710656.0, exact in double


def _sql_hexval(col: str, digits: int = _KMV_DIGITS) -> str:
    """Numeric value of the first ``digits`` lowercase-hex chars —
    unrolled positional sum (every term and the total are integers
    < 2^48, so double addition is exact in any order)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        f" * {float(16 ** (digits - 1 - i))!r}"
        for i in range(digits)
    ]
    return "(" + " + ".join(terms) + ")"


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import kmv_distinct

    d = fx.load(spark, sf_dir, "documents").select("lang", "source", "text")
    return kmv_distinct(d, ["lang", "source"], "text", k=_KMV_K)


SQL_KMV_DISTINCT = f"""
    WITH d AS (
        SELECT DISTINCT lang, source, md5(text) AS h
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT lang, source, h,
               ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY h)
                   AS rn,
               COUNT(*) OVER (PARTITION BY lang, source) AS n_exact
        FROM d
    ),
    k AS (
        SELECT lang, source, n_exact, MAX(h) AS kth, COUNT(*) AS n_in
        FROM r WHERE rn <= {_KMV_K} GROUP BY lang, source, n_exact
    )
    SELECT lang, source, CAST(n_exact AS BIGINT) AS n_exact,
           {sql_qd(
               f"CASE WHEN n_in < {_KMV_K} THEN CAST(n_exact AS DOUBLE) "
               f"ELSE {float(_KMV_K - 1)!r} / "
               f"({_sql_hexval('kth')} / {_KMV_DENOM!r}) END",
               1e6,
           )} AS kmv_estimate
    FROM k
"""

query(q_kmv_distinct, SQL_KMV_DISTINCT)


# ======================================================================
# semdedup — semantic dedup over embedding clusters
# (operators/similarity.semdedup / semdedup_flags).  Cell assignment is
# mirrored with the quantized per-element explode, exactly like
# ivf_topk, so the argmax decision is bit-identical across engines; the
# pair threshold rides the same fold-vs-quantized tolerance the
# embedding_dup oracle has used since r2.
# ======================================================================
_SEM_CENTROIDS = 16
_SEM_THRESHOLD = 0.2  # synthetic embeddings are near-orthogonal


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.similarity import semdedup_flags

    emb = fx.load(spark, sf_dir, "embeddings")
    cent = (
        emb.where(F.col("vec_id") < _SEM_CENTROIDS)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode("embedding").alias("i", "cv"),
        )
        .withColumn("cv", F.col("cv").cast("double"))
    )
    terms = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(cent), "i")
    )
    scored = (
        terms.groupBy("vec_id", "cid")
        .agg(
            _dotq(F.col("v") * F.col("cv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("cv") * F.col("cv")).alias("nc"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nc")))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("cid"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").cast("int").alias("cell"))
    )
    flagged = semdedup_flags(
        emb.join(assigned, "vec_id").select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "cell"
        ),
        threshold=_SEM_THRESHOLD,
    )
    return flagged.select(F.col("id").alias("vec_id"), "cell", "is_dup")


SQL_SEMDEDUP = f"""
    WITH cent AS (
        SELECT e.vec_id AS cid, t.i,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS cv
        FROM embeddings e, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id < {_SEM_CENTROIDS}
    ),
    terms AS (
        SELECT e.vec_id, c.cid,
               CAST(e.embedding[c.i + 1] AS DOUBLE) AS v,
               c.cv
        FROM embeddings e JOIN cent c ON TRUE
    ),
    scored AS (
        SELECT vec_id, cid,
               {sql_dotq('v * cv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('cv * cv')} AS nc
        FROM terms GROUP BY vec_id, cid
    ),
    assigned AS (
        SELECT vec_id, CAST(cid AS INT) AS cell
        FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY dp / (SQRT(na) * SQRT(nc)) DESC, cid
                   ) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    pterms AS (
        SELECT a.vec_id AS id_hi, b.vec_id AS id_lo,
               CAST(ea.embedding[t.i + 1] AS DOUBLE) AS va,
               CAST(eb.embedding[t.i + 1] AS DOUBLE) AS vb
        FROM assigned a
        JOIN assigned b ON a.cell = b.cell AND a.vec_id > b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id,
        UNNEST(range({DIM})) AS t(i)
    ),
    pscored AS (
        SELECT id_hi, id_lo,
               {sql_dotq('va * vb')} AS dp,
               {sql_dotq('va * va')} AS na,
               {sql_dotq('vb * vb')} AS nb
        FROM pterms GROUP BY id_hi, id_lo
    ),
    dups AS (
        SELECT DISTINCT id_hi AS vec_id
        FROM pscored
        WHERE dp / (SQRT(na) * SQRT(nb)) >= {_SEM_THRESHOLD}
    )
    SELECT a.vec_id, a.cell,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""

query(q_semdedup, SQL_SEMDEDUP)


# ======================================================================
# dup_spans — maximal duplicated sliding-shingle spans
# (operators/dedup.duplicated_spans)
# ======================================================================
_SPAN_N = 8


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.dedup import duplicated_spans

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    spans = duplicated_spans(d, n=_SPAN_N, min_docs=2)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


# shared by SQL_DUP_SPANS here and SQL_DUP_FRACTION (r5g): everything
# up to the per-doc duplicated-position islands
DUP_SPAN_CTES = f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    ph AS (
        SELECT doc_id, p.p AS p,
               md5(array_to_string(
                   toks[(p.p + 1):(p.p + {_SPAN_N})], ' ')) AS h
        FROM d, UNNEST(range(len(toks) - {_SPAN_N} + 1)) AS p(p)
        WHERE len(toks) >= {_SPAN_N}
    ),
    hot AS (
        SELECT h FROM ph GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dp AS (SELECT doc_id, p FROM ph WHERE h IN (SELECT h FROM hot)),
    f AS (
        SELECT doc_id, p,
               CASE WHEN lag(p) OVER w IS NULL
                         OR p - lag(p) OVER w > {_SPAN_N}
                    THEN 1 ELSE 0 END AS nw
        FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ),
    i AS (
        SELECT doc_id, p,
               SUM(nw) OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM f
    )"""

SQL_DUP_SPANS = f"""
    {DUP_SPAN_CTES}
    SELECT doc_id, MIN(p) AS span_start, MAX(p) + {_SPAN_N - 1} AS span_end
    FROM i GROUP BY doc_id, island
"""

query(q_dup_spans, SQL_DUP_SPANS)
