"""Dedup and similarity queries.

Exact and near-duplicate detection (shingles, MinHash/LSH, SimHash,
winnowing, URL canonicalization) and duplicate clustering; vector
search (brute-force cosine, LSH and IVF ANN, int8, k-NN, k-means) and
retrieval (BM25, phrase search, hybrid RRF, hard negatives, PageRank).
Vector scores sum quantized products (``qhelpers.dotq``), so both
engines rank identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.exports.store import read_partitioned, save_partitioned
from emiproc_spark.fixtures import DIM
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import cluster as cl
from emiproc_spark.operators import dedup as dd
from emiproc_spark.operators import text as tx
from emiproc_spark.operators.cluster import dedup_keep_best
from emiproc_spark.operators.dedup import (
    edit1_pairs,
    winnow_fingerprints,
    winnow_overlap_pairs,
)
from emiproc_spark.operators.graph import pagerank
from emiproc_spark.operators.retrieval import (
    bm25_topk,
    mine_hard_negatives,
    phrase_count,
    rrf_fuse,
)
from emiproc_spark.operators.similarity import (
    embedding_dup_pairs,
    hyperplane,
    int8_topk,
    kmeans_iterations,
    knn_classify,
    knn_join,
    semdedup_flags,
)
from emiproc_spark.operators.urls import dedup_by_url
from emiproc_spark.qhelpers import DOT_SCALE, dotq, qd, sql_dotq, sql_qd, sql_sumd, sumd
from emiproc_spark.registry import query


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(fx.docs2(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
    WITH d AS ({fx.DOCS2_SQL})
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM d GROUP BY 1 HAVING COUNT(*) > 1
"""

query(q_dedup_exact, SQL_DEDUP_EXACT)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents")
    fp = tx.fingerprint(d)
    return fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct_fp"),
    )


SQL_DOC_FINGERPRINT = """
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(array_to_string(list_filter(string_split(lower(trim(text)), ' '), x -> x <> ''), ' ')))
               AS n_distinct_fp
    FROM documents GROUP BY source
"""

query(q_doc_fingerprint, SQL_DOC_FINGERPRINT)


# shared shingle CTE (3-gram over single-space tokens, distinct per doc)
SHINGLES_SQL = """
    SELECT DISTINCT doc_id,
           toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM ({docs}) ),
         UNNEST(range(GREATEST(len(toks) - 2, 0))) AS t(i)
"""


MAX_SHINGLE_FREQ = 50


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dd.ngram_jaccard_pairs(
        fx.docs2(spark, sf_dir), threshold=0.5, max_shingle_freq=MAX_SHINGLE_FREQ
    )
    return pairs.select("doc_a", "doc_b", "n_common", "jaccard")


SQL_NGRAM_JACCARD = f"""
    WITH d AS ({fx.DOCS2_SQL}),
    sh0 AS ({SHINGLES_SQL.format(docs=fx.DOCS2_SQL)}),
    -- stop-shingle guard: Jaccard over discriminative shingles only
    sh AS (
        SELECT sh0.* FROM sh0
        JOIN (SELECT shingle FROM sh0 GROUP BY shingle
              HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}) ok USING (shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.5
"""

query(q_ngram_jaccard, SQL_NGRAM_JACCARD)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dd.minhash_signatures(fx.docs2(spark, sf_dir), k=8)
    return dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)


# MinHash oracle CTEs over an ``sh(doc_id, shingle)`` relation: 8
# md5-seeded minhashes per doc (``hashed``), banded 4 x 2 (``banded``)
SQL_HASHED_CTE = """hashed AS (
        SELECT doc_id, CAST(t.seed AS INT) AS seed,
               MIN(substr(md5(shingle || '#0') || md5(shingle || '#1'),
                          CAST(t.seed * 8 + 1 AS INT), 8)) AS minhash
        FROM sh, UNNEST(range(8)) AS t(seed)
        GROUP BY doc_id, t.seed
    )"""
SQL_BANDED_CTE = """banded AS (
        SELECT doc_id, CAST(seed // 2 AS INT) AS band,
               md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
        FROM hashed GROUP BY doc_id, seed // 2
    )"""

# CTE prefix shared with the lsh_verified oracle: doubled corpus ->
# shingles -> 8-seed minhash -> 4 bands of 2
LSH_BANDED_CTES = f"""
    WITH d AS ({fx.DOCS2_SQL}),
    sh AS ({SHINGLES_SQL.format(docs=fx.DOCS2_SQL)}),
    {SQL_HASHED_CTE},
    {SQL_BANDED_CTE}
"""

SQL_MINHASH_LSH = f"""
    {LSH_BANDED_CTES}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id
"""

query(q_minhash_lsh, SQL_MINHASH_LSH)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").where(F.col("doc_id") < 1000).select(
        "doc_id", "text"
    )
    return dd.simhash(d)


SQL_SIMHASH = """
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
    votes AS (SELECT doc_id, pos, SUM(bit) AS vote FROM dig GROUP BY 1, 2)
    SELECT doc_id,
           string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY pos)
               AS simhash_bits
    FROM votes GROUP BY doc_id
"""

query(q_simhash, SQL_SIMHASH)


# ======================================================================
# similarity search
# ======================================================================
def query_cosines(
    emb: DataFrame, rows: DataFrame, keys: list[str], n_queries: int | None = None
) -> DataFrame:
    """Exact cosine of each ``rows`` vector against query vector 0 of
    ``emb`` -- or, with ``n_queries``, against each of vectors
    ``0..n_queries-1``, keyed ``qid`` -- as ``keys``, ``dp``, ``na``,
    ``nq``, ``cos``.  Exploded per-element products with quantized sums
    (``dotq``) keep both engines bit-identical."""
    if n_queries is None:
        q = emb.where(F.col("vec_id") == 0).select(
            F.posexplode("embedding").alias("i", "qv")
        )
        groups = keys
    else:
        q = emb.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"),
            F.posexplode("embedding").alias("i", "qv"),
        )
        groups = [*keys, "qid"]
    qpos = q.withColumn("qv", F.col("qv").cast("double"))
    terms = (
        rows.select(*keys, F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    return (
        terms.groupBy(*groups)
        .agg(
            dotq(F.col("v") * F.col("qv")).alias("dp"),
            dotq(F.col("v") * F.col("v")).alias("na"),
            dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nq")))
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector —
    the correctness baseline for ANN.  Exploded per-element products
    with quantized sums keep both engines bit-identical."""
    emb = fx.load(spark, sf_dir, "embeddings")
    scored = query_cosines(emb, emb, ["vec_id"])
    return (
        scored.select("vec_id", qd("cos").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


SQL_ANN_COSINE_TOPK = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    terms AS (
        SELECT e.vec_id,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
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

query(q_ann_cosine_topk, SQL_ANN_COSINE_TOPK)


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (8 deterministic
    md5-seeded planes) — the candidate-generation half of scalable ANN."""

    emb = fx.load(spark, sf_dir, "embeddings")
    terms = emb.select("vec_id", F.posexplode("embedding").alias("i", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    planes = [
        (p, i, hp_i) for p in range(8) for i, hp_i in enumerate(hyperplane(DIM, p))
    ]
    pdf = local_rows_df(spark, planes, schema="p int, i int, hp double")
    bits = (
        terms.join(F.broadcast(pdf), "i")
        .groupBy("vec_id", "p")
        .agg(dotq(F.col("v") * F.col("hp")).alias("dp"))
        .withColumn("bit", F.when(F.col("dp") > 0, "1").otherwise("0"))
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "bit"))),
                    lambda s: s["bit"],
                ),
            ).alias("bucket")
        )
    )
    return bits


SQL_ANN_LSH_BUCKETS = f"""
    WITH planes AS (
        SELECT p.p, i.i,
               CASE WHEN (strpos('0123456789abcdef',
                    substr(md5('p' || CAST(p.p AS VARCHAR) || 'd' || CAST(i.i AS VARCHAR)), 1, 1))
                    - 1) % 2 = 1 THEN 1.0 ELSE -1.0 END AS hp
        FROM UNNEST(range(8)) AS p(p), UNNEST(range({DIM})) AS i(i)
    ),
    terms AS (
        SELECT e.vec_id, pl.p,
               CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.hp AS prod
        FROM embeddings e JOIN planes pl ON TRUE
    ),
    dots AS (
        SELECT vec_id, p, {sql_dotq('prod')} AS dp
        FROM terms GROUP BY vec_id, p
    )
    SELECT vec_id,
           string_agg(CASE WHEN dp > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM dots GROUP BY vec_id
"""

query(q_ann_lsh_buckets, SQL_ANN_LSH_BUCKETS)


# ======================================================================
# embedding-cosine near-dup pairs: LSH-bucketed candidates + exact
# cosine threshold (the embedding sibling of the MinHash band join)
# ======================================================================
EMB_DUP_THRESHOLD = 0.2  # synthetic embeddings are near-orthogonal; a low
# threshold keeps the result set non-trivial while the bucket join stays
# the candidate generator under test


def q_embedding_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.load(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, dim=DIM, threshold=EMB_DUP_THRESHOLD)
    return pairs.select("id_a", "id_b", qd("cos", 1e4).alias("cos"))


SQL_EMBEDDING_DUP = f"""
    WITH planes AS (
        SELECT p.p, i.i,
               CASE WHEN (strpos('0123456789abcdef',
                    substr(md5('p' || CAST(p.p AS VARCHAR) || 'd' || CAST(i.i AS VARCHAR)), 1, 1))
                    - 1) % 2 = 1 THEN 1.0 ELSE -1.0 END AS hp
        FROM UNNEST(range(8)) AS p(p), UNNEST(range({DIM})) AS i(i)
    ),
    dots AS (
        SELECT e.vec_id, pl.p,
               {sql_dotq('CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.hp')} AS dp
        FROM embeddings e JOIN planes pl ON TRUE
        GROUP BY e.vec_id, pl.p
    ),
    buckets AS (
        SELECT vec_id,
               string_agg(CASE WHEN dp > 0 THEN '1' ELSE '0' END, '' ORDER BY p)
                   AS bucket
        FROM dots GROUP BY vec_id
    ),
    cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    terms AS (
        SELECT c.id_a, c.id_b,
               CAST(ea.embedding[t.i + 1] AS DOUBLE) AS va,
               CAST(eb.embedding[t.i + 1] AS DOUBLE) AS vb
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b,
        UNNEST(range({DIM})) AS t(i)
    ),
    scored AS (
        SELECT id_a, id_b,
               {sql_dotq('va * vb')} AS dp,
               {sql_dotq('va * va')} AS na,
               {sql_dotq('vb * vb')} AS nb
        FROM terms GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, {sql_qd('dp / (SQRT(na) * SQRT(nb))', 1e4)} AS cos
    FROM scored
    WHERE dp / (SQRT(na) * SQRT(nb)) >= {EMB_DUP_THRESHOLD}
"""

query(q_embedding_dup, SQL_EMBEDDING_DUP)


# ======================================================================
# IVF approximate top-k: nearest-centroid cell assignment (map-only in
# the operator; here via the quantized explode so both engines agree
# bit-for-bit), probe the 2 cells nearest the query, exact re-rank.
# Mirrors operators/similarity.ivf_assign/ivf_topk.
# ======================================================================
N_CENTROIDS = 16
N_PROBE = 2


def ivf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, cos) for every vector × centroid — the quantized
    explode form of ivf_assign's scoring, shared by q_ivf_topk and
    ivf_store_probe so both Spark paths and the ONE oracle can
    never drift apart.  Centroids = the N_CENTROIDS lowest-id vectors
    (ivf_seed_centroids)."""
    emb = fx.load(spark, sf_dir, "embeddings")
    cent = (
        emb.where(F.col("vec_id") < N_CENTROIDS)
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
    return (
        terms.groupBy("vec_id", "cid")
        .agg(
            dotq(F.col("v") * F.col("cv")).alias("dp"),
            dotq(F.col("v") * F.col("v")).alias("na"),
            dotq(F.col("cv") * F.col("cv")).alias("nc"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nc")))
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.load(spark, sf_dir, "embeddings")
    scored = ivf_scored(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("cid"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    probes = (
        scored.where(F.col("vec_id") == 0)
        .orderBy(F.col("cos").desc(), F.col("cid"))
        .limit(N_PROBE)
        .select(F.col("cid").alias("cell"))
    )
    cand = assigned.join(F.broadcast(probes), "cell")
    # exact re-rank against the query vector (vec_id = 0)
    rescored = query_cosines(emb, emb.join(cand, "vec_id"), ["vec_id", "cell"])
    return (
        rescored.select("vec_id", "cell", qd("cos").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


SQL_IVF_TOPK = f"""
    WITH cent AS (
        SELECT e.vec_id AS cid, t.i,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS cv
        FROM embeddings e, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id < {N_CENTROIDS}
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
    cosed AS (
        SELECT vec_id, cid, dp / (SQRT(na) * SQRT(nc)) AS cos
        FROM scored
    ),
    assigned AS (
        SELECT vec_id, cid AS cell
        FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, cid
                   ) AS rn
            FROM cosed
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT cid AS cell FROM cosed
        WHERE vec_id = 0
        ORDER BY cos DESC, cid LIMIT {N_PROBE}
    ),
    cand AS (
        SELECT a.vec_id, a.cell
        FROM assigned a JOIN probes p ON a.cell = p.cell
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qterms AS (
        SELECT c.vec_id, c.cell,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
    ),
    rescored AS (
        SELECT vec_id, cell,
               {sql_dotq('v * qv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('qv * qv')} AS nq
        FROM qterms GROUP BY vec_id, cell
    )
    SELECT vec_id, cell, {sql_qd('dp / (SQRT(na) * SQRT(nq))')} AS cos
    FROM rescored
    ORDER BY dp / (SQRT(na) * SQRT(nq)) DESC, vec_id
    LIMIT 10
"""

query(q_ivf_topk, SQL_IVF_TOPK)


# ======================================================================
# hamming_pairs: near-dup doc pairs by simhash Hamming distance,
# LSH-blocked on 16-bit quarters (complete for distance ≤ 3)
# ======================================================================
def q_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
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
# duplicate clustering: LSH candidate pairs -> connected components
# ======================================================================
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dd.minhash_signatures(fx.docs2(spark, sf_dir), k=8)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return cl.connected_components(pairs)


SQL_DUP_CLUSTERS = f"""
    WITH RECURSIVE pairs AS (
        SELECT * FROM ({SQL_MINHASH_LSH}) t
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(n, m) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    )
    SELECT n AS node, LEAST(n, MIN(m)) AS component
    FROM reach GROUP BY n
"""

query(q_dup_clusters, SQL_DUP_CLUSTERS)


# ======================================================================
# sub-document (passage) exact dedup — C4-style fixed token windows
# ======================================================================
PASSAGE_WIN = 20


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.passage_duplicates(d, win=PASSAGE_WIN)


# tail folded into the last span (spans = max(1, floor(n/win)); the
# last slice runs to the document end) — mirrors passage_spans
SQL_PASSAGE_DEDUP = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               GREATEST(1, CAST(FLOOR(len(string_split(text, ' '))
                   / {PASSAGE_WIN}.0) AS BIGINT)) AS n_spans
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               md5(array_to_string(
                   CASE WHEN u.i = n_spans - 1
                        THEN toks[u.i * {PASSAGE_WIN} + 1 : len(toks)]
                        ELSE toks[u.i * {PASSAGE_WIN} + 1 : (u.i + 1) * {PASSAGE_WIN}]
                   END,
                   ' ')) AS passage_hash
        FROM t, UNNEST(range(0, n_spans)) u(i)
    )
    SELECT passage_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc
    FROM s GROUP BY passage_hash HAVING COUNT(*) > 1
"""

query(q_passage_dedup, SQL_PASSAGE_DEDUP)


# ======================================================================
# k-NN majority-vote classification over the embeddings table (uses the
# label column; broadcast query side, same determinism contract as the
# knn_join query: quantized per-element products in the oracle land on
# the same ranking as the engine's raw-double fold)
# ======================================================================
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
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
# cluster-collapse corpus materialization (dedup_keep_representative):
# every near-dup component keeps only its min-id representative — the
# corpus-level effect of dup_clusters, checked against the recursive-CTE
# component oracle
# ======================================================================
def q_dedup_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.docs2(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, k=8)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return cl.dedup_keep_representative(docs, pairs).select("doc_id")


def _sql_dedup_representative() -> str:
    return f"""
    SELECT doc_id FROM ({fx.DOCS2_SQL}) d
    WHERE doc_id NOT IN (
        SELECT node FROM ({SQL_DUP_CLUSTERS}) c WHERE node <> component
    )
    """


query(q_dedup_representative, _sql_dedup_representative())


# ======================================================================
# winnow_fp — MOSS winnowing fingerprints (k=3-gram, w=4 windows)
# ======================================================================
def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.load(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, w=4)


_WINNOW_FP_TMPL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM ({docs})
    ),
    sh AS (
        SELECT doc_id, CAST(t.i AS INT) AS pos,
               md5(toks[t.i + 1] || ' ' || toks[t.i + 2] || ' ' || toks[t.i + 3]) AS h
        FROM toks, UNNEST(range(GREATEST(len(toks) - 2, 0))) AS t(i)
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
    wins AS (
        SELECT doc_id, CAST(s.s AS INT) AS s
        FROM cnt, UNNEST(range(CASE WHEN nsh >= 4 THEN nsh - 3 ELSE 1 END)) AS s(s)
    ),
    wmin AS (
        SELECT w.doc_id, w.s, MIN(sh.h) AS mh
        FROM wins w
        JOIN sh ON sh.doc_id = w.doc_id AND sh.pos BETWEEN w.s AND w.s + 3
        GROUP BY w.doc_id, w.s
    ),
    fp AS (
        SELECT w.doc_id, w.mh, MIN(sh.pos) AS pos
        FROM wmin w
        JOIN sh ON sh.doc_id = w.doc_id AND sh.pos BETWEEN w.s AND w.s + 3
               AND sh.h = w.mh
        GROUP BY w.doc_id, w.s, w.mh
    )
    SELECT DISTINCT doc_id, mh AS fingerprint, CAST(pos AS INT) AS pos FROM fp
"""

SQL_WINNOW_FP = _WINNOW_FP_TMPL.format(docs="SELECT doc_id, text FROM documents")

query(q_winnow_fp, SQL_WINNOW_FP)


# ======================================================================
# winnow_overlap — MOSS overlap pairs over shared fingerprints
# ======================================================================
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_overlap_pairs(
        fx.docs2(spark, sf_dir), k=3, w=4, min_shared=2, max_fp_freq=50
    )


def _sql_winnow_overlap() -> str:
    fp = _WINNOW_FP_TMPL.format(docs=fx.DOCS2_SQL)
    return f"""
    WITH wfp AS ({fp}),
    dfp AS (SELECT DISTINCT doc_id, fingerprint FROM wfp),
    keepable AS (
        SELECT fingerprint FROM dfp GROUP BY fingerprint HAVING COUNT(*) <= 50
    ),
    j AS (SELECT doc_id, fingerprint FROM dfp JOIN keepable USING (fingerprint))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM j a JOIN j b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """


query(q_winnow_overlap, _sql_winnow_overlap())


# ======================================================================
# lsh_capped — bucket-size guard with the star oversize policy
# ======================================================================
TRIPLE_OFFSET = 2 * fx.DOUBLE_OFFSET
DOCS3_SQL = f"""
    {fx.DOCS2_SQL}
    UNION ALL
    SELECT doc_id + {TRIPLE_OFFSET} AS doc_id, text FROM documents
"""


def _docs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.unionByName(d.select((F.col("doc_id") + fx.DOUBLE_OFFSET).alias("doc_id"), "text"))
        .unionByName(d.select((F.col("doc_id") + TRIPLE_OFFSET).alias("doc_id"), "text"))
    )


def q_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dd.minhash_signatures(_docs3(spark, sf_dir), k=8)
    return dd.lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=2, max_bucket_size=2, oversize_policy="star"
    )


SQL_LSH_CAPPED = f"""
    WITH sh AS ({SHINGLES_SQL.format(docs=DOCS3_SQL)}),
    {SQL_HASHED_CTE},
    {SQL_BANDED_CTE},
    stats AS (
        SELECT band, band_hash, COUNT(*) AS sz, MIN(doc_id) AS rep
        FROM banded GROUP BY band, band_hash
    ),
    joined AS (
        SELECT b.doc_id, b.band, b.band_hash, s.sz, s.rep
        FROM banded b JOIN stats s USING (band, band_hash)
    )
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM joined a
        JOIN joined b ON a.band = b.band AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
        WHERE a.sz <= 2
        UNION ALL
        SELECT rep AS doc_a, doc_id AS doc_b
        FROM joined WHERE sz > 2 AND doc_id != rep
    )
"""

query(q_lsh_capped, SQL_LSH_CAPPED)


# ======================================================================
# url_dedup — canonical-URL dedup (beyond reference: crawl-pipeline op).
# Four surface forms per page, each exercising different rules; the
# oracle computes the CANONICAL form in closed form (it does not mirror
# the normalization code), so every rule must fire exactly.
# ======================================================================
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.load(spark, sf_dir, "documents").select("doc_id")
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
# ann_multiprobe — multi-probe LSH ANN: candidates are the query
# vector's bucket plus every bucket at Hamming distance 1 (one flipped
# sign bit), exact cosine re-rank inside.  Buckets and cosines both use
# the parity-exact quantized-dot machinery shared with ann_lsh_buckets
# / ann_cosine_topk.
# ======================================================================
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    scored = query_cosines(emb, emb.join(cand, "vec_id", "left_semi"), ["vec_id"])
    return (
        scored.select("vec_id", qd("cos").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def _sql_ann_multiprobe() -> str:
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


# ======================================================================
# minhash_inc — incremental LSH batch dedup (operators/dedup.py)
# ======================================================================
def q_minhash_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.docs2(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, k=8)
    new = docs.where(F.col("doc_id") >= fx.DOUBLE_OFFSET).select("doc_id")
    return dd.lsh_candidate_pairs_incremental(sigs, new, bands=4, rows_per_band=2)


SQL_MINHASH_INC = f"""
    SELECT doc_a, doc_b FROM ({SQL_MINHASH_LSH})
    WHERE doc_a >= {fx.DOUBLE_OFFSET} OR doc_b >= {fx.DOUBLE_OFFSET}
"""

query(q_minhash_inc, SQL_MINHASH_INC)


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
    (minhash_candidate_frame) — the same
    MinHash→LSH→exact-verify pipeline this query used to recompute;
    verify_candidate_pairs drops no-common-shingle candidates and
    filters jaccard ≥ threshold, which on the stored frame is exactly
    the jaccard ≥ threshold filter (threshold > 0 and missing pairs are
    stored with jaccard = 0).
    """

    return (
        minhash_candidate_frame(spark, sf_dir)
        .where(F.col("jaccard") >= LSH_VERIFY_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _sql_lsh_verified() -> str:
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
            dotq(F.col("v") * F.col("cv")).alias("dp"),
            dotq(F.col("v") * F.col("v")).alias("na"),
            dotq(F.col("cv") * F.col("cv")).alias("nc"),
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
# bm25_topk — Okapi BM25 retrieval (operators/retrieval.py)
# ======================================================================
_BM25_TERMS = ["spark", "window", "join"]
_BM25_K = 15
_K1 = 1.2
_B = 0.75


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(d, _BM25_TERMS, k=_BM25_K, k1=_K1, b=_B)


_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

SQL_BM25_TOPK = f"""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
             UNNEST(toks) AS t(term)
    ),
    corpus AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tok
        FROM tok
    ),
    tf0 AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    tf AS (
        SELECT doc_id, term, tf,
               SUM(tf) OVER (PARTITION BY doc_id) AS dl
        FROM tf0
    ),
    posting AS (SELECT * FROM tf WHERE term IN ({_TERMS_SQL})),
    dfreq AS (SELECT term, COUNT(*) AS df FROM posting GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * {_K1 + 1.0!r}
                      / (p.tf + {_K1!r} * (1.0 - {_B!r}
                         + {_B!r} * p.dl / (c.n_tok / c.n_docs))))
                   * 1e9 + 0.5) AS BIGINT) AS cq
        FROM posting p
        JOIN dfreq d ON d.term = p.term
        CROSS JOIN corpus c
    ),
    per AS (
        SELECT doc_id, CAST(SUM(cq) AS DOUBLE) / 1e9 AS score
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score FROM per ORDER BY score DESC, doc_id LIMIT {_BM25_K}
"""

query(q_bm25_topk, SQL_BM25_TOPK)


# ======================================================================
# pagerank — bipartite user↔item click graph (operators/graph.py)
# ======================================================================
_PR_ITERS = 4
_PR_DAMPING = 0.85
_ITEM_OFFSET = 1_000_000


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    kcol = F.get_json_object("props", "$.k").cast("long")
    fwd = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("src"),
            (F.lit(_ITEM_OFFSET) + kcol).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMPING)
    return pr.select("node", qd("pagerank", 1e9).alias("pagerank"))


def _sql_pagerank() -> str:
    head = f"""
    WITH e0 AS (
        SELECT DISTINCT user_id AS src,
               {_ITEM_OFFSET} + CAST(json_extract_string(props, '$.k')
                                     AS BIGINT) AS dst
        FROM events
        WHERE event_type = 'click'
          AND json_extract_string(props, '$.k') IS NOT NULL
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"""
    its = []
    for i in range(1, _PR_ITERS + 1):
        its.append(f""",
    c{i} AS (
        SELECT e.dst AS node,
               CAST(FLOOR((p.pr / o.od) * 1e12 + 0.5) AS BIGINT) AS cq
        FROM e
        JOIN outdeg o ON o.src = e.src
        JOIN pr{i - 1} p ON p.node = e.src
    ),
    s{i} AS (
        SELECT node, CAST(SUM(cq) AS DOUBLE) / 1e12 AS s
        FROM c{i} GROUP BY node
    ),
    pr{i} AS (
        SELECT nodes.node,
               (1.0 - {_PR_DAMPING!r}) / nn.n
                   + {_PR_DAMPING!r} * COALESCE(s{i}.s, 0.0) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN s{i} ON s{i}.node = nodes.node
    )""")
    tail = f"""
    SELECT node, FLOOR(pr * 1e9 + 0.5) / 1e9 AS pagerank FROM pr{_PR_ITERS}
"""
    return head + "".join(its) + tail


SQL_PAGERANK = _sql_pagerank()

query(q_pagerank, SQL_PAGERANK)


# ======================================================================
# minhash_est — sketch estimate vs exact Jaccard (operators/dedup.py)
# ======================================================================
# minhash_est, lsh_quality, and lsh_verified all audit the SAME
# MinHash→LSH→exact-verify candidate pipeline; recomputing it per query
# doubled the family's bench cost.  The joined (est, exact) frame is
# materialized to parquet once per sf_dir (the ivf_store_probe /
# bucketed_join pattern) and every family member reads the store —
# doubles round-trip parquet bit-exactly, so parity is unaffected.


def minhash_candidate_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All LSH candidate pairs with the sketch estimate and the exact
    shingle Jaccard side-by-side: (doc_a, doc_b, est_jaccard, n_common,
    jaccard) — n_common/jaccard are 0 for band-collision false
    positives with no common shingle."""

    def build(path: str) -> None:
        docs = fx.docs2(spark, sf_dir)
        sigs = dd.minhash_signatures(docs, k=8)
        pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
        est = dd.minhash_agreement(sigs, pairs, k=8)
        exact = dd.verify_candidate_pairs(docs, pairs, threshold=1e-12)
        frame = est.join(
            exact.select("doc_a", "doc_b", "n_common", "jaccard"),
            ["doc_a", "doc_b"],
            "left",
        ).select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
        )
        frame.write.mode("overwrite").parquet(path)

    path = fx.store("minhash_cand", sf_dir, build)
    return spark.read.parquet(path).select(
        "doc_a", "doc_b", "est_jaccard", "n_common", "jaccard"
    )


def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_frame(spark, sf_dir)


SQL_MINHASH_EST = f"""
    WITH d AS ({fx.DOCS2_SQL}),
    sh AS ({SHINGLES_SQL.format(docs=fx.DOCS2_SQL)}),
    {SQL_HASHED_CTE},
    {SQL_BANDED_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
    ),
    agree AS (
        SELECT c.doc_a, c.doc_b,
               SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END)
                   / 8.0 AS est_jaccard
        FROM cand c
        JOIN hashed ha ON ha.doc_id = c.doc_a
        JOIN hashed hb ON hb.doc_id = c.doc_b AND hb.seed = ha.seed
        GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT g.doc_a, g.doc_b, g.est_jaccard,
           COALESCE(i.n_common, 0) AS n_common,
           COALESCE(i.n_common / (za.sz + zb.sz - i.n_common), 0.0)
               AS jaccard
    FROM agree g
    LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
    JOIN sizes za ON za.doc_id = g.doc_a
    JOIN sizes zb ON zb.doc_id = g.doc_b
"""

query(q_minhash_est, SQL_MINHASH_EST)


# ======================================================================
# dedup_best — quality-aware near-dup collapse (operators/cluster.py):
# keep each LSH component's LONGEST member (id tiebreak), not its
# min-id one; isolated docs always survive.
# ======================================================================
def q_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.docs2(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, k=8)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    scored = docs.withColumn("score", F.length("text").cast("double"))
    kept = dedup_keep_best(scored, pairs, "score")
    return kept.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


def _sql_dedup_best() -> str:
    return f"""
    WITH comp AS ({SQL_DUP_CLUSTERS}),
    d AS ({fx.DOCS2_SQL}),
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
# lsh_quality — sketch quality rollup over minhash_est: candidate
# precision at an exact-Jaccard threshold + mean estimator error
# ======================================================================
_LSHQ_THRESHOLD = 0.5


def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
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
# ivf_store_probe — the IVF index MATERIALIZED as a hive-partitioned
# vector store: assignment written once partitioned by cell, the probe
# reads ONLY the nprobe nearest partitions (partition pruning pinned in
# tests/test_plan_shapes.py).  Results are identical to ivf_topk, so
# its oracle is reused verbatim — the new surface is the store path.
# ======================================================================


def q_ivf_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(path: str) -> None:
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

    path = fx.store("ivf_vecs", sf_dir, build)

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
    rescored = query_cosines(emb, cand, ["vec_id", "cell"])
    return (
        rescored.select(
            "vec_id", F.col("cell").cast("long").alias("cell"), qd("cos").alias("cos")
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def _sql_ivf_store_probe() -> str:
    return SQL_IVF_TOPK


query(q_ivf_store_probe, _sql_ivf_store_probe())


# ======================================================================
# ann_recall — IVF ANN recall@10 vs exact cosine (operators/similarity)
# ======================================================================
NQ_RECALL = 4  # query-vector sample size
RECALL_K = 10


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.load(spark, sf_dir, "embeddings")
    # exact side: every vector scored against every sampled query —
    # quantized per-element dots so both engines rank identically
    scored = query_cosines(emb, emb, ["vec_id"], n_queries=NQ_RECALL).withColumn(
        "cos", qd("cos")
    )
    wq = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    exact = scored.select("qid", "vec_id", "cos").withColumn(
        "exact_rank", F.row_number().over(wq)
    )
    # ANN side: IVF cell assignment + per-query probes (the q_ivf_topk
    # plan, generalized to NQ queries via one window instead of a
    # per-query collect).  The scored relation feeds BOTH the
    # assignment and the probe branches — truncate its lineage so the
    # centroid-scoring subtree materializes once instead of once per
    # branch (no ReusedExchange fired here; the duplicated subtree was
    # ~10 Exchanges of the query's 26)
    ivf = ivf_scored(spark, sf_dir).localCheckpoint(eager=False)
    wv = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "cid")
    assigned = (
        ivf.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    probes = (
        ivf.where(F.col("vec_id") < NQ_RECALL)
        .withColumn("pr", F.row_number().over(wv))
        .where(F.col("pr") <= N_PROBE)
        .select(F.col("vec_id").alias("qid"), F.col("cid").alias("cell"))
    )
    cand = assigned.join(F.broadcast(probes), "cell").select("qid", "vec_id")
    # exact re-rank within candidates reuses the exact cos (same values
    # the brute-force side ranked on)
    wa = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    ann = (
        cand.join(exact, ["qid", "vec_id"])
        .withColumn("ann_rank", F.row_number().over(wa))
        .where(F.col("ann_rank") <= RECALL_K)
    )
    return (
        ann.groupBy("qid")
        .agg(
            F.count("*").alias("n_ann"),
            F.count(F.when(F.col("exact_rank") <= RECALL_K, 1)).alias(
                "n_hits"
            ),
            F.sum(F.col("exact_rank") - F.col("ann_rank")).alias("__se"),
        )
        .select(
            "qid",
            "n_ann",
            "n_hits",
            (F.col("n_hits") / F.lit(float(RECALL_K))).alias("recall_at_10"),
            (F.col("__se").cast("double") / F.col("n_ann")).alias(
                "mean_rank_err"
            ),
        )
    )


_COS_Q = sql_qd("dp / (SQRT(na) * SQRT(nq))")

SQL_ANN_RECALL = f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe
        FROM embeddings WHERE vec_id < {NQ_RECALL}
    ),
    terms AS (
        SELECT e.vec_id, q.qid,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
    ),
    scored AS (
        SELECT vec_id, qid,
               {sql_dotq('v * qv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('qv * qv')} AS nq
        FROM terms GROUP BY vec_id, qid
    ),
    exact AS (
        SELECT qid, vec_id, {_COS_Q} AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY {_COS_Q} DESC, vec_id
               ) AS exact_rank
        FROM scored
    ),
    cent AS (
        SELECT e.vec_id AS cid, t.i,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS cv
        FROM embeddings e, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id < {N_CENTROIDS}
    ),
    cterms AS (
        SELECT e.vec_id, c.cid,
               CAST(e.embedding[c.i + 1] AS DOUBLE) AS v, c.cv
        FROM embeddings e JOIN cent c ON TRUE
    ),
    cscored AS (
        SELECT vec_id, cid,
               {sql_dotq('v * cv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('cv * cv')} AS nc
        FROM cterms GROUP BY vec_id, cid
    ),
    cosed AS (
        SELECT vec_id, cid, dp / (SQRT(na) * SQRT(nc)) AS cos FROM cscored
    ),
    assigned AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, cid
                   ) AS rn
            FROM cosed
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS qid, cid AS cell FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, cid
                   ) AS pr
            FROM cosed WHERE vec_id < {NQ_RECALL}
        ) WHERE pr <= {N_PROBE}
    ),
    cand AS (
        SELECT p.qid, a.vec_id
        FROM assigned a JOIN probes p ON a.cell = p.cell
    ),
    ann AS (
        SELECT c.qid, c.vec_id, x.exact_rank,
               ROW_NUMBER() OVER (
                   PARTITION BY c.qid ORDER BY x.cos DESC, c.vec_id
               ) AS ann_rank
        FROM cand c
        JOIN exact x ON x.qid = c.qid AND x.vec_id = c.vec_id
    ),
    top AS (SELECT * FROM ann WHERE ann_rank <= {RECALL_K})
    SELECT qid, COUNT(*) AS n_ann,
           COUNT(CASE WHEN exact_rank <= {RECALL_K} THEN 1 END) AS n_hits,
           COUNT(CASE WHEN exact_rank <= {RECALL_K} THEN 1 END)
               / {RECALL_K}.0 AS recall_at_10,
           CAST(SUM(exact_rank - ann_rank) AS DOUBLE) / COUNT(*)
               AS mean_rank_err
    FROM top GROUP BY qid
"""

query(q_ann_recall, SQL_ANN_RECALL)


# ======================================================================
# phrase_search — exact-phrase occurrence counts (operators/retrieval)
# ======================================================================
PHRASE = ["table", "table"]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_count(d, PHRASE)


def _sql_phrase_search() -> str:
    k = len(PHRASE)
    conds = " AND ".join(
        f"toks[i + {j}] = '{w}'" for j, w in enumerate(PHRASE)
    )
    return f"""
    SELECT doc_id,
           CAST(CASE WHEN len(toks) >= {k}
                THEN len(list_filter(range(1, len(toks) - {k} + 2),
                                     i -> {conds}))
                ELSE 0 END AS BIGINT) AS n_occurrences
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


query(q_phrase_search, _sql_phrase_search())


# ======================================================================
# kmeans_topics — deterministic Lloyd k-means over embeddings
# (operators/similarity.kmeans_iterations); the oracle unrolls both
# assignment passes and the quantized-mean update as CTEs (the
# pagerank precedent for iterative algorithms)
# ======================================================================
KM_K = 8
KM_ITER = 2  # assign -> centroid update -> final assign


def q_kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.load(spark, sf_dir, "embeddings")
    out = kmeans_iterations(emb, k=KM_K, n_iter=KM_ITER)
    return out.groupBy("cluster").agg(
        F.count("*").alias("n"),
        F.sum("dist_q12").alias("inertia_q12"),
    )


def _sql_kmeans_terms(cent: str, tag: str) -> str:
    """One assignment pass: int64-quantized squared distances to the
    ``cent`` (cid, i, cv) relation, argmin per vector."""
    return f"""
    d{tag} AS (
        SELECT vec_id, cid,
               SUM(CAST(FLOOR(d * d * 1e12 + 0.5) AS BIGINT)) AS dist
        FROM (
            SELECT e.vec_id, c.cid,
                   CAST(e.embedding[c.i + 1] AS DOUBLE) - c.cv AS d
            FROM embeddings e JOIN {cent} c ON TRUE
        ) GROUP BY vec_id, cid
    ),
    a{tag} AS (
        SELECT vec_id, cid AS cluster, dist FROM (
            SELECT vec_id, cid, dist, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY dist, cid
                   ) AS rn
            FROM d{tag}
        ) WHERE rn = 1
    )"""


SQL_KMEANS_TOPICS = f"""
    WITH seeds AS (
        SELECT CAST(vec_id AS INT) AS cid, t.i,
               CAST(embedding[t.i + 1] AS DOUBLE) AS cv
        FROM embeddings, UNNEST(range({DIM})) AS t(i)
        WHERE vec_id < {KM_K}
    ),
    {_sql_kmeans_terms('seeds', '1')},
    means1 AS (
        SELECT a.cluster, t.i,
               (CAST(SUM(CAST(FLOOR(
                    CAST(e.embedding[t.i + 1] AS DOUBLE) * 1e6 + 0.5
                ) AS BIGINT)) AS DOUBLE) / 1e6) / COUNT(*) AS m
        FROM a1 a JOIN embeddings e ON e.vec_id = a.vec_id,
             UNNEST(range({DIM})) AS t(i)
        GROUP BY a.cluster, t.i
    ),
    cent1 AS (
        SELECT s.cid, s.i, COALESCE(m.m, s.cv) AS cv
        FROM seeds s LEFT JOIN means1 m
          ON m.cluster = s.cid AND m.i = s.i
    ),
    {_sql_kmeans_terms('cent1', '2')}
    SELECT CAST(cluster AS INT) AS cluster, COUNT(*) AS n,
           CAST(SUM(dist) AS BIGINT) AS inertia_q12
    FROM a2 GROUP BY cluster
"""

query(q_kmeans_topics, SQL_KMEANS_TOPICS)


# ======================================================================
# hybrid_search — reciprocal-rank fusion of BM25 and vector cosine
# result lists (operators/retrieval.rrf_fuse): the standard hybrid
# retrieval combiner, composed from two already-oracle-checked
# retrievers (bm25_topk + ann_cosine_topk).
# ======================================================================
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    lex = bm25_topk(d, _BM25_TERMS, k=_BM25_K, k1=_K1, b=_B)
    sem = q_ann_cosine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cos"
    )
    return rrf_fuse([(lex, "score"), (sem, "cos")], k=10)


def _sql_hybrid_search() -> str:
    return f"""
    WITH lex AS ({SQL_BM25_TOPK}),
    sem AS ({SQL_ANN_COSINE_TOPK}),
    lr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
               AS r FROM lex),
    sr AS (SELECT vec_id AS doc_id,
                  ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r
           FROM sem),
    f AS (
        SELECT COALESCE(lr.doc_id, sr.doc_id) AS doc_id,
               COALESCE(1.0 / (60 + lr.r), 0.0)
                   + COALESCE(1.0 / (60 + sr.r), 0.0) AS s
        FROM lr FULL JOIN sr ON sr.doc_id = lr.doc_id
    )
    SELECT doc_id, FLOOR(s * 1e9 + 0.5) / 1e9 AS rrf
    FROM f ORDER BY FLOOR(s * 1e9 + 0.5) / 1e9 DESC, doc_id LIMIT 10
"""


query(q_hybrid_search, _sql_hybrid_search())


# ======================================================================
# setsim_exact — exact all-pairs set-similarity join via prefix
# filtering (operators/dedup.setsim_join).  The oracle computes pure
# ground truth (every shingle-sharing pair, threshold-filtered) and
# never models the prefix filter — recall-completeness is exactly what
# makes that a valid oracle.  Contrast with ngram_jaccard, whose
# max_shingle_freq guard both sides must model.
# ======================================================================
SETSIM_T = 0.8


def q_setsim_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.setsim_join(fx.docs2(spark, sf_dir), threshold=SETSIM_T, n=3)


def _sql_setsim_exact() -> str:
    return f"""
    WITH sh AS ({SHINGLES_SQL.format(docs=fx.DOCS2_SQL)}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= {SETSIM_T}
"""


query(q_setsim_exact, _sql_setsim_exact())


# ======================================================================
# hard_negatives — batch multi-query BM25 negatives for contrastive
# retrieval training (operators/retrieval.mine_hard_negatives)
# ======================================================================
_HN_K = 3
_HN_K1 = 1.2
_HN_B = 0.75


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 17th document's first 4 tokens become a query whose
    labeled positive is the source document itself; the miner returns
    each query's top-3 BM25-scoring OTHER documents — the contrastive
    triplet recipe (query, positive, BM25 hard negative) over the
    documents corpus, scored in one term-keyed join pass."""

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    q = d.where(F.col("doc_id") % 17 == 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 4)).alias(
            "query_text"
        ),
    )
    pos = q.select("query_id", F.col("query_id").alias("doc_id"))
    out = mine_hard_negatives(d, q, pos, k=_HN_K, k1=_HN_K1, b=_HN_B)
    return out.withColumn("rank", F.col("rank").cast("long"))


SQL_HARD_NEGATIVES = f"""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
             UNNEST(toks) AS t(term)
    ),
    corpus AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tok
        FROM tok
    ),
    tf0 AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    tf AS (
        SELECT doc_id, term, tf,
               SUM(tf) OVER (PARTITION BY doc_id) AS dl
        FROM tf0
    ),
    q AS (
        SELECT doc_id AS query_id,
               array_to_string(string_split(text, ' ')[1:4], ' ')
                   AS query_text
        FROM documents WHERE doc_id % 17 = 3
    ),
    qtok AS (
        SELECT query_id, t.term, CAST(COUNT(*) AS DOUBLE) AS qtf
        FROM (SELECT query_id, string_split(query_text, ' ') AS toks
              FROM q),
             UNNEST(toks) AS t(term)
        GROUP BY 1, 2
    ),
    posting AS (
        SELECT * FROM tf
        WHERE term IN (SELECT DISTINCT term FROM qtok)
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM posting GROUP BY term),
    scored AS (
        SELECT qt.query_id, p.doc_id,
               CAST(FLOOR(
                   ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * {_HN_K1 + 1.0!r}
                      / (p.tf + {_HN_K1!r} * (1.0 - {_HN_B!r}
                         + {_HN_B!r} * p.dl / (c.n_tok / c.n_docs))))
                   * qt.qtf * 1e9 + 0.5) AS BIGINT) AS cq
        FROM posting p
        JOIN dfreq d ON d.term = p.term
        JOIN qtok qt ON qt.term = p.term
        CROSS JOIN corpus c
    ),
    pair AS (
        SELECT query_id, doc_id, CAST(SUM(cq) AS DOUBLE) / 1e9 AS score
        FROM scored GROUP BY 1, 2
    ),
    neg AS (SELECT * FROM pair WHERE doc_id <> query_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rank
        FROM neg
    )
    SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {_HN_K}
"""

query(q_hard_negatives, SQL_HARD_NEGATIVES)
