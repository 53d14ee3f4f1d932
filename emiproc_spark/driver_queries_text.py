"""Driver-contract queries for the training-data pipeline operators:
dedup, text analysis, similarity search, multimodal plumbing.

Same parity conventions as ``driver_queries``: md5-based hashing (engine
independent), integer quantization for float sums, deterministic
tie-breaks for top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark.qhelpers import qd, sql_qd
from emiproc_spark.operators import dedup as dd
from emiproc_spark.operators import text as tx
from emiproc_spark.operators.text import STOPWORDS_SQL
from emiproc_spark.registry import query

# doubled corpus: every text appears at least twice so dedup operators
# have guaranteed positives on purely synthetic data
DOUBLE_OFFSET = 1_000_000


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    twin = d.select((F.col("doc_id") + DOUBLE_OFFSET).alias("doc_id"), "text")
    return d.unionByName(twin)


DOCS2_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DOUBLE_OFFSET} AS doc_id, text FROM documents
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(_docs2(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
    WITH d AS ({DOCS2_SQL})
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM d GROUP BY 1 HAVING COUNT(*) > 1
"""

query(q_dedup_exact, SQL_DEDUP_EXACT)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality statistics per (lang, source): token counts,
    stopword counts, char counts — the length/stopword heuristics."""
    d = fx.load(spark, sf_dir, "documents")
    t = tx.tokens(F.col("text"))
    return (
        d.select(
            "lang",
            "source",
            F.size(t).alias("n_tokens"),
            tx.stopword_count(t).alias("n_stop"),
            F.length("text").alias("n_chars_m"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_stop").alias("sum_stop"),
            F.sum("n_chars_m").alias("sum_chars"),
        )
    )


SQL_TEXT_STATS = f"""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(SUM(len(list_filter(string_split(text, ' '),
                                    x -> lower(x) IN {STOPWORDS_SQL}))) AS BIGINT) AS sum_stop,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1, 2
"""

query(q_text_stats, SQL_TEXT_STATS)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = tx.lang_id_score(d)
    return scored.select("doc_id", qd("en_score").alias("en_score"), "is_en")


SQL_LANG_ID = f"""
    SELECT doc_id,
           {sql_qd(f"len(list_filter(string_split(text, ' '), x -> lower(x) IN {STOPWORDS_SQL}))"
                   f" / CAST(len(string_split(text, ' ')) AS DOUBLE)")} AS en_score,
           CASE WHEN len(list_filter(string_split(text, ' '), x -> lower(x) IN {STOPWORDS_SQL}))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.05
                THEN 1 ELSE 0 END AS is_en
    FROM documents
"""

query(q_lang_id, SQL_LANG_ID)


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
        _docs2(spark, sf_dir), threshold=0.5, max_shingle_freq=MAX_SHINGLE_FREQ
    )
    return pairs.select("doc_a", "doc_b", "n_common", "jaccard")


SQL_NGRAM_JACCARD = f"""
    WITH d AS ({DOCS2_SQL}),
    sh0 AS ({SHINGLES_SQL.format(docs=DOCS2_SQL)}),
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
    sigs = dd.minhash_signatures(_docs2(spark, sf_dir), k=8)
    return dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)


# CTE prefix shared with the round-5c lsh_verified oracle: doubled
# corpus -> shingles -> 8-seed minhash -> 4 bands of 2
LSH_BANDED_CTES = f"""
    WITH d AS ({DOCS2_SQL}),
    sh AS ({SHINGLES_SQL.format(docs=DOCS2_SQL)}),
    hashed AS (
        SELECT doc_id, CAST(t.seed AS INT) AS seed,
               MIN(substr(md5(shingle || '#0') || md5(shingle || '#1'),
                          CAST(t.seed * 8 + 1 AS INT), 8)) AS minhash
        FROM sh, UNNEST(range(8)) AS t(seed)
        GROUP BY doc_id, t.seed
    ),
    banded AS (
        SELECT doc_id, CAST(seed // 2 AS INT) AS band,
               md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
        FROM hashed GROUP BY doc_id, seed // 2
    )
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
DIM = 64
DOT_SCALE = 1e12


def _dotq(prod) -> F.Column:
    """Quantized (order-free) sum of per-element products."""
    c = F.col(prod) if isinstance(prod, str) else prod
    return F.sum(
        F.floor(c * F.lit(DOT_SCALE) + F.lit(0.5)).cast("long")
    ).cast("double") / F.lit(DOT_SCALE)


def sql_dotq(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {DOT_SCALE}"
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector —
    the correctness baseline for ANN.  Exploded per-element products
    with quantized sums keep both engines bit-identical."""
    emb = fx.load(spark, sf_dir, "embeddings")
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    terms = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
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
    from emiproc_spark.operators.similarity import hyperplane

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
        .agg(_dotq(F.col("v") * F.col("hp")).alias("dp"))
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


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through Arrow mapInPandas with
    the deterministic stub decoder — oracle replays the byte statistics
    in SQL (docs are ASCII, so codepoints == bytes)."""
    from emiproc_spark.operators.multimodal import attach_binary, extract_features

    d = fx.load(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    media = attach_binary(d)
    return extract_features(media, fake=True).select(
        "doc_id", "n_bytes", "checksum", "mean_byte", "feat0"
    )


SQL_MULTIMODAL_FEATURES = """
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id < 500),
    sq AS (SELECT doc_id, text, n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS side FROM d),
    codes AS (
        SELECT doc_id, n, side,
               CAST(SUM(ord(substr(text, CAST(t.j AS INT) + 1, 1))) AS BIGINT) AS total,
               COUNT(*) AS cnt
        FROM sq, UNNEST(range(side * side)) AS t(j)
        GROUP BY doc_id, n, side
    )
    SELECT doc_id, n AS n_bytes,
           total % 1000003 AS checksum,
           CAST(total AS DOUBLE) / cnt AS mean_byte,
           CAST(n % 7 AS DOUBLE) AS feat0
    FROM codes
"""

query(q_multimodal_features, SQL_MULTIMODAL_FEATURES)


# ======================================================================
# embedding-cosine near-dup pairs: LSH-bucketed candidates + exact
# cosine threshold (the embedding sibling of the MinHash band join)
# ======================================================================
EMB_DUP_THRESHOLD = 0.2  # synthetic embeddings are near-orthogonal; a low
# threshold keeps the result set non-trivial while the bucket join stays
# the candidate generator under test


def q_embedding_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.similarity import embedding_dup_pairs

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
    ivf_store_probe (r5h) so both Spark paths and the ONE oracle can
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
            _dotq(F.col("v") * F.col("cv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("cv") * F.col("cv")).alias("nc"),
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
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    qterms = (
        emb.join(cand, "vec_id")
        .select("vec_id", "cell", F.posexplode("embedding").alias("i", "v"))
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
# BPE-ish token counting: GPT-2-style pre-tokenizer regex (no merges),
# the LLM-training token-budget estimator, vs whitespace tokens.
# regexp_extract_all in both engines; integer sums — exact parity.
# ======================================================================
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(tx.bpe_token_count(F.col("text"))).alias("bpe_tokens"),
        F.sum(tx.token_count(F.col("text"))).alias("ws_tokens"),
    )


SQL_TOKEN_COUNTS = f"""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{tx.BPE_REGEX.replace("'", "''")}'))) AS BIGINT)
               AS bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
    FROM documents GROUP BY 1, 2
"""

query(q_token_counts, SQL_TOKEN_COUNTS)
