"""Driver-contract queries for corpus-curation operators: duplicate
clustering (connected components), deterministic sampling / source
mixing, repetition filters, PII scrubbing, TF-IDF keywords.

Same parity conventions as ``driver_queries_text``: md5-derived
randomness, integer quantization, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.operators import cluster as cl
from emiproc_spark.operators import dedup as dd
from emiproc_spark.operators import packing as pk
from emiproc_spark.operators import sampling as sp
from emiproc_spark.operators import text as tx
from emiproc_spark.driver_queries_text import SQL_MINHASH_LSH, _docs2
from emiproc_spark.qhelpers import qd, sql_qd
from emiproc_spark.registry import query


# ======================================================================
# duplicate clustering: LSH candidate pairs -> connected components
# ======================================================================
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dd.minhash_signatures(_docs2(spark, sf_dir), k=8)
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
# deterministic sampling / mixing
# ======================================================================
# strata are the table's real source labels (src0..src19); srcN for
# N ≥ 8 hit the default rate 0 so the fallback path is exercised too
SAMPLE_RATES = {
    "src0": 1.0,
    "src1": 0.5,
    "src2": 0.25,
    "src3": 0.9,
    "src4": 0.75,
    "src5": 0.1,
    "src6": 0.6,
    "src7": 0.33,
}
MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
MIX_BUDGET = 300_000.0  # chars


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "source")
    return sp.stratified_sample(d, SAMPLE_RATES, stratum_col="source")


def _sql_rate_case(rates: dict[str, float]) -> str:
    whens = " ".join(
        f"WHEN source = '{k}' THEN {v!r}" for k, v in rates.items()
    )
    return f"CASE {whens} ELSE 0.0 END"


SQL_DOC_SAMPLE = f"""
    SELECT doc_id, source FROM documents
    WHERE {sp.sql_hash_fraction('doc_id')} < {_sql_rate_case(SAMPLE_RATES)}
"""

query(q_doc_sample, SQL_DOC_SAMPLE)


def q_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    rates = sp.mixture_rates(
        d, MIX_WEIGHTS, MIX_BUDGET, stratum_col="source", size_col="n_chars"
    )
    return sp.apply_mixture(d, rates, stratum_col="source").select(
        "doc_id", "source", "n_chars"
    )


def _sql_weight_case(weights: dict[str, float]) -> str:
    wsum = sum(weights.values())
    whens = " ".join(
        f"WHEN source = '{k}' THEN {float(v) / wsum!r}" for k, v in weights.items()
    )
    return f"CASE {whens} END"


SQL_DATA_MIX = f"""
    WITH totals AS (
        SELECT source, SUM(n_chars) AS stratum_tokens
        FROM documents GROUP BY source
    ),
    rates AS (
        SELECT source,
               LEAST(1.0, {MIX_BUDGET!r} * ({_sql_weight_case(MIX_WEIGHTS)})
                          / CAST(stratum_tokens AS DOUBLE)) AS rate
        FROM totals
        WHERE ({_sql_weight_case(MIX_WEIGHTS)}) IS NOT NULL
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN rates r USING (source)
    WHERE {sp.sql_hash_fraction('d.doc_id', 'mix')} < r.rate
"""

query(q_data_mix, SQL_DATA_MIX)


# ======================================================================
# repetition filters (Gopher-style)
# ======================================================================
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        fx.load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    out = tx.repetition_features(d)
    return out.where(
        F.size(tx.tokens(F.col("text"))) >= 2
    ).select(
        "doc_id",
        qd("dup_token_frac").alias("dup_token_frac"),
        qd("top_bigram_share").alias("top_bigram_share"),
    )


SQL_REPETITION_STATS = f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 2000
    ),
    base AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 2),
    big AS (
        SELECT doc_id, toks[t.i] || ' ' || toks[t.i + 1] AS g
        FROM base, UNNEST(range(1, n)) AS t(i)
    ),
    counts AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
    top AS (SELECT doc_id, MAX(c) AS top_c FROM counts GROUP BY doc_id)
    SELECT b.doc_id,
           {sql_qd('(b.n - len(list_distinct(b.toks))) / CAST(b.n AS DOUBLE)')}
               AS dup_token_frac,
           {sql_qd('t.top_c / CAST(b.n - 1 AS DOUBLE)')} AS top_bigram_share
    FROM base b JOIN top t ON b.doc_id = t.doc_id
"""

query(q_repetition_stats, SQL_REPETITION_STATS)


# ======================================================================
# PII scrubbing (emails/phones are synthesized so matches are guaranteed)
# ======================================================================
def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        fx.load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" reach me: user"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )


AUGMENTED_SQL = """
    SELECT doc_id,
           text || ' reach me: user' || CAST(doc_id AS VARCHAR)
                || '@ex' || CAST(doc_id % 7 AS VARCHAR)
                || '.com or 415-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
    FROM documents WHERE doc_id < 2000
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.scrub_pii(_augmented(spark, sf_dir))
    return out.select(
        "doc_id", "n_emails", "n_phones", F.md5("scrubbed").alias("scrub_hash")
    )


SQL_PII_SCRUB = (
    "WITH d AS ("
    + AUGMENTED_SQL
    + """),
    e AS (
        SELECT doc_id, text,
               regexp_replace(text, '"""
    + tx.EMAIL_RE
    + """', '<EMAIL>', 'g') AS after_email
        FROM d
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '"""
    + tx.EMAIL_RE
    + """')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(after_email, '"""
    + tx.PHONE_RE
    + """')) AS INT) AS n_phones,
           md5(regexp_replace(after_email, '"""
    + tx.PHONE_RE
    + """', '<PHONE>', 'g')) AS scrub_hash
    FROM e
"""
)

query(q_pii_scrub, SQL_PII_SCRUB)


# ======================================================================
# TF-IDF top-k keywords (log-free idf for engine parity; see tfidf_topk)
# ======================================================================
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        fx.load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    return tx.tfidf_topk(d, k=3, log_idf=False)


SQL_TFIDF_TOPK = """
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
    tok AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM d),
             UNNEST(toks) AS t(term)
        WHERE t.term != ''
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM d),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               FLOOR(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df * 1e9 + 0.5) / 1e9
                   AS score_q
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score_q, CAST(rank AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score_q DESC, term ASC) AS rank
        FROM scored
    ) WHERE rank <= 3
"""

query(q_tfidf_topk, SQL_TFIDF_TOPK)


# ======================================================================
# decontamination: corpus docs sharing any 5-gram with the eval split.
# The synthetic corpus has no natural 5-gram overlap across the split,
# so contamination is *planted*: every 7th corpus doc gets an eval
# doc's text appended (same construction on both engines), making the
# expected output exactly the planted ids plus any natural overlap.
# ======================================================================
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return pk.decontaminate(corpus, eval_docs, n=5, keep=False)


def _sql_ngrams(src: str, n: int) -> str:
    gram = " || ' ' || ".join(f"toks[t.i + {k}]" for k in range(n))
    return f"""
        SELECT doc_id, {gram} AS ngram
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
             UNNEST(range(1, len(toks) - {n - 2})) AS t(i)
    """


SQL_CORPUS_PLANTED = """
    (SELECT d.doc_id,
            d.text || COALESCE(' ' || e.text, '') AS text
     FROM documents d
     LEFT JOIN (SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0) e
       ON d.doc_id % 7 = 0 AND e.doc_id = (d.doc_id % 12) * 41
     WHERE d.doc_id % 41 <> 0)
"""

SQL_DECONTAMINATE = f"""
    WITH ev AS (
        SELECT DISTINCT ngram
        FROM ({_sql_ngrams('(SELECT * FROM documents WHERE doc_id % 41 = 0)', 5)})
    ),
    cg AS ({_sql_ngrams(SQL_CORPUS_PLANTED, 5)})
    SELECT DISTINCT cg.doc_id FROM cg JOIN ev USING (ngram)
"""

query(q_decontaminate, SQL_DECONTAMINATE)


# ======================================================================
# sequence packing + shard manifest (n_chars as the size proxy; 8 shards
# = a power of two so floor(hash * 8) is exact in both engines)
# ======================================================================
PACK_CTX = 2048
PACK_SHARDS = 8


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pk.pack_sequences(
        d, ctx_len=PACK_CTX, n_shards=PACK_SHARDS, size_col="n_chars"
    )


_SQL_SHARDED = f"""
    SELECT doc_id, n_chars,
           CAST(FLOOR({sp.sql_hash_fraction('doc_id', 'shard')} * {PACK_SHARDS})
               AS INT) AS shard_id,
           {sp.sql_hash_fraction('doc_id', 'shard')} AS h
    FROM documents
"""

SQL_SEQ_PACK = f"""
    WITH s AS ({_SQL_SHARDED}),
    o AS (
        SELECT doc_id, shard_id, n_chars,
               CAST(COALESCE(SUM(n_chars) OVER (
                   PARTITION BY shard_id ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_offset
        FROM s
    )
    SELECT doc_id, shard_id, start_offset,
           CAST(FLOOR(start_offset / {PACK_CTX}.0) AS INT) AS seq_first,
           GREATEST(
               CAST(FLOOR(start_offset / {PACK_CTX}.0) AS INT),
               CAST(FLOOR((start_offset + n_chars - 1) / {PACK_CTX}.0) AS INT)
           ) AS seq_last
    FROM o
"""

query(q_seq_pack, SQL_SEQ_PACK)


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pk.shard_manifest(d, n_shards=PACK_SHARDS, size_col="n_chars")


SQL_SHARD_PLAN = f"""
    WITH s AS ({_SQL_SHARDED})
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_tokens
    FROM s GROUP BY shard_id
"""

query(q_shard_plan, SQL_SHARD_PLAN)


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
