"""Round-5g driver queries: curation-score bucketing, per-document
duplicated-text budget, and a JSON-lines sink/source round-trip.

- ``ppl_buckets``: CCNet-style per-language quality quartiles
  (operators/text.score_buckets over unigram_logprob) — ntile with a
  total-order tiebreak so the split is engine-deterministic.
- ``dup_fraction``: per-document duplicated-token budget
  (operators/dedup.dup_token_fraction) — maximal-span token counts
  over EVERY document, the threshold quantity for "drop docs > x%
  copied".
- ``jsonl_roundtrip``: documents → JSON-lines files (executor-side,
  one file per partition) → schema-explicit read-back (no inference
  scan) — proves the JSON sink/source path is lossless for text.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.driver_queries_r3c import SQL_UNIGRAM_LOGPROB
from emiproc_spark.driver_queries_r5e import _SPAN_N, DUP_SPAN_CTES
from emiproc_spark.qhelpers import qd
from emiproc_spark.registry import query

# ======================================================================
# ppl_buckets — per-language quality quartiles (operators/text.py)
# ======================================================================
_N_BUCKETS = 4


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import score_buckets, unigram_logprob

    docs = fx.load(spark, sf_dir, "documents")
    lp = unigram_logprob(docs).withColumn("mean_logprob", qd("mean_logprob"))
    scored = lp.join(docs.select("doc_id", "lang"), "doc_id")
    return score_buckets(scored, ["lang"], "mean_logprob", n=_N_BUCKETS)


SQL_PPL_BUCKETS = f"""
    WITH lp AS ({SQL_UNIGRAM_LOGPROB}),
    j AS (
        SELECT d.lang, l.doc_id, l.mean_logprob
        FROM lp l JOIN documents d USING (doc_id)
    ),
    b AS (
        SELECT lang, doc_id, mean_logprob,
               CAST(ntile({_N_BUCKETS}) OVER (
                   PARTITION BY lang ORDER BY mean_logprob, doc_id
               ) AS INT) AS bucket
        FROM j
    )
    SELECT lang, bucket, COUNT(*) AS n_docs,
           MIN(mean_logprob) AS lo, MAX(mean_logprob) AS hi
    FROM b GROUP BY lang, bucket
"""

query(q_ppl_buckets, SQL_PPL_BUCKETS)


# ======================================================================
# dup_fraction — duplicated-token budget (operators/dedup.py)
# ======================================================================
def q_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.dedup import dup_token_fraction

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_token_fraction(d, n=_SPAN_N, min_docs=2)


SQL_DUP_FRACTION = f"""
    {DUP_SPAN_CTES},
    spans AS (
        SELECT doc_id, MIN(p) AS s, MAX(p) + {_SPAN_N - 1} AS e
        FROM i GROUP BY doc_id, island
    ),
    agg AS (
        SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    ),
    lens AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT l.doc_id, l.n_tokens,
           COALESCE(a.dup_tokens, 0) AS dup_tokens,
           COALESCE(a.dup_tokens / l.n_tokens, 0.0) AS dup_frac
    FROM lens l LEFT JOIN agg a USING (doc_id)
"""

query(q_dup_fraction, SQL_DUP_FRACTION)


# ======================================================================
# jsonl_roundtrip — JSON-lines sink + schema-explicit source
# ======================================================================
_JSONL_DIRS: dict[str, str] = {}


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _JSONL_DIRS.get(sf_dir)
    if path is None or not os.path.isdir(path):
        tag = re.sub(r"\W+", "_", sf_dir).strip("_")
        path = os.path.join(
            fx.scratch_dir("emiproc_jsonl_"), f"docs_{tag}"
        )
        fx.load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        ).write.mode("overwrite").json(path)
        _JSONL_DIRS[sf_dir] = path
    # explicit schema: inference would cost a second full scan, and at
    # 100 TB the contract should come from the catalog, not the data
    back = spark.read.schema("doc_id long, lang string, text string").json(
        path
    )
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("text_chars"),
    )


SQL_JSONL_ROUNDTRIP = """
    SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_chars
    FROM documents
"""

query(q_jsonl_roundtrip, SQL_JSONL_ROUNDTRIP)
