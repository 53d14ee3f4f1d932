"""Round-8 driver queries: export-path gate frames and the bucketed
CDC state stream.

- ``hourly_gate``: the profile-normalization gate frame the hourly/ICON
  export pipelines now enforce BY DEFAULT before the hour fan-out
  (``pipelines.temporal_profile_gates`` — array-form profile store →
  explode → ``quality.ratio_sum_gate``), evaluated over the same
  profile fixtures the temporal-expansion queries use plus one planted
  non-normalized profile proving the gate detects under-emission.

Same parity conventions as the earlier modules: per-row IEEE doubles
are engine-identical, integer-tick quantization, deterministic keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emiproc_spark.localdf import local_rows_df
from emiproc_spark.registry import query


# ======================================================================
# hourly_gate — the default-on profile gate of the hourly export paths
# ======================================================================
def q_hourly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipelines.temporal_profile_gates`` over the shared temporal
    profile fixtures (the ones ``temporal_expand`` expands with) plus a
    planted profile summing to 23/24 + 0.5 — the exact frame
    ``tno_to_hourly`` / ``edgar_to_hourly`` / ``tno_to_icon`` enforce
    before fanning the fact table out over hours."""
    from emiproc_spark import pipelines
    from emiproc_spark.core.schemas import TPROFILE
    from emiproc_spark.driver_queries import _test_tprofiles

    profs = _test_tprofiles(spark)
    broken = local_rows_df(spark, 
        [(99, "daily", [1.0 / 24] * 23 + [0.5])], schema=TPROFILE
    )
    return pipelines.temporal_profile_gates(profs.unionByName(broken))


SQL_HOURLY_GATE = """
    WITH profs AS (
        SELECT 0 AS profile_id, 'daily' AS ptype, (h + 1) / 300.0 AS ratio
        FROM UNNEST(range(24)) AS t(h)
        UNION ALL
        SELECT 1, 'daily', 1.0 / 24.0 FROM UNNEST(range(24)) AS t(h)
        UNION ALL
        SELECT 2, 'weekly', (d + 1) / 28.0 FROM UNNEST(range(7)) AS t(d)
        UNION ALL
        SELECT 99, 'daily',
               CASE WHEN h < 23 THEN 1.0 / 24.0 ELSE 0.5 END
        FROM UNNEST(range(24)) AS t(h)
    ),
    g AS (
        SELECT profile_id, ptype,
               SUM(CAST(FLOOR(ratio * 1e9 + 0.5) AS BIGINT)) AS s
        FROM profs GROUP BY 1, 2
    )
    SELECT 'temporal_profile_ratio_sum' AS relation,
           COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END)
                AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END) = 0 AS pass
    FROM g
"""

query(q_hourly_gate, SQL_HOURLY_GATE)


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
    from pyspark.sql import functions as F

    from emiproc_spark import fixtures as fx
    from emiproc_spark.operators.retrieval import mine_hard_negatives

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


# ======================================================================
# mixture_epochs — data-constrained mixture materialization
# (operators/sampling.mixture_plan + apply_mixture_epochs)
# ======================================================================
_MIX_W = {"a": 4.0, "b": 1.0, "c": 1.0}
_MIX_MAX_EPOCHS = 4.0


def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three pseudo-domains (doc_id % 3) with weights 4:1:1 and a
    token budget equal to the corpus size: the heavy domain holds ~1/3
    of the tokens but is asked for 2/3, so it up-samples at ~2 epochs
    (full replicas + a hash-thinned fractional pass); the light
    domains down-sample at ~0.5.  Returns every kept (doc_id, source,
    epoch) replica — exact-match against the oracle because the
    fractional coin is the shared md5 ladder."""
    from pyspark.sql import functions as F

    from emiproc_spark import fixtures as fx
    from emiproc_spark.operators.sampling import (
        apply_mixture_epochs,
        mixture_plan,
    )

    d = fx.load(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("source"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    budget = float(d.agg(F.sum("n_tokens")).collect()[0][0])
    plan = mixture_plan(
        d, _MIX_W, budget, max_epochs=_MIX_MAX_EPOCHS
    )
    return apply_mixture_epochs(d, plan).select(
        "doc_id", "source", F.col("epoch").cast("long").alias("epoch")
    )


_MIX_WSUM = sum(_MIX_W.values())

SQL_MIXTURE_EPOCHS = f"""
    WITH d AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    budget AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS b FROM d),
    w AS (
        SELECT * FROM (VALUES
            ('a', {_MIX_W['a'] / _MIX_WSUM!r}),
            ('b', {_MIX_W['b'] / _MIX_WSUM!r}),
            ('c', {_MIX_W['c'] / _MIX_WSUM!r})
        ) AS t(source, weight)
    ),
    totals AS (
        SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS avail
        FROM d GROUP BY source
    ),
    plan AS (
        SELECT t.source,
               LEAST({_MIX_MAX_EPOCHS!r}, (b.b * w.weight) / t.avail)
                   AS epochs
        FROM totals t JOIN w ON w.source = t.source CROSS JOIN budget b
    ),
    rep AS (
        SELECT d.doc_id, d.source, CAST(e.epoch AS BIGINT) AS epoch,
               p.epochs
        FROM d
        JOIN plan p ON p.source = d.source,
        UNNEST(range(CAST(CEIL(p.epochs) AS BIGINT))) AS e(epoch)
    )
    SELECT doc_id, source, epoch FROM rep
    WHERE epoch < FLOOR(epochs)
       OR {{coin}} < epochs - FLOOR(epochs)
"""


def _sql_mixture_epochs() -> str:
    from emiproc_spark.operators.sampling import sql_hash_fraction

    coin = sql_hash_fraction(
        "CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)", "mixep"
    )
    return SQL_MIXTURE_EPOCHS.format(coin=coin)


query(q_mixture_epochs, _sql_mixture_epochs())
