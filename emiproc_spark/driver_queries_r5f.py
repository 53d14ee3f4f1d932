"""Round-5f driver queries: keyword retrieval, iterative graph rank,
and sketch-vs-exact calibration.

- ``bm25_topk``: Okapi BM25 top-k keyword search over documents
  (operators/retrieval.bm25_topk) — postings hash-agg + broadcast
  df/corpus stats, TakeOrderedAndProject top-k; per-(doc, term)
  contributions quantize to int64 so scores are order-free.
- ``pagerank``: 4 damped PageRank iterations over the bipartite
  user↔item click graph from the events table
  (operators/graph.pagerank) — per-iteration join + hash agg with
  quantized contributions; oracle unrolls the same 4 iterations.
- ``minhash_est``: the MinHash sketch audited against ground truth
  (operators/dedup.minhash_agreement + verify_candidate_pairs) — for
  every LSH candidate pair, the signature-agreement Jaccard estimate
  next to the exact shingle Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.driver_queries_text import DOCS2_SQL, SHINGLES_SQL, _docs2
from emiproc_spark.qhelpers import qd
from emiproc_spark.registry import query

# ======================================================================
# bm25_topk — Okapi BM25 retrieval (operators/retrieval.py)
# ======================================================================
_BM25_TERMS = ["spark", "window", "join"]
_BM25_K = 15
_K1 = 1.2
_B = 0.75


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.retrieval import bm25_topk

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
    from emiproc_spark.operators.graph import pagerank

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
    from emiproc_spark.operators import dedup as dd

    def build(path: str) -> None:
        docs = _docs2(spark, sf_dir)
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
    ),
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
