"""Round-6 driver queries: recall/quality audits, CDC state, exact
set-similarity, hybrid retrieval, data-quality gates and corpus
diagnostics.  Besides the two below, this module declares: cdc_merge +
stream_cdc (MERGE INTO, batch and arrival-order-independent streaming),
resample_interp, phrase_search, split_leakage, kmeans_topics
(unrolled-CTE oracle), hybrid_search (RRF), robust_outliers
(median/MAD, explicit type-7 oracle), expectations + fk_integrity
(declarative data-quality), setsim_exact (PPJoin-family exact join
against a pure ground-truth oracle), vocab_coverage, attribution,
quantile_quantum and zipf_slope.

- ``ann_recall``: the vector-search analogue of ``lsh_quality`` — for a
  sample of query vectors, the IVF approximate top-10 (nearest-centroid
  assignment, probe the ``N_PROBE`` cells nearest each query, exact
  re-rank within candidates) audited against the exact brute-force
  cosine top-10: recall@10 plus the mean displacement between a hit's
  ANN rank and its true rank.  The exact side is the audit's ground
  truth, so its brute-force cost is inherent — it is bounded here by
  the query SAMPLE (NQ vectors), which is how a recall audit stays
  cheap at 100 TB: rank all N vectors for NQ queries, never all-pairs.
- ``curate_corpus``: the composed nightly-curation unit
  (pipelines.curate_corpus — exact dedup → MinHash/LSH → exact-Jaccard
  verify → connected components → representative keep → quality gate →
  eval-set decontamination → pack/shard plan) run end-to-end on the
  planted-contamination corpus of ``decontaminate``, returning the
  final packing plan.  The oracle recomputes every stage in SQL
  (recursive-CTE components), so one green row transitively verifies
  the whole chain's composition, not just each stage in isolation.

Same parity conventions as ``driver_queries_text``: md5-derived
randomness, integer/µ quantization, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.driver_queries_curate import SQL_CORPUS_PLANTED, _sql_ngrams
from emiproc_spark.driver_queries_text import (
    DIM,
    N_CENTROIDS,
    N_PROBE,
    SHINGLES_SQL,
    _dotq,
    ivf_scored,
    sql_dotq,
)
from emiproc_spark.operators.sampling import sql_hash_fraction
from emiproc_spark.qhelpers import qd, sql_qd, sql_floor_div
from emiproc_spark.registry import query


# ======================================================================
# ann_recall — IVF ANN recall@10 vs exact cosine (operators/similarity)
# ======================================================================
NQ_RECALL = 4  # query-vector sample size
RECALL_K = 10


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.load(spark, sf_dir, "embeddings")
    # exact side: every vector scored against every sampled query —
    # quantized per-element dots so both engines rank identically
    qpos = (
        emb.where(F.col("vec_id") < NQ_RECALL)
        .select(
            F.col("vec_id").alias("qid"),
            F.posexplode("embedding").alias("i", "qv"),
        )
        .withColumn("qv", F.col("qv").cast("double"))
    )
    terms = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    scored = (
        terms.groupBy("vec_id", "qid")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", qd(F.col("dp") / (F.sqrt("na") * F.sqrt("nq"))))
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
# curate_corpus — the composed pipeline end-to-end (pipelines.py)
# ======================================================================
CURATE_JACCARD = 0.8
CURATE_MIN_TOKENS = 20
CURATE_MAX_DUP_FRAC = 0.9
CURATE_MEAN_WORD_LEN = 12.0  # quality_filter's default, active in the chain
CURATE_DECON_N = 5
CURATE_CTX = 2048
CURATE_SHARDS = 8


# Both curate-family driver queries (curate_corpus here, curation_gates
# in driver_queries_r7) consume stages of the SAME composed pipeline
# run on the SAME planted fixture; materialize the run once per sf_dir
# (the minhash_candidate_frame / ivf_store_probe pattern) so the bench
# doesn't execute the five-stage chain twice.  The store still runs the
# full pipelines.curate_corpus composition — the queries read its
# outputs, the oracles recompute everything independently.


def curate_stage_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the five-stage curate run once per sf_dir and return
    the store path (placement and build-once contract:
    ``fixtures.store``)."""
    import os

    from emiproc_spark import pipelines

    def build(path: str) -> None:
        d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
        # the decontaminate fixture: eval split + planted contamination so
        # stage 4 provably removes rows
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
        stages = pipelines.curate_corpus(
            corpus,
            eval_docs,
            minhash_k=8,
            bands=4,
            rows_per_band=2,
            # no bucket cap: the oracle models the uncapped banding, and at
            # driver scale no bucket approaches the production cap anyway
            max_bucket_size=None,
            jaccard_threshold=CURATE_JACCARD,
            min_tokens=CURATE_MIN_TOKENS,
            max_dup_token_frac=CURATE_MAX_DUP_FRAC,
            decon_n=CURATE_DECON_N,
            ctx_len=None,  # packing/gates derive from the materialized clean
        )
        # the expensive part (dedup → LSH verify → CC → quality → decon)
        # executes exactly ONCE — `clean` is written, and the cheap tails
        # (packing plan, output gates — the same pipeline functions) run on
        # the read-back frame instead of re-deriving the whole chain per
        # written output
        stages["clean"].write.mode("overwrite").parquet(
            os.path.join(path, "clean")
        )
        clean = spark.read.parquet(os.path.join(path, "clean")).select(
            "doc_id", "text"
        )
        from emiproc_spark.operators import packing as pk
        from emiproc_spark.operators import text as tx

        sized = clean.withColumn("n_tokens", tx.token_count(F.col("text")))
        pk.pack_sequences(sized, CURATE_CTX, n_shards=CURATE_SHARDS).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "packed"))
        pipelines.curation_output_gates(
            clean, "text", CURATE_MIN_TOKENS
        ).write.mode("overwrite").parquet(os.path.join(path, "gates"))

    return fx.store("curate", sf_dir, build)


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    path = curate_stage_store(spark, sf_dir)
    return spark.read.parquet(os.path.join(path, "packed")).select(
        "doc_id", "shard_id", "start_offset", "seq_first", "seq_last"
    )


# CTE chain through the curated `clean` stage — shared by the packing
# oracle below and the r7 `curation_gates` oracle (driver_queries_r7)
SQL_CURATE_CLEAN_CTES = f"""
    WITH RECURSIVE corpus AS ({SQL_CORPUS_PLANTED}),
    exact_kept AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
            FROM corpus
        ) WHERE doc_id = keep_id
    ),
    sh AS ({SHINGLES_SQL.format(docs='SELECT doc_id, text FROM exact_kept')}),
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
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    verified AS (
        SELECT i.doc_a, i.doc_b
        FROM (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY c.doc_a, c.doc_b
        ) i
        JOIN sizes za ON za.doc_id = i.doc_a
        JOIN sizes zb ON zb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE) / (za.sz + zb.sz - i.n_common)
              >= {CURATE_JACCARD}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION
        SELECT doc_b AS a, doc_a AS b FROM verified
    ),
    reach(n, m) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    ),
    comp AS (
        SELECT n AS node, LEAST(n, MIN(m)) AS component
        FROM reach GROUP BY n
    ),
    deduped AS (
        SELECT ek.doc_id, ek.text FROM exact_kept ek
        WHERE ek.doc_id NOT IN
              (SELECT node FROM comp WHERE node <> component)
    ),
    qual AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n,
               len(list_distinct(string_split(text, ' '))) AS nd
        FROM deduped
    ),
    kept AS (
        SELECT doc_id, text FROM qual
        WHERE n >= {CURATE_MIN_TOKENS}
          AND n > 0
          AND CAST(length(text) AS DOUBLE) / n <= {CURATE_MEAN_WORD_LEN}
          AND CAST(n - nd AS DOUBLE) / n <= {CURATE_MAX_DUP_FRAC}
    ),
    evg AS (
        SELECT DISTINCT ngram
        FROM ({_sql_ngrams('(SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0)', CURATE_DECON_N)})
    ),
    cg AS ({_sql_ngrams('kept', CURATE_DECON_N)}),
    clean AS (
        SELECT k.doc_id, k.text FROM kept k
        WHERE k.doc_id NOT IN
              (SELECT DISTINCT cg.doc_id FROM cg JOIN evg USING (ngram))
    )"""

SQL_CURATE_CORPUS = f"""{SQL_CURATE_CLEAN_CTES},
    sharded AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               {sql_hash_fraction('doc_id', 'shard')} AS h,
               CAST(FLOOR({sql_hash_fraction('doc_id', 'shard')}
                    * {CURATE_SHARDS}) AS INT) AS shard_id
        FROM clean
    ),
    o AS (
        SELECT doc_id, shard_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard_id ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_offset
        FROM sharded
    )
    SELECT doc_id, shard_id, start_offset,
           CAST(FLOOR(start_offset / {CURATE_CTX}.0) AS INT) AS seq_first,
           GREATEST(
               CAST(FLOOR(start_offset / {CURATE_CTX}.0) AS INT),
               CAST(FLOOR((start_offset + n_tokens - 1) / {CURATE_CTX}.0)
                    AS INT)
           ) AS seq_last
    FROM o
"""

query(q_curate_corpus, SQL_CURATE_CORPUS)


# ======================================================================
# cdc_merge — apply_changelog MERGE semantics (operators/history.py)
# ======================================================================
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot = latest state per user from the event_id%3==0 base
    feed; changelog = the remaining events with 'error' rows acting as
    deletes.  Values are straight selections (no float arithmetic), so
    doubles compare exactly."""
    from emiproc_spark.operators.history import apply_changelog, latest_snapshot

    ev = fx.events(spark, sf_dir).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    snap = latest_snapshot(
        ev.where(F.col("event_id") % 3 == 0), ["user_id"], ["ts", "event_id"]
    ).select("user_id", "event_type", "value")
    chg = ev.where(F.col("event_id") % 3 != 0).withColumn(
        "op",
        F.when(F.col("event_type") == "error", "delete").otherwise("upsert"),
    )
    return apply_changelog(
        snap, chg, ["user_id"], ["ts", "event_id"], op_col="op"
    )


SQL_CDC_MERGE = """
    WITH ev AS (
        SELECT user_id, event_type, value, epoch_ns(ts) AS tsn, event_id
        FROM events
    ),
    snap AS (
        SELECT user_id, event_type, value FROM (
            SELECT user_id, event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY tsn DESC, event_id DESC
                   ) AS rn
            FROM ev WHERE event_id % 3 = 0
        ) WHERE rn = 1
    ),
    latest AS (
        SELECT user_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'delete'
                    ELSE 'upsert' END AS op
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY tsn DESC, event_id DESC
                   ) AS rn
            FROM ev WHERE event_id % 3 <> 0
        ) WHERE rn = 1
    )
    SELECT s.user_id, s.event_type, s.value FROM snap s
    WHERE s.user_id NOT IN (SELECT user_id FROM latest)
    UNION ALL
    SELECT user_id, event_type, value FROM latest WHERE op <> 'delete'
"""

query(q_cdc_merge, SQL_CDC_MERGE)


# ======================================================================
# resample_interp — linear-interpolated lattice (operators/history.py)
# ======================================================================
INTERP_BUCKET_NS = 3_600_000_000_000  # 1 hour
INTERP_MAX_USER = 100


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.history import resample_interp

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < INTERP_MAX_USER)
        .select("user_id", "ts", "value", "event_id")
    )
    return resample_interp(
        ev, ["user_id"], "ts", "value", INTERP_BUCKET_NS, tiebreak=["event_id"]
    )


SQL_RESAMPLE_INTERP = f"""
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events
        WHERE user_id < {INTERP_MAX_USER} AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, b, value AS v, tsn AS t FROM (
            SELECT user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)} AS b, value, tsn,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, {sql_floor_div('tsn', INTERP_BUCKET_NS)}
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY user_id
    ),
    lat AS (
        SELECT bounds.user_id, t.b
        FROM bounds, UNNEST(range(b0, b1 + 1)) AS t(b)
    ),
    j AS (
        SELECT lat.user_id, lat.b, obs.v, obs.t
        FROM lat LEFT JOIN obs
          ON obs.user_id = lat.user_id AND obs.b = lat.b
    ),
    w AS (
        SELECT user_id, b, v,
               LAST_VALUE(v IGNORE NULLS) OVER fwd AS pv,
               LAST_VALUE(t IGNORE NULLS) OVER fwd AS pt,
               LAST_VALUE(v IGNORE NULLS) OVER bwd AS nv,
               LAST_VALUE(t IGNORE NULLS) OVER bwd AS nt
        FROM j
        WINDOW fwd AS (PARTITION BY user_id ORDER BY b
                       ROWS UNBOUNDED PRECEDING),
               bwd AS (PARTITION BY user_id ORDER BY b DESC
                       ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, b * {INTERP_BUCKET_NS} AS bucket_start,
           FLOOR((CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) *
                       (CAST(b * {INTERP_BUCKET_NS} - pt AS DOUBLE)
                        / CAST(nt - pt AS DOUBLE))
                  END) * 1e6 + 0.5) / 1e6 AS value_q6,
           v IS NULL AS is_gap
    FROM w
"""

query(q_resample_interp, SQL_RESAMPLE_INTERP)


# ======================================================================
# phrase_search — exact-phrase occurrence counts (operators/retrieval)
# ======================================================================
PHRASE = ["table", "table"]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.retrieval import phrase_count

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
# split_leakage — near-dup pairs crossing the train/val/test boundary
# (operators/sampling.hash_split × operators/similarity.embedding_dup):
# the leakage audit a training pipeline runs after splitting — a
# near-duplicate pair with one member in train and one in test is
# evaluation contamination.
# ======================================================================
LEAK_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_text import EMB_DUP_THRESHOLD
    from emiproc_spark.operators.sampling import hash_split
    from emiproc_spark.operators.similarity import embedding_dup_pairs

    emb = fx.load(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, dim=DIM, threshold=EMB_DUP_THRESHOLD)
    # hash_split's assignment is a PURE function of the key value, so
    # the audit needs NO join at all: evaluate the same ladder on each
    # pair END directly — map-only over the sparse pairs relation.
    # (The previous shape joined — and force-BROADCAST — the
    # corpus-sized per-document assignment frame: invisible at sf0.1,
    # a guaranteed driver/executor OOM at 100×; r7 judge finding.)
    labeled = hash_split(
        hash_split(pairs, LEAK_SPLITS, key_col="id_a", split_col="split_a"),
        LEAK_SPLITS,
        key_col="id_b",
        split_col="split_b",
    )
    return (
        labeled.groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count(
                F.when(F.col("split_a") != F.col("split_b"), 1)
            ).alias("n_leaks"),
        )
    )


def _sql_split_leakage() -> str:
    from emiproc_spark.driver_queries_text import SQL_EMBEDDING_DUP
    from emiproc_spark.operators.sampling import sql_hash_fraction

    # the exact cumulative bounds hash_split computes (float-accumulated
    # in the same order, so 0.8 + 0.1 reproduces bit-for-bit)
    hf = sql_hash_fraction("vec_id", "split")
    names = list(LEAK_SPLITS)
    whens, cum = [], 0.0
    for name in names[:-1]:
        cum += LEAK_SPLITS[name]
        whens.append(f"WHEN {hf} < {cum!r} THEN '{name}'")
    case = f"CASE {' '.join(whens)} ELSE '{names[-1]}' END"
    return f"""
    WITH p AS ({SQL_EMBEDDING_DUP}),
    s AS (SELECT vec_id, {case} AS split FROM embeddings)
    SELECT sa.split AS split_a, sb.split AS split_b,
           COUNT(*) AS n_pairs,
           COUNT(CASE WHEN sa.split <> sb.split THEN 1 END) AS n_leaks
    FROM p
    JOIN s sa ON sa.vec_id = p.id_a
    JOIN s sb ON sb.vec_id = p.id_b
    GROUP BY 1, 2
"""


query(q_split_leakage, _sql_split_leakage())


# ======================================================================
# kmeans_topics — deterministic Lloyd k-means over embeddings
# (operators/similarity.kmeans_iterations); the oracle unrolls both
# assignment passes and the quantized-mean update as CTEs (the
# pagerank precedent for iterative algorithms)
# ======================================================================
KM_K = 8
KM_ITER = 2  # assign -> centroid update -> final assign


def q_kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.similarity import kmeans_iterations

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
# stream_cdc — streaming MERGE state over an out-of-order CDC feed
# (streaming/streams.changelog_state_stream); arrival order is
# event_id % 4 (NOT event time), so the run proves the latest-wins
# fold is arrival-order independent — the final state must equal the
# batch answer over the same feed.
# ======================================================================


def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from emiproc_spark.streaming.streams import changelog_state_stream, run_available_now

    def build(path: str) -> None:
        ev = fx.events(spark, sf_dir).select(
            "user_id",
            F.col("ts").alias("tsn"),
            "event_id",
            "event_type",
            "value",
            F.when(F.col("event_type") == "error", "delete")
            .otherwise("upsert")
            .alias("op"),
        )
        # four independent single-file slice writes: overlap them from
        # a small pool (guide §2.6 — each is a 1-task job, serially
        # they left 31 cores idle four times over); write_ordered_file
        # pins mtimes by slice index, so the micro-batch order under
        # maxFilesPerTrigger=1 is exactly the old sequential-append
        # order regardless of job completion order
        from concurrent.futures import ThreadPoolExecutor

        from emiproc_spark.streaming.bootstrap import write_ordered_file

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(
                pool.map(
                    lambda p: write_ordered_file(
                        ev.where(F.col("event_id") % 4 == p), path, p
                    ),
                    range(4),
                )
            )

    d = fx.store("cdc_stream", sf_dir, build)

    stream = (
        spark.readStream.schema(
            "user_id long, tsn long, event_id long, event_type string, "
            "value double, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    # explicit bucket sizing (operator docstring rule: a few buckets
    # per core, or keys/~1000 — the event count bounds the key count
    # from above).  The derived default's 1024 floor costs a
    # Python/Arrow/state round-trip per bucket per micro-batch, and
    # this query runs FOUR batches (maxFilesPerTrigger=1 over 4 files);
    # checkpoints are per-invocation, so no pin is affected.
    n_ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    n_buckets = max(4 * spark.sparkContext.defaultParallelism, n_ev // 1000)
    out = changelog_state_stream(stream, n_buckets=n_buckets)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        res = run_available_now(out, "r6_stream_cdc", "update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = Window.partitionBy("k")
    final = res.withColumn("mx", F.max("ver").over(w)).where(
        F.col("ver") == F.col("mx")
    )
    return final.where(F.col("op") != "delete").select(
        F.col("k").alias("user_id"),
        F.col("sv").alias("event_type"),
        F.col("dv").alias("value"),
    )


SQL_STREAM_CDC = """
    WITH ev AS (
        SELECT user_id, event_type, value, epoch_ns(ts) AS tsn, event_id
        FROM events
    ),
    latest AS (
        SELECT user_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'delete'
                    ELSE 'upsert' END AS op
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY tsn DESC, event_id DESC
                   ) AS rn
            FROM ev
        ) WHERE rn = 1
    )
    SELECT user_id, event_type, value FROM latest WHERE op <> 'delete'
"""

query(q_stream_cdc, SQL_STREAM_CDC)


# ======================================================================
# hybrid_search — reciprocal-rank fusion of BM25 and vector cosine
# result lists (operators/retrieval.rrf_fuse): the standard hybrid
# retrieval combiner, composed from two already-oracle-checked
# retrievers (bm25_topk + ann_cosine_topk).
# ======================================================================
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_r5f import _B, _BM25_K, _BM25_TERMS, _K1
    from emiproc_spark.driver_queries_text import q_ann_cosine_topk
    from emiproc_spark.operators.retrieval import bm25_topk, rrf_fuse

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    lex = bm25_topk(d, _BM25_TERMS, k=_BM25_K, k1=_K1, b=_B)
    sem = q_ann_cosine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cos"
    )
    return rrf_fuse([(lex, "score"), (sem, "cos")], k=10)


def _sql_hybrid_search() -> str:
    from emiproc_spark.driver_queries_r5f import SQL_BM25_TOPK
    from emiproc_spark.driver_queries_text import SQL_ANN_COSINE_TOPK

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
# robust_outliers — median/MAD anomaly screen (operators/stats.py);
# the oracle locates both medians with the explicit rank/interpolation
# formula group_quantiles uses (type-7), NOT quantile_cont, so the
# arithmetic is mirrored term for term.
# ======================================================================
ROBUST_K = 3.5


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import robust_outliers

    ev = fx.events(spark, sf_dir).select("event_type", "value")
    return robust_outliers(ev, ["event_type"], "value", k=ROBUST_K)


def _sql_median(src: str, gcol: str, vcol: str, out: str) -> str:
    """Rank-locate + type-7 interpolation, mirroring group_quantiles."""
    return f"""
        SELECT {gcol} AS g, n,
               vlo + (vhi - vlo) * ((n - 1) * 0.5 - FLOOR((n - 1) * 0.5))
                   AS {out}
        FROM (
            SELECT {gcol}, n,
                   MIN(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) AS BIGINT)
                                 + 1 THEN {vcol} END) AS vlo,
                   MIN(CASE WHEN rn = CAST(CEIL((n - 1) * 0.5) AS BIGINT)
                                 + 1 THEN {vcol} END) AS vhi
            FROM (
                SELECT {gcol}, {vcol},
                       ROW_NUMBER() OVER (
                           PARTITION BY {gcol} ORDER BY {vcol}) AS rn,
                       COUNT(*) OVER (PARTITION BY {gcol}) AS n
                FROM {src}
            ) GROUP BY {gcol}, n
        )"""


SQL_ROBUST_OUTLIERS = f"""
    WITH ev AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ),
    med AS ({_sql_median('ev', 'event_type', 'v', 'med')}),
    dev AS (
        SELECT ev.event_type, ev.v, med.med,
               ABS(ev.v - med.med) AS dv
        FROM ev JOIN med ON med.g = ev.event_type
    ),
    mad AS ({_sql_median('dev', 'event_type', 'dv', 'mad')})
    SELECT d.event_type, COUNT(*) AS n,
           COUNT(CASE WHEN d.dv > {ROBUST_K} * mad.mad THEN 1 END)
               AS n_outliers,
           FLOOR(MIN(d.med) * 1e6 + 0.5) / 1e6 AS med,
           FLOOR(MIN(mad.mad) * 1e6 + 0.5) / 1e6 AS mad
    FROM dev d JOIN mad ON mad.g = d.event_type
    GROUP BY d.event_type
"""

query(q_robust_outliers, SQL_ROBUST_OUTLIERS)


# ======================================================================
# expectations / fk_integrity — declarative data-quality gates
# (operators/quality.py): the validation pass a pipeline runs on every
# new drop before curation.
# ======================================================================
_EXPECT_RULES = [
    ("o_orderkey", "not_null", {}),
    ("o_orderkey", "unique", {}),
    ("o_totalprice", "range", {"lo": 0.0}),
    ("o_orderstatus", "in_set", {"values": ["O", "F", "P"]}),
    ("o_orderpriority", "regex", {"pattern": "^[1-5]-[A-Z]"}),
    # a rule that FAILS on the fixture, so the violation path is live:
    # order keys are sparse, far beyond the row count
    ("o_orderkey", "range", {"hi": 1000.0}),
]


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.quality import validate_expectations

    return validate_expectations(
        fx.load(spark, sf_dir, "orders"), _EXPECT_RULES
    )


def _sql_one_rule(col: str, kind: str, cond: str) -> str:
    return f"""
    SELECT '{col}' AS "column", '{kind}' AS kind, COUNT(*) AS n_rows,
           CAST({cond} AS BIGINT) AS n_violations,
           {cond} = 0 AS pass
    FROM orders"""


SQL_EXPECTATIONS = " UNION ALL ".join(
    [
        _sql_one_rule(
            "o_orderkey", "not_null",
            "COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderkey", "unique",
            "COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)",
        ),
        _sql_one_rule(
            "o_totalprice", "range",
            "COUNT(CASE WHEN o_totalprice IS NOT NULL"
            " AND o_totalprice < 0.0 THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderstatus", "in_set",
            "COUNT(CASE WHEN o_orderstatus IS NOT NULL"
            " AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderpriority", "regex",
            "COUNT(CASE WHEN o_orderpriority IS NOT NULL AND NOT"
            " regexp_matches(o_orderpriority, '^[1-5]-[A-Z]') THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderkey", "range",
            "COUNT(CASE WHEN o_orderkey IS NOT NULL"
            " AND o_orderkey > 1000.0 THEN 1 END)",
        ),
    ]
)

query(q_expectations, SQL_EXPECTATIONS)


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two referential audits: a clean one (lineitem→orders) and one
    with live orphans (events.user_id→customer.c_custkey: user ids
    start at 0, custkeys at 1)."""
    from emiproc_spark.operators.quality import fk_orphans

    li = fx.load(spark, sf_dir, "lineitem")
    orders = fx.load(spark, sf_dir, "orders")
    ev = fx.events(spark, sf_dir)
    cust = fx.load(spark, sf_dir, "customer")
    a = fk_orphans(li, orders, "l_orderkey", "o_orderkey", "lineitem.orders")
    b = fk_orphans(
        ev, cust, "user_id", "c_custkey", "events.customer"
    )
    return a.unionByName(b)


SQL_FK_INTEGRITY = """
    SELECT 'lineitem.orders' AS relation, COUNT(*) AS n_child,
           CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
                AS BIGINT) AS n_orphans,
           COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) = 0 AS pass
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'events.customer', COUNT(*),
           CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT),
           COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) = 0
    FROM events e
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON e.user_id = c.c_custkey
"""

query(q_fk_integrity, SQL_FK_INTEGRITY)


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
    from emiproc_spark.operators import dedup as dd
    from emiproc_spark.driver_queries_text import _docs2

    return dd.setsim_join(_docs2(spark, sf_dir), threshold=SETSIM_T, n=3)


def _sql_setsim_exact() -> str:
    from emiproc_spark.driver_queries_text import DOCS2_SQL

    return f"""
    WITH sh AS ({SHINGLES_SQL.format(docs=DOCS2_SQL)}),
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
# vocab_coverage — tokenizer vocabulary induction + OOV audit
# (operators/text.vocab_coverage)
# ======================================================================
VOCAB_V = 16


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import vocab_coverage

    d = fx.load(spark, sf_dir, "documents").select("source", "text")
    return vocab_coverage(d, v_size=VOCAB_V)


SQL_VOCAB_COVERAGE = f"""
    WITH tok AS (
        SELECT source, t.tok
        FROM (SELECT source, string_split(text, ' ') AS toks
              FROM documents),
             UNNEST(toks) AS t(tok)
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
        ) ORDER BY c DESC, tok LIMIT {VOCAB_V}
    )
    SELECT source, COUNT(*) AS n_tokens,
           COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
           FLOOR(COUNT(CASE WHEN v.tok IS NULL THEN 1 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1e9 + 0.5) / 1e9 AS oov_rate
    FROM tok LEFT JOIN vocab v ON v.tok = tok.tok
    GROUP BY source
"""

query(q_vocab_coverage, SQL_VOCAB_COVERAGE)


# ======================================================================
# attribution — last-touch purchase→click attribution within a 7-day
# window (operators/joins.asof_join over the events stream): the
# canonical marketing/behavioral as-of use, and a second driver-grade
# exercise of the union+running-window as-of plan.
# ======================================================================
ATTR_TOL_NS = 7 * 24 * 3_600_000_000_000


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.joins import asof_join

    ev = fx.events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases,
        clicks,
        "ts",
        ["user_id"],
        ["click_id"],
        tolerance=ATTR_TOL_NS,
        direction="backward",
    )
    # unattributed purchases carry -1 (not NULL): the parity canon
    # sorts rows column-wise and a nullable FIRST column cannot order
    # against strings — the registry-wide convention is null-free keys
    return out.select(
        "purchase_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("ts") - F.col("ts_right"), F.lit(-1)).alias(
            "gap_ns"
        ),
    )


SQL_ATTRIBUTION = f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn
        FROM events
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, tsn
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           COALESCE(c.click_id, -1) AS click_id,
           COALESCE(p.tsn - c.ctsn, -1) AS gap_ns
    FROM p LEFT JOIN LATERAL (
        SELECT e.event_id AS click_id, e.tsn AS ctsn
        FROM ev e
        WHERE e.user_id = p.user_id AND e.event_type = 'click'
          AND e.tsn <= p.tsn AND e.tsn >= p.tsn - {ATTR_TOL_NS}
        ORDER BY e.tsn DESC, e.event_id DESC LIMIT 1
    ) c ON TRUE
"""

query(q_attribution, SQL_ATTRIBUTION)


# ======================================================================
# quantile_quantum — the group_quantiles value_quantum knob under
# driver evidence: continuous doubles pre-rounded to a 0.25 quantum
# bound the histogram (operators/stats.group_quantiles).
# ======================================================================
QQ_QUANTILES = (0.5, 0.9)
QQ_QUANTUM = 0.25  # a power of two: rounded values are exact doubles


def q_quantile_quantum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import group_quantiles

    ev = fx.events(spark, sf_dir).select("event_type", "value")
    out = group_quantiles(
        ev, ["event_type"], "value", QQ_QUANTILES, value_quantum=QQ_QUANTUM
    )
    return out.select("event_type", "q", qd("value").alias("value"))


def _sql_quantile_quantum() -> str:
    branches = " UNION ALL ".join(
        f"SELECT event_type, {q} AS q, quantile_cont(v, {q}) AS qv "
        "FROM r GROUP BY event_type"
        for q in QQ_QUANTILES
    )
    return f"""
    WITH r AS (
        SELECT event_type,
               FLOOR(value / {QQ_QUANTUM} + 0.5) * {QQ_QUANTUM} AS v
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, q, {sql_qd('qv')} AS value FROM ({branches})
"""


query(q_quantile_quantum, _sql_quantile_quantum())


# ======================================================================
# zipf_slope — rank-frequency power-law diagnostic over the token
# distribution: OLS slope of ln(freq) on ln(rank).  Natural text sits
# near -1; a synthetic or deduplicated-to-death corpus does not — a
# one-number corpus-health indicator.  Logs are quantized PER ROW to
# 1e-6 before exact integer sums (the unigram_logprob convention), so
# the regression arithmetic is engine-identical.
#
# Scale shape (r7 fix of the r6 judge's one weak plan): the fit uses
# the TOP-K HEAD of the rank-frequency curve only — the statistically
# standard Zipf practice (the long tail of hapax typos/numerals is the
# part that deviates from the power law anyway), and the plan reason:
# ranking a web-scale vocabulary (1e8–1e9 distinct tokens) through a
# partition-less row_number window sorts it all on ONE task.  Here the
# head is extracted by orderBy+limit (TakeOrderedAndProject — a
# distributed per-partition top-K merge), then ranked WITHOUT any
# window: the ≤K survivors pack into one sorted array whose
# posexplode position IS the rank.  Bounding n ≤ K also keeps every
# regression sum exactly inside int64 (x ≤ ln(K)·1e6 ≈ 9.2e6, so
# Σx², Σxy < 1e18); the slope numerator/denominator then cast each
# SUM to double BEFORE multiplying — n·Σxy would overflow int64 — and
# both engines run the identical IEEE double expression (the r6
# advisor's overflow finding: Spark's non-ANSI int64 products wrap
# silently while DuckDB promotes to HUGEINT).
# ======================================================================
ZIPF_SCALE = 1_000_000
ZIPF_HEAD_K = 10_000


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import tokens

    d = fx.load(spark, sf_dir, "documents").select("text")
    freq = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    head = freq.orderBy(F.col("c").desc(), "tok").limit(ZIPF_HEAD_K)
    # rank without a window: sort the bounded head inside one array —
    # struct order (−c asc, tok asc) == (c desc, tok asc)
    arr = head.agg(
        F.array_sort(
            F.collect_list(
                F.struct((-F.col("c")).alias("nc"), F.col("tok").alias("tok"))
            )
        ).alias("a")
    )
    ranked = arr.select(F.posexplode("a").alias("r0", "s")).select(
        (F.col("r0") + 1).cast("long").alias("r"),
        (-F.col("s.nc")).alias("c"),
    )
    s = F.lit(float(ZIPF_SCALE))
    q = ranked.select(
        F.floor(F.log(F.col("r").cast("double")) * s + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * s + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    agg = q.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        F.col("n").cast("long").alias("n_ranked"),
        qd(slope, 1e6).alias("slope"),
    )


SQL_ZIPF_SLOPE = f"""
    WITH tok AS (
        SELECT t.tok
        FROM (SELECT string_split(text, ' ') AS toks FROM documents),
             UNNEST(toks) AS t(tok)
    ),
    f AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    rk AS (
        SELECT c, r FROM (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM f
        ) WHERE r <= {ZIPF_HEAD_K}
    ),
    q AS (
        SELECT CAST(FLOOR(LN(r) * {ZIPF_SCALE} + 0.5) AS BIGINT) AS x,
               CAST(FLOOR(LN(c) * {ZIPF_SCALE} + 0.5) AS BIGINT) AS y
        FROM rk
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_ranked,
           FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1e6 + 0.5) / 1e6
               AS slope
    FROM s
"""

query(q_zipf_slope, SQL_ZIPF_SLOPE)
