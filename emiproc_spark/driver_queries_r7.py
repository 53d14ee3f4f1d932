"""Round-7 driver queries: the declarative data-quality gates wired to
the engine's own domain invariants, plus a NULL-path regression for the
interpolated resampler.

- ``curation_gates``: the audited gate frame ``pipelines.curate_corpus``
  now returns for every drop (unique/present ids, present text, quality
  floor held) evaluated on the same planted-contamination corpus as
  ``curate_corpus`` — the oracle recomputes the whole five-stage chain
  (shared ``SQL_CURATE_CLEAN_CTES``) and then the expectation
  aggregates, so one green row verifies gates-over-composition.
- ``remap_gate``: per-substance mass conservation across the regrid
  (``quality.mass_conservation_gate`` — the reference's
  ``total_emissions_almost_equal`` recast as a default-on pipeline
  gate), plus a deliberately violated variant (2× the remapped values)
  proving the gate actually detects loss/creation of mass.
- ``ratio_gate``: profile-normalization invariant (every group's ratios
  sum to 1) over an hourly event-share profile derived from the events
  table, with one planted broken group — exercising
  ``quality.ratio_sum_gate``'s exact tick arithmetic.
- ``resample_nulls``: ``resample_interp`` over events with NULL values
  injected on a deterministic predicate — driver-verifies the r7 NULL
  semantics (NULL rows are not observations; their buckets interpolate
  as gaps) that the NULL-free testdata could never exercise.

Same parity conventions as the earlier modules: per-row IEEE doubles
are engine-identical, sums ride integer quantization, ties break on
explicit keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark.driver_queries_r6 import (
    CURATE_MIN_TOKENS,
    INTERP_BUCKET_NS,
    INTERP_MAX_USER,
    SQL_CURATE_CLEAN_CTES,
)
from emiproc_spark.operators import regrid as rg
from emiproc_spark.qhelpers import sql_floor_div, sql_qd, sql_sumd, sumd
from emiproc_spark.registry import query


# ======================================================================
# curation_gates — the pipeline's own output-invariant audit frame
# ======================================================================
def q_curation_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate frame of the SAME composed pipeline run that
    ``curate_corpus`` verifies — served from the shared per-sf stage
    store (one five-stage execution feeds both queries; the oracle
    below recomputes everything independently)."""
    import os

    from emiproc_spark.driver_queries_r6 import curate_stage_store

    path = curate_stage_store(spark, sf_dir)
    return spark.read.parquet(os.path.join(path, "gates")).select(
        "column", "kind", "n_rows", "n_violations", "pass"
    )


def _sql_gate_row(col: str, kind: str, viol: str) -> str:
    return (
        f"SELECT '{col}' AS \"column\", '{kind}' AS kind, n_rows, "
        f"{viol} AS n_violations, {viol} = 0 AS pass FROM s"
    )


SQL_CURATION_GATES = f"""{SQL_CURATE_CLEAN_CTES},
    gated AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_tokens
        FROM clean
    ),
    s AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS v_id_null,
               COUNT(doc_id) - COUNT(DISTINCT doc_id) AS v_id_dup,
               COUNT(CASE WHEN text IS NULL THEN 1 END) AS v_text_null,
               COUNT(CASE WHEN n_tokens IS NOT NULL
                     AND n_tokens < {CURATE_MIN_TOKENS} THEN 1 END)
                   AS v_tok_lo
        FROM gated
    )
    {_sql_gate_row('doc_id', 'not_null', 'v_id_null')}
    UNION ALL {_sql_gate_row('doc_id', 'unique', 'v_id_dup')}
    UNION ALL {_sql_gate_row('text', 'not_null', 'v_text_null')}
    UNION ALL {_sql_gate_row('n_tokens', 'range', 'v_tok_lo')}
"""

query(q_curation_gates, SQL_CURATION_GATES)


# ======================================================================
# remap_gate — mass conservation across the regrid, audited
# ======================================================================
GATE_RTOL = 1e-6


def q_remap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.quality import mass_conservation_gate

    e = fx.emissions(spark, sf_dir)
    w = rg.weights_rect_rect(
        fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D
    )
    remapped = (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"], "inner")
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )
    ok = mass_conservation_gate(
        e, remapped, rtol=GATE_RTOL, relation="remap_conserves"
    )
    # the negative control: doubling the remapped mass must trip the
    # gate in every substance group — proves the audit detects, not
    # just that the happy path happens to pass
    bad = mass_conservation_gate(
        e,
        remapped.withColumn("value_kg_y", F.col("value_kg_y") * 2),
        rtol=GATE_RTOL,
        relation="remap_x2_detected",
    )
    return ok.unionByName(bad)


def _sql_mass_gate(relation: str, after_cte: str) -> str:
    # mirrors mass_conservation_gate: µ-quantized per-substance totals,
    # relative comparison in identical per-row double arithmetic
    return f"""
    SELECT '{relation}' AS relation, COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(COALESCE(v1, 0.0) - COALESCE(v0, 0.0))
                > {GATE_RTOL} * GREATEST(ABS(COALESCE(v0, 0.0)),
                                          ABS(COALESCE(v1, 0.0)), 1e-300)
                THEN 1 END) AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(COALESCE(v1, 0.0) - COALESCE(v0, 0.0))
                > {GATE_RTOL} * GREATEST(ABS(COALESCE(v0, 0.0)),
                                          ABS(COALESCE(v1, 0.0)), 1e-300)
                THEN 1 END) = 0 AS pass
    FROM t0 FULL JOIN {after_cte} USING (substance)
    """


SQL_REMAP_GATE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), w AS ({fx.WEIGHTS_SQL}),
    remap AS (
        SELECT w.dst_id AS cell_id, e.category, e.substance,
               {sql_sumd('e.value_kg_y * w.weight')} AS value_kg_y
        FROM e JOIN w ON e.cell_id = w.src_id
        GROUP BY 1, 2, 3
    ),
    t0 AS (
        SELECT substance, {sql_sumd('value_kg_y')} AS v0
        FROM e GROUP BY substance
    ),
    t1 AS (
        SELECT substance, {sql_sumd('value_kg_y')} AS v1
        FROM remap GROUP BY substance
    ),
    t2 AS (
        SELECT substance, {sql_sumd('value_kg_y * 2')} AS v1
        FROM remap GROUP BY substance
    )
    {_sql_mass_gate('remap_conserves', 't1')}
    UNION ALL
    {_sql_mass_gate('remap_x2_detected', 't2')}
"""

query(q_remap_gate, SQL_REMAP_GATE)


# ======================================================================
# ratio_gate — profile rows must sum to 1 (exact tick arithmetic)
# ======================================================================
NS_PER_HOUR = fx.NS_PER_HOUR


def q_ratio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.quality import ratio_sum_gate

    ev = fx.events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        ((F.col("ts") / F.lit(NS_PER_HOUR)).cast("long") % 24)
        .cast("int")
        .alias("hour_of_day"),
    ).agg(F.count("*").alias("c"))
    totals = hourly.groupBy("event_type").agg(F.sum("c").alias("ct"))
    ratios = hourly.join(totals, "event_type").select(
        F.col("event_type").alias("grp"),
        (F.col("c") / F.col("ct")).alias("ratio"),
    )
    broken = local_rows_df(spark, 
        [("__broken", 0.5), ("__broken", 0.4)], "grp string, ratio double"
    )
    return ratio_sum_gate(ratios.unionByName(broken), ["grp"], "ratio")


SQL_RATIO_GATE = f"""
    WITH h AS (
        SELECT event_type,
               CAST(FLOOR(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) % 24
                   AS hour_of_day,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, SUM(c) AS ct FROM h GROUP BY event_type),
    r AS (
        SELECT h.event_type AS grp,
               CAST(c AS DOUBLE) / CAST(ct AS DOUBLE) AS ratio
        FROM h JOIN t USING (event_type)
        UNION ALL SELECT '__broken', 0.5
        UNION ALL SELECT '__broken', 0.4
    ),
    g AS (
        SELECT grp,
               SUM(CAST(FLOOR(ratio * 1e9 + 0.5) AS BIGINT)) AS s
        FROM r GROUP BY grp
    )
    SELECT 'ratio_sum_1' AS relation, COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END)
                AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END) = 0 AS pass
    FROM g
"""

query(q_ratio_gate, SQL_RATIO_GATE)


# ======================================================================
# resample_nulls — the NULL path of resample_interp, driver-verified
# ======================================================================
NULL_MOD = 13  # every 13th event_id carries a NULL value


def q_resample_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.history import resample_interp

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < INTERP_MAX_USER)
        .select(
            "user_id",
            "ts",
            F.when(
                F.col("event_id") % NULL_MOD == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(F.col("value"))
            .alias("value"),
            "event_id",
        )
    )
    return resample_interp(
        ev, ["user_id"], "ts", "value", INTERP_BUCKET_NS, tiebreak=["event_id"]
    )


SQL_RESAMPLE_NULLS = f"""
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events
        WHERE user_id < {INTERP_MAX_USER}
          AND event_id % {NULL_MOD} <> 0
          AND value IS NOT NULL
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

query(q_resample_nulls, SQL_RESAMPLE_NULLS)


# ======================================================================
# psi_drift — population-stability drift monitor between two snapshots
# (operators/stats.psi_drift).  Snapshots: even vs odd user ids, with
# the "actual" side's click values shifted 1.5× so the drift is real.
# ======================================================================
PSI_BREAKS = [10.0, 25.0, 50.0, 100.0, 200.0]


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.stats import psi_drift

    ev = fx.events(spark, sf_dir)
    expected = ev.where(F.col("user_id") % 2 == 0).select("value")
    actual = ev.where(F.col("user_id") % 2 == 1).select(
        F.when(F.col("event_type") == "click", F.col("value") * 1.5)
        .otherwise(F.col("value"))
        .alias("value")
    )
    return psi_drift(expected, actual, "value", PSI_BREAKS)


def _sql_psi_drift() -> str:
    nb = len(PSI_BREAKS) + 1
    binexpr = " + ".join(
        f"CASE WHEN CAST(value AS DOUBLE) >= {b!r} THEN 1 ELSE 0 END"
        for b in PSI_BREAKS
    )
    pe = f"(CAST(n_expected AS DOUBLE) + 1.0) / (CAST(ne AS DOUBLE) + {float(nb)!r})"
    pa = f"(CAST(n_actual AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + {float(nb)!r})"
    return f"""
    WITH e AS (
        SELECT CAST({binexpr} AS INT) AS bin, COUNT(*) AS ce
        FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL
        GROUP BY 1
    ),
    a0 AS (
        SELECT CASE WHEN event_type = 'click' THEN value * 1.5
               ELSE value END AS value
        FROM events WHERE user_id % 2 = 1 AND value IS NOT NULL
    ),
    a AS (
        SELECT CAST({binexpr} AS INT) AS bin, COUNT(*) AS ca
        FROM a0 GROUP BY 1
    ),
    bins AS (SELECT CAST(t.b AS INT) AS bin FROM UNNEST(range({nb})) t(b)),
    j AS (
        SELECT bins.bin,
               CAST(COALESCE(ce, 0) AS BIGINT) AS n_expected,
               CAST(COALESCE(ca, 0) AS BIGINT) AS n_actual
        FROM bins LEFT JOIN e USING (bin) LEFT JOIN a USING (bin)
    ),
    t AS (SELECT SUM(n_expected) AS ne, SUM(n_actual) AS na FROM j)
    SELECT bin, n_expected, n_actual,
           {sql_qd(f'(({pa}) - ({pe})) * LN(({pa}) / ({pe}))')} AS psi_term
    FROM j, t
"""


query(q_psi_drift, _sql_psi_drift())


# ======================================================================
# cluster_split — leakage-free split (operators/sampling.cluster_split):
# near-dup clusters are atomic, so re-running the split_leakage audit
# on the produced assignment must show ZERO cross-split pairs — the
# constructive fix for what `split_leakage` measures.
# ======================================================================
CS_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.driver_queries_text import DIM, EMB_DUP_THRESHOLD
    from emiproc_spark.operators.sampling import cluster_split
    from emiproc_spark.operators.similarity import embedding_dup_pairs

    emb = fx.load(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, dim=DIM, threshold=EMB_DUP_THRESHOLD)
    # one pass computes the pairs; reuse the frame for assignment AND
    # the audit below (the setsim lineage-truncation pattern)
    pairs = pairs.localCheckpoint(eager=False)
    splits = cluster_split(
        emb.select("vec_id"), pairs, CS_SPLITS, key_col="vec_id",
        a_col="id_a", b_col="id_b",
    )
    # Reduce the corpus-sized assignment frame to the ids that appear
    # in pairs BEFORE the audit joins: the semi-joined frame is
    # pair-bounded by construction, so AQE broadcasts it when genuinely
    # small and degrades to a shuffle join otherwise.  (The previous
    # shape force-BROADCAST the full per-document frame — a guaranteed
    # OOM at 100× corpus scale; r7 judge finding.)  Checkpoint the
    # reduced frame so the semi-join runs once, not once per audit leg.
    pair_ids = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .union(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    reduced = splits.join(pair_ids, "vec_id", "semi").localCheckpoint(
        eager=False
    )
    sa = reduced.select(
        F.col("vec_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = reduced.select(
        F.col("vec_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count(
                F.when(F.col("split_a") != F.col("split_b"), 1)
            ).alias("n_leaks"),
        )
    )


def _sql_cluster_split() -> str:
    from emiproc_spark.driver_queries_text import SQL_EMBEDDING_DUP
    from emiproc_spark.operators.sampling import sql_hash_fraction

    hf = sql_hash_fraction("rep", "split")
    names = list(CS_SPLITS)
    whens, cum = [], 0.0
    for name in names[:-1]:
        cum += CS_SPLITS[name]
        whens.append(f"WHEN {hf} < {cum!r} THEN '{name}'")
    case = f"CASE {' '.join(whens)} ELSE '{names[-1]}' END"
    return f"""
    WITH RECURSIVE p AS ({SQL_EMBEDDING_DUP}),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION
        SELECT id_b AS a, id_a AS b FROM p
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
    s AS (
        SELECT e.vec_id, {case} AS split
        FROM (SELECT vec_id,
                     COALESCE(c.component, vec_id) AS rep
              FROM embeddings LEFT JOIN comp c ON c.node = vec_id) e
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           COUNT(*) AS n_pairs,
           COUNT(CASE WHEN sa.split <> sb.split THEN 1 END) AS n_leaks
    FROM p
    JOIN s sa ON sa.vec_id = p.id_a
    JOIN s sb ON sb.vec_id = p.id_b
    GROUP BY 1, 2
"""


query(q_cluster_split, _sql_cluster_split())


# ======================================================================
# dsir_sample — DSIR importance resampling (operators/text.dsir_weights):
# top-K raw documents by target-vs-raw unigram log-likelihood ratio.
# Target = the eval split (doc_id % 41 == 0), raw = the rest — the same
# planted-domain fixture decontaminate uses, here driving SELECTION
# toward the target domain instead of away from contamination.
# ======================================================================
DSIR_K = 50


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import dsir_weights

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    raw = d.where(F.col("doc_id") % 41 != 0)
    target = d.where(F.col("doc_id") % 41 == 0)
    w = dsir_weights(raw, target)
    return w.orderBy(F.col("dsir").desc(), "doc_id").limit(DSIR_K)


SQL_DSIR_SAMPLE = f"""
    WITH rawd AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0
    ),
    tgtd AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0
    ),
    rtok AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
              FROM rawd), UNNEST(ts) AS t(term)
        WHERE t.term <> ''
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM rtok GROUP BY 1, 2
    ),
    rc AS (SELECT term, SUM(tf) AS rc FROM tf GROUP BY term),
    ttok AS (
        SELECT t.term
        FROM (SELECT string_split(lower(text), ' ') AS ts
              FROM tgtd), UNNEST(ts) AS t(term)
        WHERE t.term <> ''
    ),
    tc AS (SELECT term, COUNT(*) AS tc FROM ttok GROUP BY term),
    vocab AS (
        SELECT term, COALESCE(rc, 0) AS rc, COALESCE(tc, 0) AS tc
        FROM rc FULL JOIN tc USING (term)
    ),
    tot AS (
        SELECT SUM(rc) AS nr, SUM(tc) AS nt, COUNT(*) AS v FROM vocab
    ),
    lq AS (
        SELECT term,
               CAST(FLOOR(LN((tc + 1.0) / (nt + 1.0 * v)) * 1e6 + 0.5)
                    AS BIGINT)
             - CAST(FLOOR(LN((rc + 1.0) / (nr + 1.0 * v)) * 1e6 + 0.5)
                    AS BIGINT) AS lq
        FROM vocab, tot
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * lq) AS DOUBLE) / SUM(tf) / 1e6 AS dsir
    FROM tf JOIN lq USING (term)
    GROUP BY doc_id
    ORDER BY dsir DESC, doc_id
    LIMIT {DSIR_K}
"""

query(q_dsir_sample, SQL_DSIR_SAMPLE)
