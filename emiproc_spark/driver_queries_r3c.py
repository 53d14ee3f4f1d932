"""Round-3c driver-contract queries (registered first in the rotation).

Same contract as driver_queries.py: each query takes (spark, sf_dir) and
returns a DataFrame whose row multiset a DuckDB oracle reproduces.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx

from emiproc_spark.qhelpers import qd, sql_qd
from emiproc_spark.registry import query


# ======================================================================
# edgar_profiles — EDGAR auxiliary weekly + hour-of-week-per-month
# composite profiles (reference emiproc/inventories/edgar/temporal.py)
# ======================================================================
def _write_edgar_aux(d: str) -> None:
    """Reference-format fixture: AAA uses weekend type 0 (Sat/Sun),
    SEA type 2 (Fri/Sat); hourly value = daytype*48 + hour so the
    oracle recomputes every position in closed form."""
    with open(os.path.join(d, "weekly_profiles.csv"), "w") as f:
        f.write("Country_code_A3,activity_code,Weekday_id,daily_factor\n")
        for c in ("AAA", "SEA"):
            for cat in ("ENE", "IND"):
                for w in range(1, 8):
                    f.write(f"{c},{cat},{w},{w if cat == 'ENE' else 1}\n")
    with open(os.path.join(d, "hourly_profiles.csv"), "w") as f:
        f.write(
            "Country_code_A3,activity_code,month_id,Daytype_id,"
            + ",".join(f"h{i}" for i in range(1, 25))
            + "\n"
        )
        for c in ("AAA", "SEA"):
            for cat in ("ENE", "IND"):
                for m in range(1, 13):
                    for dt in (1, 2, 3):
                        vals = ",".join(str(dt * 48 + h) for h in range(1, 25))
                        f.write(f"{c},{cat},{m},{dt},{vals}\n")
    with open(os.path.join(d, "weekenddays.csv"), "w") as f:
        f.write("Weekend_type_id;Country_code_A3\n0;AAA\n2;SEA\n")
    with open(os.path.join(d, "weekdays.csv"), "w") as f:
        f.write("Weekend_type_id;weekday_name;Weekday_id;Daytype_id\n")
        for wt, dts in ((0, [1, 1, 1, 1, 1, 2, 3]), (2, [1, 1, 1, 1, 2, 3, 3])):
            for w, dt in enumerate(dts, start=1):
                f.write(f"{wt};day{w};{w};{dt}\n")


def q_edgar_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGAR auxiliary tables → composite profile store + index, long
    form.  Exercises the weekend-type day-type placement, SEA → -99,
    the country alias fan-out and the 3-letter category-prefix
    fallback (reference emiproc/inventories/edgar/temporal.py:62-259)."""
    from emiproc_spark.sources.edgar_profiles import edgar_auxiliary_profiles

    d = fx.scratch_dir("emiproc_edgar_aux_")
    _write_edgar_aux(d)
    store, index = edgar_auxiliary_profiles(
        spark,
        d,
        inv_categories=["ENE", "INDZZZ"],
        country_aliases={"BBB": "AAA"},
    )
    return (
        index.join(store, "profile_id")
        .select(
            "country",
            "category",
            "ptype",
            F.posexplode("ratios").alias("pos", "ratio"),
        )
        .withColumn("ratio", qd("ratio"))
    )


SQL_EDGAR_PROFILES = """
    WITH c(country, wt) AS (VALUES ('AAA', 0), ('-99', 2), ('BBB', 0)),
    cat(category) AS (VALUES ('ENE'), ('INDZZZ')),
    wk AS (
        SELECT country, category, 'weekly' AS ptype, t.pos,
               CASE WHEN category = 'ENE'
                    THEN CAST(t.pos + 1 AS DOUBLE) / 28.0
                    ELSE 1.0 / 7.0 END AS ratio
        FROM c, cat, UNNEST(range(7)) AS t(pos)
    ),
    hp_raw AS (
        SELECT country, category, t.pos,
               CASE WHEN wt = 0
                    THEN CASE WHEN (t.pos % 168) // 24 <= 4 THEN 1
                              WHEN (t.pos % 168) // 24 = 5 THEN 2
                              ELSE 3 END
                    ELSE CASE WHEN (t.pos % 168) // 24 <= 3 THEN 1
                              WHEN (t.pos % 168) // 24 = 4 THEN 2
                              ELSE 3 END
               END * 48 + (t.pos % 24) + 1 AS v
        FROM c, cat, UNNEST(range(2016)) AS t(pos)
    ),
    hp AS (
        SELECT country, category, 'hour_of_week_per_month' AS ptype, pos,
               CAST(v AS DOUBLE)
               / SUM(CAST(v AS DOUBLE)) OVER (PARTITION BY country, category)
               AS ratio
        FROM hp_raw
    )
    SELECT country, category, ptype, CAST(pos AS INT) AS pos,
           {qd} AS ratio
    FROM (SELECT * FROM wk UNION ALL SELECT * FROM hp)
""".format(qd=sql_qd("ratio"))

query(q_edgar_profiles, SQL_EDGAR_PROFILES)


# ======================================================================
# doc_chunks — overlapping token-window chunking (RAG indexing prep)
# ======================================================================
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only overlapping chunking of the documents corpus."""
    from emiproc_spark.operators.packing import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, size=32, stride=24)


SQL_DOC_CHUNKS = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS arr
        FROM documents
    )
    SELECT doc_id,
           CAST(s.i // 24 AS INT) AS chunk_idx,
           CAST(s.i AS INT) AS start,
           CAST(LEAST(s.i + 32, len(arr)) - s.i AS INT) AS chunk_tokens,
           array_to_string(arr[s.i + 1 : LEAST(s.i + 32, len(arr))], ' ')
               AS chunk_text
    FROM toks, UNNEST(generate_series(0, len(arr) - 1, 24)) AS s(i)
"""

query(q_doc_chunks, SQL_DOC_CHUNKS)


# ======================================================================
# unigram_logprob — corpus-self-scored fluency/quality signal
# ======================================================================
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logprob(docs).withColumn("mean_logprob", qd("mean_logprob"))


SQL_UNIGRAM_LOGPROB = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    corpus AS (SELECT term, SUM(tf) AS gc FROM tf GROUP BY term),
    tot AS (SELECT SUM(gc) AS total, COUNT(*) AS vocab FROM corpus)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           {qd} AS mean_logprob
    FROM tf JOIN corpus USING (term), tot
    GROUP BY doc_id
""".format(
    qd=sql_qd(
        "CAST(SUM(tf * CAST(FLOOR(ln((gc + 1.0) / (total + 1.0 * vocab)) * 1000000.0"
        " + 0.5) AS BIGINT)) AS DOUBLE) / SUM(tf) / 1000000.0"
    )
)

query(q_unigram_logprob, SQL_UNIGRAM_LOGPROB)


# ======================================================================
# length_percentiles — exact corpus token-count percentiles via the
# histogram reduction (validated against DuckDB's quantile_cont)
# ======================================================================
def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import length_percentiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_percentiles(docs).withColumn("value", qd("value"))


SQL_LENGTH_PERCENTILES = """
    WITH lens AS (
        SELECT len(string_split(text, ' ')) AS n FROM documents
    )
    SELECT q, {qd} AS value
    FROM (
        SELECT 0.25 AS q, quantile_cont(n, 0.25) AS v FROM lens
        UNION ALL SELECT 0.5, quantile_cont(n, 0.5) FROM lens
        UNION ALL SELECT 0.75, quantile_cont(n, 0.75) FROM lens
        UNION ALL SELECT 0.9, quantile_cont(n, 0.9) FROM lens
        UNION ALL SELECT 0.99, quantile_cont(n, 0.99) FROM lens
    )
""".format(qd=sql_qd("v"))

query(q_length_percentiles, SQL_LENGTH_PERCENTILES)


# ======================================================================
# winnow_fp — MOSS winnowing fingerprints (k=3-gram, w=4 windows)
# ======================================================================
def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
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
    from emiproc_spark.driver_queries_text import _docs2
    from emiproc_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _docs2(spark, sf_dir), k=3, w=4, min_shared=2, max_fp_freq=50
    )


def _sql_winnow_overlap() -> str:
    from emiproc_spark.driver_queries_text import DOCS2_SQL

    fp = _WINNOW_FP_TMPL.format(docs=DOCS2_SQL)
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
# quality_filter — composed C4/Gopher-style quality gate with audit
# ======================================================================
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.text import quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_filter(
        docs,
        min_tokens=30,
        max_tokens=80,
        max_mean_word_len=5.6,
        max_dup_token_frac=0.6,
    ).select("doc_id", "lang", "source", "reason", "keep")


SQL_QUALITY_FILTER = """
    WITH f AS (
        SELECT doc_id, lang, source, text,
               len(string_split(text, ' ')) AS n,
               len(list_distinct(string_split(text, ' '))) AS nd
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang, source,
               CASE
                   WHEN NOT (n >= 30) THEN 'min_tokens'
                   WHEN NOT (n <= 80) THEN 'max_tokens'
                   WHEN NOT (n > 0 AND CAST(length(text) AS DOUBLE) / n <= 5.6)
                       THEN 'mean_word_len'
                   WHEN NOT (n > 0 AND CAST(n - nd AS DOUBLE) / n <= 0.6)
                       THEN 'dup_token_frac'
                   ELSE 'ok'
               END AS reason
        FROM f
    )
    SELECT doc_id, lang, source, reason, reason = 'ok' AS keep FROM r
"""

query(q_quality_filter, SQL_QUALITY_FILTER)


# ======================================================================
# netcdf4_ingest — raster export → re-ingest through the NetCDF-4/HDF5
# container (minimal pure-numpy writer + reader, functions/hdf5*.py)
# ======================================================================
def q_netcdf4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.driver_queries_io import _raster_grid
    from emiproc_spark.exports.netcdf import export_raster_netcdf
    from emiproc_spark.qhelpers import sumd
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_nc4_"), "inv.nc")
    export_raster_netcdf(
        agg, _raster_grid(spark), out, add_totals=False, container="hdf5"
    )
    return from_netcdf_rasters(spark, out)


def _sql_netcdf4_ingest() -> str:
    from emiproc_spark.driver_queries_io import SQL_NETCDF_INGEST

    return SQL_NETCDF_INGEST


query(q_netcdf4_ingest, _sql_netcdf4_ingest())


# ======================================================================
# decon_spans — span-level decontamination (C4-style surgical removal)
# ======================================================================
def q_decon_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same planted-contamination fixture as `decontaminate`, but only
    the matching spans are removed; clean remainders survive."""
    from emiproc_spark import fixtures as fx
    from emiproc_spark.operators import packing as pk

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
    return pk.decontaminate_spans(corpus, eval_docs, n=5)


def _sql_decon_spans() -> str:
    from emiproc_spark.driver_queries_curate import (
        SQL_CORPUS_PLANTED,
        _sql_ngrams,
    )

    return f"""
    WITH ev AS (
        SELECT DISTINCT ngram
        FROM ({_sql_ngrams('(SELECT * FROM documents WHERE doc_id % 41 = 0)', 5)})
    ),
    cp AS ({SQL_CORPUS_PLANTED}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM cp),
    cg AS (
        SELECT doc_id, CAST(t.i - 1 AS INT) AS pos,
               toks[t.i] || ' ' || toks[t.i + 1] || ' ' || toks[t.i + 2]
               || ' ' || toks[t.i + 3] || ' ' || toks[t.i + 4] AS ngram
        FROM toks, UNNEST(range(1, len(toks) - 3)) AS t(i)
    ),
    hits AS (SELECT DISTINCT cg.doc_id, cg.pos FROM cg JOIN ev USING (ngram)),
    tokpos AS (
        SELECT doc_id, CAST(t.i - 1 AS INT) AS p, toks[t.i] AS tok
        FROM toks, UNNEST(range(1, len(toks) + 1)) AS t(i)
    ),
    removed AS (
        SELECT DISTINCT tokpos.doc_id, tokpos.p
        FROM tokpos JOIN hits ON hits.doc_id = tokpos.doc_id
                             AND tokpos.p BETWEEN hits.pos AND hits.pos + 4
    ),
    kept AS (
        SELECT tokpos.doc_id, tokpos.p, tokpos.tok
        FROM tokpos ANTI JOIN removed
        ON removed.doc_id = tokpos.doc_id AND removed.p = tokpos.p
    ),
    agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    nh AS (SELECT doc_id, COUNT(*) AS n_hits FROM hits GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           CAST(COALESCE(nh.n_hits, 0) AS INT) AS n_hits,
           CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS INT) AS n_tokens_removed
    FROM toks t
    LEFT JOIN agg a ON a.doc_id = t.doc_id
    LEFT JOIN nh ON nh.doc_id = t.doc_id
    """


query(q_decon_spans, _sql_decon_spans())


# ======================================================================
# temporal_expand_cell — annual→hourly with CELL-keyed profiles (the
# post-country_to_cells path the dimension-indexed expansion rejects)
# ======================================================================
def q_temporal_expand_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """country profiles → per-cell blend (0.6/0.4 fractions, same
    fixture as `country_to_cells`) → cell-wise hourly expansion of the
    emissions table, aggregated per (category, substance, hour)."""
    from emiproc_spark import fixtures as fx
    from emiproc_spark.driver_queries import _daily_ratios
    from emiproc_spark.operators.profiles import country_to_cells
    from emiproc_spark.operators.temporal import temporally_scaled_cellwise
    from emiproc_spark.qhelpers import sumd

    cidx = local_rows_df(spark, 
        [("C0", 0), ("C1", 1), ("C2", 2)], schema="country string, profile_id int"
    )
    store = local_rows_df(spark, 
        [(k, "daily", _daily_ratios(k)) for k in range(3)],
        schema="profile_id int, ptype string, ratios array<double>",
    )
    cc = (
        spark.range(fx.N_CELLS)
        .select(
            F.col("id").alias("cell_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("C"), (F.col("id") % 3)).alias("country"),
                        F.lit(0.6).alias("fraction"),
                    ),
                    F.struct(
                        F.concat(F.lit("C"), ((F.col("id") + 1) % 3)).alias("country"),
                        F.lit(0.4).alias("fraction"),
                    ),
                )
            ).alias("cf"),
        )
        .select("cell_id", "cf.country", "cf.fraction")
    )
    cell_profiles = country_to_cells(cidx, store, cc)
    hourly = temporally_scaled_cellwise(
        fx.emissions(spark, sf_dir), cell_profiles,
        "2024-01-02 00:00:00", 24, year_hours=8760,
    )
    return hourly.groupBy("category", "substance", "hour_index").agg(
        sumd("value_kg_h").alias("value_kg_h")
    )


def _sql_temporal_expand_cell() -> str:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.qhelpers import sql_sumd

    return f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    cells AS (SELECT c AS cell_id FROM range({fx.N_CELLS}) t(c)),
    blend AS (
        SELECT cell_id, p.pos,
               0.6 * ((p.pos + 1 + (cell_id % 3)) / (300.0 + 24 * (cell_id % 3)))
             + 0.4 * ((p.pos + 1 + ((cell_id + 1) % 3)) / (300.0 + 24 * ((cell_id + 1) % 3)))
               AS wr
        FROM cells CROSS JOIN range(24) p(pos)
    ),
    tot AS (SELECT cell_id, SUM(wr) AS total FROM blend GROUP BY 1),
    cellsf AS (
        SELECT b.cell_id, b.pos, (b.wr / t.total) * 24 AS sf
        FROM blend b JOIN tot t USING (cell_id)
    ),
    h AS (SELECT hh AS hour_index, hh % 24 AS pos FROM range(24) t(hh))
    SELECT e.category, e.substance, h.hour_index,
           {sql_sumd('e.value_kg_y / 8760.0 * cf.sf')} AS value_kg_h
    FROM e
    JOIN h ON TRUE
    JOIN cellsf cf ON cf.cell_id = e.cell_id AND cf.pos = h.pos
    GROUP BY 1, 2, 3
    """


query(q_temporal_expand_cell, _sql_temporal_expand_cell())


# ======================================================================
# stream_sessionize — the custom STATEFUL streaming operator
# (applyInPandasWithState gap sessionizer) run as a real Structured
# Streaming job and compared to the batch lag+cumsum sessionization
# ======================================================================
_SESS_GAP_NS = 30 * 60 * 1_000_000_000


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every real session closes IN-BATCH: the source is one parquet
    file (single availableNow micro-batch) and each user gets a sentinel
    event one gap+hour after the global max timestamp, which forces the
    user's final real session shut when the sentinel is processed.
    Sentinel-only sessions stay open and are filtered by timestamp, so
    the emitted set is exactly the batch sessionization."""
    from emiproc_spark import fixtures as fx
    from emiproc_spark.qhelpers import QSCALE
    from emiproc_spark.streaming.streams import run_available_now, sessionize_stream

    # whole-millisecond stamps: the stateful operator compares gaps at
    # ms resolution while the oracle compares µs — truncating aligns
    # the two exactly (µs diff = 1000 × ms diff)
    # a quarter of the users: state groups (not data volume) dominate
    # the stateful stage's wall time; the operator semantics are fully
    # exercised by any user subset
    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") % 4 == 0)
        .select(
            F.timestamp_micros(F.expr("ts div 1000000") * F.lit(1000)).alias("ts"),
            "user_id",
            (F.floor(F.col("value") * F.lit(QSCALE) + F.lit(0.5)))
            .cast("double")
            .alias("value"),
        )
    )
    # one aggregation serves both the sentinel stamps and the final
    # cutoff filter (re-deriving it later would rescan the events table)
    cutoff = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = (
        ev.select("user_id")
        .distinct()
        .select(
            F.timestamp_micros(
                F.unix_micros(F.lit(cutoff).cast("timestamp"))
                + F.lit((_SESS_GAP_NS // 1000) + 3_600_000_000)
            ).alias("ts"),
            "user_id",
            F.lit(0.0).alias("value"),
        )
    )
    d = fx.scratch_dir("emiproc_sess_stream_")
    src = os.path.join(d, "in")
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "ts timestamp, user_id long, value double"
    ).parquet(src)
    out = sessionize_stream(
        stream, gap="30 minutes", watermark_delay="1 minute",
        ts_col="ts", key_col="user_id", value_col="value",
    )
    # every REAL session closes in the data batch (the sentinel event,
    # one gap+hour past the global max, forces it shut when processed);
    # after that batch the only open state is one sentinel-started
    # session per user whose event-time timeout (sentinel+gap) exceeds
    # the final watermark (sentinel−1min), so the trailing no-data
    # batch provably emits nothing — skip it (it cost a full stateful
    # stage: 32 state store reloads + commits for zero output rows).
    # tests/test_streaming_no_data_batches.py runs this query under both
    # settings and asserts equal frames.  The session_start <= cutoff
    # filter below still guards leakage.
    res = run_available_now(
        out, "r3c_stream_sessionize", "append", no_data_batches=False
    )
    # drop any sentinel-session leakage (a trailing timeout batch)
    return res.where(F.col("session_start") <= F.lit(cutoff)).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        (F.col("sum_value") / F.lit(QSCALE)).alias("sum_value"),
    )


SQL_STREAM_SESSIONIZE = f"""
    WITH ev AS (
        -- same user subset + whole-millisecond truncation as the fixture
        SELECT user_id, (epoch_ns(ts) // 1000000) * 1000 AS ts_us,
               CAST(FLOOR(value * {1_000_000.0} + 0.5) AS BIGINT) AS qv
        FROM events WHERE user_id % 4 = 0
    ),
    w AS (
        SELECT user_id, ts_us, qv,
               CASE WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                         IS NULL THEN 1
                    WHEN (ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                                   ORDER BY ts_us))
                         > {_SESS_GAP_NS // 1000} THEN 1
                    ELSE 0 END AS new_session
        FROM ev
    ),
    s AS (
        SELECT user_id, ts_us, qv,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM w
    )
    SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
           COUNT(*) AS n_events,
           CAST(SUM(qv) AS DOUBLE) / {1_000_000.0} AS sum_value
    FROM s GROUP BY user_id, sid
"""

query(q_stream_sessionize, SQL_STREAM_SESSIONIZE)


# ======================================================================
# stream_neardup — the stateful streaming MinHash-LSH pair detector
# compared against the rank-capped banded self-join it implements
# ======================================================================
_ND_MAX_BUCKET = 8


def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-file source ⇒ one micro-batch; per bucket the operator
    pairs each (sorted) arrival against the ≤ max_bucket remembered
    members, i.e. pair (a, b) with a < b is emitted iff rank(a) within
    its bucket ≤ max_bucket — exactly the oracle's window rule."""
    from emiproc_spark.driver_queries_text import _docs2
    from emiproc_spark.streaming.streams import near_dup_stream, run_available_now

    d = fx.scratch_dir("emiproc_nd_stream_")
    src = os.path.join(d, "in")
    _docs2(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    # explicit shard sizing per the operator docstring's rule
    # (max(a few shards per core, buckets/~1000)): the derived
    # default's 4096 floor is a resize-robustness constant ~30x this
    # corpus's bucket count, and every shard present in the single
    # batch costs a Python/Arrow/state round-trip.  The checkpoint is
    # per-invocation, so no pin is affected; pair results are
    # shard-layout independent (the resume oracle proves it).
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count() * 2
    n_shards = max(
        4 * spark.sparkContext.defaultParallelism, (4 * n_docs) // 1000
    )
    out = near_dup_stream(
        stream, n=3, k=8, bands=4, max_bucket=_ND_MAX_BUCKET, state_ttl="1 hour",
        n_shards=n_shards,
    )
    # processing-time timers would keep an availableNow run alive
    # indefinitely (unlike the event-time sessionizer): after the data
    # batches, Spark cycles "no new data but cleaning up state" batches
    # until the 1 h TTL evicts everything.  All pair rows come from the
    # data batches (the timeout path emits nothing), so the run
    # suppresses no-data batches and terminates naturally after the
    # last data batch — the old poll-the-sink-then-stop() workaround
    # raced the in-flight cleanup batch's state commit
    # (failedToCommitStateFileError in executor logs).
    # bounded so a no-data-batch regression fails this query instead of
    # stalling the whole driver sweep (r10 advisor)
    return run_available_now(
        out, "r3c_stream_neardup", "append", no_data_batches=False, timeout=300
    )


def _sql_stream_neardup() -> str:
    from emiproc_spark.driver_queries_text import DOCS2_SQL, SHINGLES_SQL

    return f"""
    WITH sh AS ({SHINGLES_SQL.format(docs=DOCS2_SQL)}),
    hashed AS (
        SELECT doc_id, CAST(t.seed AS INT) AS seed,
               MIN(substr(md5(shingle || '#0') || md5(shingle || '#1'),
                          CAST(t.seed * 8 + 1 AS INT), 8)) AS minhash
        FROM sh, UNNEST(range(8)) AS t(seed)
        GROUP BY doc_id, t.seed
    ),
    banded AS (
        SELECT h1.doc_id,
               md5(CAST(b.b AS VARCHAR) || '|' || h1.minhash || '|'
                   || h2.minhash) AS bucket
        FROM UNNEST(range(4)) AS b(b)
        JOIN hashed h1 ON h1.seed = b.b * 2
        JOIN hashed h2 ON h2.seed = b.b * 2 + 1 AND h2.doc_id = h1.doc_id
    ),
    ranked AS (
        SELECT doc_id, bucket,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk
        FROM banded
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.bucket
    FROM ranked a
    JOIN ranked b ON a.bucket = b.bucket AND a.rk < b.rk
    WHERE a.rk <= {_ND_MAX_BUCKET}
    """


query(q_stream_neardup, _sql_stream_neardup())


# ======================================================================
# oem_profiles_export — the full export_inventory_profiles composition
# (OEM per-cycle files + tz_mask raster) read back from disk
# ======================================================================
def q_oem_profiles_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4×4 grid, UTC/CET checkerboard by latitude row, one daily
    profile: the hourofday matrix carries the tz-rolled scaling factors
    (regions sorted by tzid: CET=0 shift +1, UTC=1 shift 0) and tz_mask
    holds the region index per raster cell."""
    from emiproc_spark.exports.icon import export_inventory_profiles
    from emiproc_spark.functions.netcdf3 import read_netcdf
    from emiproc_spark.grids import regular_grid

    index = local_rows_df(spark, 
        [("A", "F", "daily", 0)],
        "category string, substance string, ptype string, profile_id int",
    )
    store = local_rows_df(spark, 
        [(0, "daily", [(h + 1) / 300.0 for h in range(24)])],
        "profile_id int, ptype string, ratios array<double>",
    )
    grid = regular_grid(spark, 0.0, 0.0, 4, 4, 1.0, 1.0, with_geometry=False)
    cell_tz = grid.select(
        "cell_id",
        F.when(F.col("cell_id") % 2 == 0, "UTC").otherwise("CET").alias("tzid"),
    )
    d = fx.scratch_dir("emiproc_oem_")
    out = export_inventory_profiles(
        index, store, cell_tz, grid, d, tz_shifts={"CET": 1}
    )
    hod = read_netcdf(out["hourofday"]).variables["A_F"].data
    tzm = read_netcdf(out["tz_mask"]).variables["tz_mask"].data
    rows = [
        ("sf", int(r), int(h), float(hod[h, r]))
        for h in range(hod.shape[0])
        for r in range(hod.shape[1])
    ] + [
        ("tz", -1, int(p), float(v))
        for p, v in enumerate(tzm.reshape(-1))
    ]
    return local_rows_df(spark, 
        rows, "kind string, region int, pos int, value double"
    ).withColumn("value", qd("value"))


SQL_OEM_PROFILES_EXPORT = """
    SELECT 'sf' AS kind, CAST(r.r AS INT) AS region, CAST(p.pos AS INT) AS pos,
           {qd_sf} AS value
    FROM range(2) r(r), range(24) p(pos)
    UNION ALL
    SELECT 'tz', -1, CAST(t.p AS INT),
           CASE WHEN (t.p // 4) % 2 = 0 THEN 1.0 ELSE 0.0 END
    FROM range(16) t(p)
""".format(
    qd_sf=sql_qd(
        "((p.pos + CASE WHEN r.r = 0 THEN 1 ELSE 0 END) % 24 + 1) / 300.0 * 24"
    )
)

query(q_oem_profiles_export, SQL_OEM_PROFILES_EXPORT)


# ======================================================================
# gfed4_ingest — GFED4 HDF5 layout (nested emissions/MM/partitioning
# groups) written by the minimal writer, scanned by the distributed
# GFED4 reader through the built-in HDF5 codec
# ======================================================================
GFED_NLAT, GFED_NLON = 3, 4


def _write_gfed4_fixture(d: str) -> None:
    """DM(month) = month, frac_SAVA = (lat+1)/10, frac_TEMF = (lon+1)/20,
    area = 100 — annual kg = Σ_m month·frac·100 = 7800·frac."""
    import numpy as np

    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    lat_i = np.arange(GFED_NLAT)[:, None] * np.ones((1, GFED_NLON))
    lon_i = np.ones((GFED_NLAT, 1)) * np.arange(GFED_NLON)[None, :]
    vs = {
        "ancill/grid_cell_area": NCVariable(
            "a", ("lat", "lon"), np.full((GFED_NLAT, GFED_NLON), 100.0), {}
        )
    }
    for m in range(1, 13):
        vs[f"emissions/{m:02}/DM"] = NCVariable(
            "dm", ("lat", "lon"), np.full((GFED_NLAT, GFED_NLON), float(m)), {}
        )
        vs[f"emissions/{m:02}/partitioning/DM_SAVA"] = NCVariable(
            "p", ("lat", "lon"), (lat_i + 1) / 10.0, {}
        )
        vs[f"emissions/{m:02}/partitioning/DM_TEMF"] = NCVariable(
            "p", ("lat", "lon"), (lon_i + 1) / 20.0, {}
        )
    ds = NCDataset(dims={"lat": GFED_NLAT, "lon": GFED_NLON}, variables=vs)
    write_netcdf4(os.path.join(d, "GFED4.1s_2020.hdf5"), ds)


def q_gfed4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.gfed import gfed4_emissions

    d = fx.scratch_dir("emiproc_gfed4_")
    _write_gfed4_fixture(d)
    return gfed4_emissions(spark, d).withColumn("value_kg_y", qd("value_kg_y"))


SQL_GFED4_INGEST = """
    WITH cells AS (
        SELECT CAST(lon.i * {nlat} + lat.i AS BIGINT) AS cell_id,
               lat.i AS lat_i, lon.i AS lon_i
        FROM UNNEST(range({nlat})) AS lat(i), UNNEST(range({nlon})) AS lon(i)
    )
    SELECT cell_id, 'SAVA' AS category, 'DM' AS substance,
           {qd_sava} AS value_kg_y
    FROM cells
    UNION ALL
    SELECT cell_id, 'TEMF', 'DM', {qd_temf}
    FROM cells
""".format(
    nlat=GFED_NLAT,
    nlon=GFED_NLON,
    qd_sava=sql_qd("7800.0 * (lat_i + 1) / 10.0"),
    qd_temf=sql_qd("7800.0 * (lon_i + 1) / 20.0"),
)

query(q_gfed4_ingest, SQL_GFED4_INGEST)


# ======================================================================
# antimeridian_remap — dateline-straddling ICON triangle remapped from
# ±180-adjacent cells; weights are closed-form (the split halves)
# ======================================================================
def q_antimeridian_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle (179,0)-(-179,0)-(179,2) splits at ±180 into two parts;
    1° source cells on both sides overlap it with hand-derivable
    fractions (hypotenuse slope −1): east cells 1 and 0.5, west lower
    cell 0.5, west upper cell 0 (dropped)."""
    import numpy as np

    from emiproc_spark.functions.geometry import wkb_box
    from emiproc_spark.operators.regrid import weights_poly_poly
    from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file

    d = fx.scratch_dir("emiproc_wrap_")
    p = make_icon_grid_file(
        os.path.join(d, "wrap.nc"),
        np.array([[179.0, -179.0, 179.0]]),
        np.array([[0.0, 0.0, 2.0]]),
    )
    mesh = icon_mesh_grid(spark, p)
    cells = [
        (0, 179.0, 0.0, 180.0, 1.0),
        (1, 179.0, 1.0, 180.0, 2.0),
        (2, -180.0, 0.0, -179.0, 1.0),
        (3, -180.0, 1.0, -179.0, 2.0),
    ]
    src = local_rows_df(spark, 
        [
            (i, bytearray(wkb_box(x0, y0, x1, y1)), x0, y0, x1, y1)
            for i, x0, y0, x1, y1 in cells
        ],
        "source_id long, geometry binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    w = weights_poly_poly(src, mesh, tile=2.0)
    return (
        w.groupBy(F.col("src_id"), F.col("dst_id"))
        .agg(F.sum("weight").alias("weight"))
        .withColumn("weight", qd("weight"))
    )


SQL_ANTIMERIDIAN_REMAP = """
    SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), CAST(0 AS BIGINT), 1.0),
        (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0.5),
        (CAST(2 AS BIGINT), CAST(0 AS BIGINT), 0.5)
    ) AS t(src_id, dst_id, weight)
"""

query(q_antimeridian_remap, SQL_ANTIMERIDIAN_REMAP)


# ======================================================================
# temp_mix — temperature-scaled source mixing (p_s ∝ share_s^τ)
# ======================================================================
TEMP_TAU = 0.5
TEMP_BUDGET = 50_000.0


def q_temp_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.operators import sampling as sp

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    rates = sp.temperature_rates(
        d, TEMP_TAU, TEMP_BUDGET, stratum_col="source", size_col="n_chars"
    )
    return sp.apply_mixture(d, rates, stratum_col="source").select(
        "doc_id", "source", "n_chars"
    )


def _sql_temp_mix() -> str:
    from emiproc_spark.operators.sampling import sql_hash_fraction

    return f"""
    WITH totals AS (
        SELECT source, SUM(n_chars) AS st FROM documents GROUP BY source
    ),
    powed AS (
        SELECT source, st, pow(CAST(st AS DOUBLE), {TEMP_TAU!r}) AS pp
        FROM totals
    ),
    rates AS (
        SELECT source,
               LEAST(1.0, {TEMP_BUDGET!r} * (pp / SUM(pp) OVER ())
                          / CAST(st AS DOUBLE)) AS rate
        FROM powed
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN rates r USING (source)
    WHERE {sql_hash_fraction('d.doc_id', 'mix')} < r.rate
    """


query(q_temp_mix, _sql_temp_mix())
