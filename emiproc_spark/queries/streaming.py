"""Structured Streaming queries.

Each query writes its input as a file source (a ``fixtures.store``
or ``fixtures.scratch_dir`` directory), runs the stream to completion
with ``streams.run_available_now`` into a memory sink and returns the
sink's rows; the ``*_resume`` queries stop and restart from the checkpoint
midway.  Each oracle is the batch SQL of the same computation.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.fixtures import NS_PER_HOUR
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators.behavior import funnel_user_steps
from emiproc_spark.operators.history import latest_snapshot
from emiproc_spark.qhelpers import QSCALE
from emiproc_spark.queries.profiles import FUNNEL_STEPS
from emiproc_spark.queries.similarity import SHINGLES_SQL, SQL_HASHED_CTE
from emiproc_spark.registry import query
from emiproc_spark.session import scoped_conf
# called through the module, so a test can patch streams.run_available_now
from emiproc_spark.streaming import streams
from emiproc_spark.streaming.bootstrap import (
    cdc_bootstrap_changes,
    funnel_bootstrap_events,
    neardup_bootstrap_docs,
    write_ordered_file,
)


# ======================================================================
# Structured Streaming end-to-end: a real stream (file source →
# availableNow trigger → memory sink) whose finished result equals the
# batch aggregation — which gives streaming a true DuckDB oracle
# instead of the rows-only check.  Values are pre-quantized to int64 so
# the window sums are exact on both engines.
# ======================================================================
def _stream_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events rewritten once per sf_dir as ONE parquet file: a single
    input file ⇒ the availableNow run is a single micro-batch, so
    within-watermark dedup state is never evicted mid-run and the
    finished stream equals the batch aggregation exactly."""

    def build(path: str) -> None:
        fx.events(spark, sf_dir).select(
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "event_type",
            "user_id",
            F.floor(F.col("value") * F.lit(QSCALE) + F.lit(0.5))
            .cast("long")
            .alias("value"),
        ).coalesce(1).write.mode("overwrite").parquet(path)

    return fx.store("stream_events", sf_dir, build)


def q_stream_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour aggregation executed as an actual
    Structured Streaming query (streams.windowed_event_stats), complete
    output mode so every window reaches the sink."""

    src = _stream_events_dir(spark, sf_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, user_id long, value long"
    ).parquet(src)
    out = streams.windowed_event_stats(stream, "1 hour", "2 hours")
    res = streams.run_available_now(out, "r3b_stream_stats", "complete")
    return res.select(
        F.unix_seconds("window_start").alias("epoch_s"),
        "event_type",
        "n_events",
        "sum_value",
    )


SQL_STREAM_WINDOW_STATS = f"""
    SELECT (epoch_ns(ts) // {NS_PER_HOUR}) * 3600 AS epoch_s,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value
    FROM events
    GROUP BY 1, 2
"""

query(q_stream_window_stats, SQL_STREAM_WINDOW_STATS)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup (dropDuplicatesWithinWatermark) run to
    completion; only the key columns are returned, so the result is the
    distinct key set regardless of which arrival was kept."""

    src = _stream_events_dir(spark, sf_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, user_id long, value long"
    ).parquet(src)
    # watermark horizon >> data span: dedup is global even if the file
    # source ever split the run into several micro-batches
    out = streams.dedup_stream(stream, ["user_id", "event_type"], "3650 days").select(
        "user_id", "event_type"
    )
    # dropDuplicatesWithinWatermark emits every kept row in the DATA
    # batch that delivered it; the trailing no-data batch only evicts
    # expired state (emits nothing), so skip it — one stateful-stage
    # execution saved.  tests/test_streaming_no_data_batches.py runs
    # this query under both settings and asserts equal frames.
    return streams.run_available_now(out, "r3b_stream_dedup", "append", no_data_batches=False)


SQL_STREAM_DEDUP = """
    SELECT DISTINCT user_id, event_type FROM events
"""

query(q_stream_dedup, SQL_STREAM_DEDUP)


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
    out = streams.sessionize_stream(
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
    res = streams.run_available_now(
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

    d = fx.scratch_dir("emiproc_nd_stream_")
    src = os.path.join(d, "in")
    fx.docs2(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    # explicit shard sizing per the operator docstring's rule
    # (max(a few shards per core, buckets/~1000)): the derived
    # default's 4096 floor is a resize-robustness constant ~30x this
    # corpus's bucket count, and every shard present in the single
    # batch costs a Python/Arrow/state round-trip.  The checkpoint is
    # per-invocation, so no pin is affected; pair results are
    # shard-layout independent (the resume oracle proves it).
    n_docs = fx.load(spark, sf_dir, "documents").count() * 2
    n_shards = max(
        4 * spark.sparkContext.defaultParallelism, (4 * n_docs) // 1000
    )
    out = streams.near_dup_stream(
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
    return streams.run_available_now(
        out, "r3c_stream_neardup", "append", no_data_batches=False, timeout=300
    )


def _sql_stream_neardup() -> str:
    return f"""
    WITH sh AS ({SHINGLES_SQL.format(docs=fx.DOCS2_SQL)}),
    {SQL_HASHED_CTE},
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
# stream_asof — stream-stream time-interval join (streaming/streams.py)
# ======================================================================
STREAM_ASOF_TOL_MIN = 30


def q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming run of the stream-stream as-of
    enrichment: click events joined to all views of the same user in
    the preceding 30 minutes (time-interval LEFT OUTER join with
    watermarks on both sides), then the as-of reduction (latest view
    per click + candidate count) as a rollup of the emitted pairs.

    Outer-join results only emit once the watermark passes a row's join
    window, and the global watermark is the MIN across both sources —
    so each source carries one far-future sentinel row (user −1) that
    pushes the final no-data batch's watermark beyond every real event,
    flushing the last unmatched clicks.  Sentinels drop in the final
    filter.
    """

    def build(path: str) -> None:
        ev = fx.events(spark, sf_dir).where(F.col("user_id") % 4 == 1).select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
        )
        flush_us = (
            ev.agg(F.unix_micros(F.max("ts"))).collect()[0][0]
            + (STREAM_ASOF_TOL_MIN + 10) * 60 * 1_000_000
        )
        sentinel = local_rows_df(
            spark, [(-1, -1)], "event_id long, user_id long"
        ).select(
            "event_id", F.timestamp_micros(F.lit(flush_us)).alias("ts"), "user_id"
        )
        for etype, side in (("click", "clicks"), ("view", "views")):
            (
                ev.where(F.col("event_type") == etype)
                .select("event_id", "ts", "user_id")
                .unionByName(sentinel)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, side))
            )

    d = fx.store("asof_stream", sf_dir, build)
    clicks_dir, views_dir = os.path.join(d, "clicks"), os.path.join(d, "views")
    schema = "event_id long, ts timestamp, user_id long"
    clicks = spark.readStream.schema(schema).parquet(clicks_dir)
    views = (
        spark.readStream.schema(schema)
        .parquet(views_dir)
        .withColumnRenamed("event_id", "view_id")
    )
    out = streams.asof_enrich_stream(
        clicks, views, tolerance=f"{STREAM_ASOF_TOL_MIN} minutes",
        value_cols=["view_id"],
    )
    # a stream-stream join keeps TWO state stores per shuffle partition
    # and the run is dominated by their per-partition setup, not data:
    # 8 partitions cut the wall time ~2.5× at identical results (the
    # conf binds at stream START, so restoring it after .start() is
    # safe; state-partition count is per-query, not per-session)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        pairs = streams.run_available_now(out, "r5b_stream_asof", "append")
    return (
        pairs.where(F.col("user_id") >= 0)
        .groupBy("event_id", "user_id")
        .agg(
            F.unix_micros(F.first("ts")).alias("ts_us"),
            F.unix_micros(F.max("ts_right")).alias("view_ts_us"),
            F.count("ts_right").alias("n_views"),
        )
    )


SQL_STREAM_ASOF = f"""
    WITH ev AS (
        SELECT event_id, (epoch_ns(ts) // 1000) AS ts_us, user_id, event_type
        FROM events WHERE user_id % 4 = 1
    ),
    c AS (SELECT event_id, ts_us, user_id FROM ev WHERE event_type = 'click'),
    v AS (SELECT event_id, ts_us, user_id FROM ev WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, c.ts_us,
           MAX(v.ts_us) AS view_ts_us,
           COUNT(v.ts_us) AS n_views
    FROM c LEFT JOIN v
      ON c.user_id = v.user_id
     AND v.ts_us >= c.ts_us - {STREAM_ASOF_TOL_MIN} * 60 * 1000000
     AND v.ts_us <= c.ts_us
    GROUP BY c.event_id, c.user_id, c.ts_us
"""

query(q_stream_asof, SQL_STREAM_ASOF)


# ======================================================================
# stream_heavy — streaming Misra-Gries + exact confirm (streams.py)
# ======================================================================
STREAM_HH_K = 20


def q_stream_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming run of the bounded-state heavy-hitter
    tracker: user_id events stream through 4 micro-batches into 8
    Misra-Gries state shards (streaming half), then the final sketches'
    candidates are counted EXACTLY over the replayable source and the
    top-20 returned (confirm half) — the streaming twin of the batch
    `heavy_hitters` query, same guarantee structure.
    """

    def build(path: str) -> None:
        ev = fx.events(spark, sf_dir).select("event_id", "user_id")
        # 4-file parquet dir (maxFilesPerTrigger=1 => four real
        # micro-batches, so the sketch state is merged+decayed across
        # batches, not built in one shot); overlap the four 1-task
        # slice writes (guide §2.6); pinned mtimes keep the batch
        # order identical to the old sequential appends (the MG merge
        # order is part of the sketch's identity)
        with ThreadPoolExecutor(max_workers=4) as pool:
            list(
                pool.map(
                    lambda p: write_ordered_file(
                        ev.where(F.col("event_id") % 4 == p).select("user_id"),
                        path,
                        p,
                    ),
                    range(4),
                )
            )

    d = fx.store("hh_stream", sf_dir, build)

    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    sketches = streams.heavy_hitters_stream(stream, "user_id", capacity=1024, n_buckets=8)
    # stateful shards are per-shuffle-partition state stores; 8 match
    # n_buckets and cut the fixture-scale setup cost (binds at START)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        res = streams.run_available_now(sketches, "r5c_stream_hh", "update")

    w = Window.partitionBy("bucket")
    final = res.withColumn("mx", F.max("ver").over(w)).where(
        F.col("ver") == F.col("mx")
    )
    cand = final.select(F.col("v").cast("long").alias("user_id")).distinct()
    exact = (
        spark.read.parquet(d)
        .join(F.broadcast(cand), "user_id", "semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    return exact.orderBy(F.col("n").desc(), "user_id").limit(STREAM_HH_K)


SQL_STREAM_HEAVY = f"""
    SELECT user_id, COUNT(*) AS n
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    ORDER BY n DESC, user_id
    LIMIT {STREAM_HH_K}
"""

query(q_stream_heavy, SQL_STREAM_HEAVY)


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One availableNow micro-batch over a parquet fixture (a quarter
    of the users — state groups, not volume, dominate the stateful
    stage); each user gets a ``__flush__`` sentinel an hour after the
    global max timestamp, which emits that user's final funnel row.
    Timestamps ride at µs resolution end-to-end, so the oracle's
    epoch_ns // 1000 matches exactly."""

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") % 4 == 0)
        .select(
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
        )
    )
    cutoff = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = (
        ev.select("user_id")
        .distinct()
        .select(
            F.timestamp_micros(
                F.unix_micros(F.lit(cutoff).cast("timestamp"))
                + F.lit(3_600_000_000)
            ).alias("ts"),
            "user_id",
            F.lit("__flush__").alias("event_type"),
        )
    )
    d = fx.scratch_dir("emiproc_funnel_stream_")
    src = os.path.join(d, "in")
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string"
    ).parquet(src)
    # NB (r12 optimization pass): explicit derive_shards-rule sizing
    # (max(4·parallelism, keys/1000) = 128 here) was A/B-measured a
    # wash at this key count (1.63→1.73 s — ~780 near-empty shard
    # invocations saved vs one extra count job) and reverted; the
    # derived 1024 floor stands.
    out = streams.funnel_stream(stream, FUNNEL_STEPS)
    res = streams.run_available_now(out, "r5h_stream_funnel", "append")
    return res.select(
        "user_id",
        F.unix_micros("step1_ts").alias("step1_us"),
        F.unix_micros("step2_ts").alias("step2_us"),
        F.unix_micros("step3_ts").alias("step3_us"),
    )


SQL_STREAM_FUNNEL = """
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        FROM events WHERE user_id % 4 = 0
    ),
    w1 AS (
        SELECT user_id, ts_us, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts_us END)
                   OVER (PARTITION BY user_id) AS s1
        FROM ev
    ),
    w2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > s1
                           THEN ts_us END) OVER (PARTITION BY user_id) AS s2
        FROM w1
    ),
    w3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > s2
                           THEN ts_us END) OVER (PARTITION BY user_id) AS s3
        FROM w2
    )
    SELECT user_id, MIN(s1) AS step1_us, MIN(s2) AS step2_us,
           MIN(s3) AS step3_us
    FROM w3 GROUP BY user_id
"""

query(q_stream_funnel, SQL_STREAM_FUNNEL)


# ======================================================================
# stream_cdc — streaming MERGE state over an out-of-order CDC feed
# (streaming/streams.changelog_state_stream); arrival order is
# event_id % 4 (NOT event time), so the run proves the latest-wins
# fold is arrival-order independent — the final state must equal the
# batch answer over the same feed.
# ======================================================================


def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    n_ev = fx.load(spark, sf_dir, "events").count()
    n_buckets = max(4 * spark.sparkContext.defaultParallelism, n_ev // 1000)
    out = streams.changelog_state_stream(stream, n_buckets=n_buckets)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        res = streams.run_available_now(out, "r6_stream_cdc", "update")
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


def q_stream_neardup_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase A = the documents table, phase B = its id-offset twins
    (identical text, so every A doc near-dups its twin across the
    resume boundary).  Each incarnation is one availableNow micro-batch
    — arrival order is the fold's sorted-id order, and because A ids
    all precede B ids the combined processing order (bootstrap first,
    then live) is plain id order, making the single rank-capped oracle
    exact."""

    docs = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    d = fx.scratch_dir("emiproc_nd_resume_")
    a_dir, b_dir = os.path.join(d, "a"), os.path.join(d, "b")
    docs.coalesce(1).write.mode("overwrite").parquet(a_dir)
    # incarnation 2's single batch: bootstrap corpus + live twins (the
    # fold admits flagged rows first, so one batch needs no file-order
    # games)
    twins = docs.select(
        (F.col("doc_id") + fx.DOUBLE_OFFSET).alias("doc_id"), "text"
    )
    neardup_bootstrap_docs(docs).unionByName(
        twins.withColumn("__bootstrap", F.lit(False))
    ).coalesce(1).write.mode("overwrite").parquet(b_dir)

    def run(src, schema, n_shards):
        stream = spark.readStream.schema(schema).parquet(src)
        out = streams.near_dup_stream(
            stream, n=3, k=8, bands=4, max_bucket=_ND_MAX_BUCKET,
            n_shards=n_shards,
        )
        # the timeout exists precisely because a ProcessingTimeTimeout
        # stream under the wrong no_data_batches setting hangs for its
        # full TTL — bound it so a regression fails THIS query instead
        # of stalling the whole driver sweep (r10 advisor)
        return streams.run_available_now(
            out, "r10_nd_resume", "append", no_data_batches=False, timeout=300
        )

    # the two incarnations are INDEPENDENT streams (separate sources,
    # separate fresh checkpoints, separate memory sinks — incarnation 2
    # rebuilds state from the bootstrap rows in ITS OWN source, never
    # from incarnation 1's output), so overlap them: each run spends
    # most of its wall time in per-batch fixed costs (query start,
    # state-store setup/commit, WAL) that leave most cores idle
    # (guide §2.6 — submit independent jobs from a small pool)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_old = pool.submit(run, a_dir, "doc_id long, text string", 257)
        f_new = pool.submit(
            run, b_dir, "doc_id long, text string, __bootstrap boolean", 131
        )
        old, new = f_old.result(), f_new.result()
    return old.withColumn("incarn", F.lit("old")).unionByName(
        new.withColumn("incarn", F.lit("new"))
    )


def _sql_stream_neardup_resume() -> str:
    # the base oracle already ranks by doc_id — identical to the
    # bootstrap-first processing order because A ids < OFFSET <= B ids;
    # its cap constant matches _ND_MAX_BUCKET (both 8).  A pair's
    # incarnation is derivable: any B member means incarnation 2
    # (B docs exist only there), pure-A pairs only incarnation 1
    # (bootstrap suppresses their re-emission).
    return f"""
    SELECT doc_a, doc_b, bucket,
           CASE WHEN doc_b >= {fx.DOUBLE_OFFSET} THEN 'new' ELSE 'old' END
               AS incarn
    FROM ({_sql_stream_neardup()})
    """


query(q_stream_neardup_resume, _sql_stream_neardup_resume())


#: stream_funnel_resume shard counts — deliberately different primes so
#: the resume crosses a shard-layout change (the silent-divergence event
#: the bootstrap module exists for)
_FR_SHARDS = (67, 31)
_CDC_BUCKETS = (53, 29)


def q_stream_funnel_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event horizon split at the slice's midpoint timestamp; users with
    ``user_id % 3 == 0`` flush in incarnation 1 ('old' — their funnel
    sees only early events), everyone else carries state across the
    resume boundary via the bootstrap and flushes in incarnation 2
    ('new' — their funnel sees the full feed).  Each incarnation is one
    availableNow micro-batch: the fold iterates in timestamp order and
    bootstrap stamps (≤ mid) precede every live late event (> mid), so
    bootstrap-first processing needs no file-order games."""

    ev0 = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") % 4 == 1)
        .select(F.expr("ts div 1000").alias("ts_us"), "user_id", "event_type")
    )
    mn, mx = ev0.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    mid = (int(mn) + int(mx)) // 2
    is_old = F.col("user_id") % 3 == 0

    def with_ts(df):
        return df.select(
            F.timestamp_micros("ts_us").alias("ts"), "user_id", "event_type"
        )

    def sentinels(users, offset_us):
        return users.distinct().select(
            F.timestamp_micros(F.lit(int(mx) + offset_us)).alias("ts"),
            "user_id",
            F.lit("__flush__").alias("event_type"),
        )

    early = ev0.where(F.col("ts_us") <= mid)
    late = ev0.where(F.col("ts_us") > mid)
    d = fx.scratch_dir("emiproc_funnel_resume_")
    a_dir, b_dir = os.path.join(d, "a"), os.path.join(d, "b")
    # incarnation 1: everyone's early events; only 'old' users flush
    # (flushing a key with no state would emit an all-NULL row, so the
    # sentinel set is old users WITH early events — same as the oracle's
    # per-user row existence)
    with_ts(early).unionByName(
        sentinels(early.where(is_old).select("user_id"), 3_600_000_000)
    ).coalesce(1).write.mode("overwrite").parquet(a_dir)
    # incarnation 2: bootstrap events rebuilding the unflushed users'
    # state from the BATCH funnel over their early events, then their
    # late events, then flush sentinels for every unflushed user seen
    # anywhere in the feed
    snapshot = funnel_user_steps(
        with_ts(early.where(~is_old)), FUNNEL_STEPS
    )
    funnel_bootstrap_events(snapshot, FUNNEL_STEPS).unionByName(
        with_ts(late.where(~is_old))
    ).unionByName(
        sentinels(ev0.where(~is_old).select("user_id"), 7_200_000_000)
    ).coalesce(1).write.mode("overwrite").parquet(b_dir)

    def run(src, n_shards):
        stream = spark.readStream.schema(
            "ts timestamp, user_id long, event_type string"
        ).parquet(src)
        out = streams.funnel_stream(stream, FUNNEL_STEPS, n_shards=n_shards)
        return streams.run_available_now(out, "r11_funnel_resume", "append", timeout=300)

    # independent incarnations (separate sources/checkpoints/sinks;
    # the state handoff rides b_dir's bootstrap rows) — overlap them,
    # same rationale as q_stream_cdc_resume below (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_old = pool.submit(run, a_dir, _FR_SHARDS[0])
        f_new = pool.submit(run, b_dir, _FR_SHARDS[1])
        old = f_old.result().withColumn("incarn", F.lit("old"))
        new = f_new.result().withColumn("incarn", F.lit("new"))
    return old.unionByName(new).select(
        "user_id",
        F.unix_micros("step1_ts").alias("step1_us"),
        F.unix_micros("step2_ts").alias("step2_us"),
        F.unix_micros("step3_ts").alias("step3_us"),
        "incarn",
    )


SQL_STREAM_FUNNEL_RESUME = """
    WITH ev0 AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
        FROM events WHERE user_id % 4 = 1
    ),
    m AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev0),
    ev AS (
        -- an 'old' user's funnel closed at the resume boundary: only
        -- early events count; 'new' users see the whole feed
        SELECT user_id, ts_us, event_type FROM ev0, m
        WHERE user_id % 3 <> 0 OR ts_us <= m.mid
    ),
    w1 AS (
        SELECT user_id, ts_us, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts_us END)
                   OVER (PARTITION BY user_id) AS s1
        FROM ev
    ),
    w2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > s1
                           THEN ts_us END) OVER (PARTITION BY user_id) AS s2
        FROM w1
    ),
    w3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > s2
                           THEN ts_us END) OVER (PARTITION BY user_id) AS s3
        FROM w2
    )
    SELECT user_id, MIN(s1) AS step1_us, MIN(s2) AS step2_us,
           MIN(s3) AS step3_us,
           CASE WHEN user_id % 3 = 0 THEN 'old' ELSE 'new' END AS incarn
    FROM w3 GROUP BY user_id
"""

query(q_stream_funnel_resume, SQL_STREAM_FUNNEL_RESUME)


def q_stream_cdc_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed halves split by ``event_id`` parity (NOT event time, so both
    incarnations fold out-of-order arrivals).  Incarnation 2's first
    micro-batch is ``cdc_bootstrap_changes`` over ``latest_snapshot`` of
    the processed half — delete markers ride along, because a delete
    must keep outranking late-arriving older upserts.  The fold is a
    (tsn, event_id)-max, so bootstrap-then-rest equals one pass over the
    full feed exactly."""

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
    feed_a = ev.where(F.col("event_id") % 4 <= 1)
    feed_b = ev.where(F.col("event_id") % 4 >= 2)
    d = fx.scratch_dir("emiproc_cdc_resume_")
    a_dir, b_dir = os.path.join(d, "a"), os.path.join(d, "b")
    write_ordered_file(feed_a, a_dir, 0)
    # incarnation 2's source: bootstrap snapshot FIRST (older mtime),
    # then the live remainder — the operational arrangement the
    # bootstrap module prescribes; maxFilesPerTrigger=1 makes the
    # snapshot a real leading micro-batch, not a same-batch merge
    snapshot = latest_snapshot(feed_a, ["user_id"], ["tsn", "event_id"])
    write_ordered_file(cdc_bootstrap_changes(snapshot), b_dir, 0)
    write_ordered_file(feed_b, b_dir, 1)

    schema = (
        "user_id long, tsn long, event_id long, event_type string, "
        "value double, op string"
    )

    def run(src, n_buckets):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = streams.changelog_state_stream(stream, n_buckets=n_buckets)
        res = streams.run_available_now(out, "r11_cdc_resume", "update", timeout=300)
        # the read contract: latest ver per key, deletes dropped
        w = Window.partitionBy("k")
        final = res.withColumn("mx", F.max("ver").over(w)).where(
            F.col("ver") == F.col("mx")
        )
        return final.where(F.col("op") != "delete").select(
            F.col("k").alias("user_id"),
            F.col("sv").alias("event_type"),
            F.col("dv").alias("value"),
        )

    # the two incarnations are INDEPENDENT streams (separate sources,
    # fresh per-invocation checkpoints, separate memory sinks —
    # incarnation 2's state rebuild comes from the bootstrap rows in
    # its own source files, not from incarnation 1's result), so
    # overlap them (guide §2.6): their wall time is dominated by
    # per-micro-batch fixed costs that leave most cores idle
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_old = pool.submit(run, a_dir, _CDC_BUCKETS[0])
        f_new = pool.submit(run, b_dir, _CDC_BUCKETS[1])
        old = f_old.result().withColumn("incarn", F.lit("old"))
        new = f_new.result().withColumn("incarn", F.lit("new"))
    return old.unionByName(new)


SQL_STREAM_CDC_RESUME = """
    WITH ev AS (
        SELECT user_id, event_type, value, epoch_ns(ts) AS tsn, event_id
        FROM events
    ),
    phased AS (
        SELECT 'old' AS incarn, * FROM ev WHERE event_id % 4 <= 1
        UNION ALL
        -- the bootstrapped incarnation's state equals a single pass
        -- over the FULL feed (max-fold associativity)
        SELECT 'new' AS incarn, * FROM ev
    ),
    latest AS (
        SELECT incarn, user_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'delete'
                    ELSE 'upsert' END AS op
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY incarn, user_id
                       ORDER BY tsn DESC, event_id DESC
                   ) AS rn
            FROM phased
        ) WHERE rn = 1
    )
    SELECT user_id, event_type, value, incarn
    FROM latest WHERE op <> 'delete'
"""

query(q_stream_cdc_resume, SQL_STREAM_CDC_RESUME)
