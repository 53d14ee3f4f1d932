"""Round-11 driver queries: checkpoint-bootstrap resume for the
remaining two sharded stateful streams (the r10 round oracled the
near-dup path; these close the funnel and CDC asymmetry so all three
documented upgrade paths sit under the driver's hash check).

- ``stream_funnel_resume``: incarnation 1 runs ``funnel_stream`` over
  the EARLY half of the event feed under one shard count and flushes a
  subset of users ('old'); incarnation 2 is a fresh query under a
  DIFFERENT shard count whose single micro-batch carries
  ``funnel_bootstrap_events`` over the batch funnel of the unflushed
  users' early events, then the late events, then flush sentinels.
  The tagged union must equal the batch window-chain funnel with each
  user's event horizon derived from their flush phase — which oracles
  state-rebuild parity, shard-layout independence, and that flushed
  keys emit exactly once.
- ``stream_cdc_resume``: incarnation 1 folds half the CDC feed (by
  ``event_id`` parity) under one bucket count; incarnation 2 is
  bootstrapped from ``latest_snapshot`` over that half (delete markers
  included — they are state) under a different count and then folds the
  remaining half.  Incarnation 2's latest-wins read must equal the
  batch answer over the FULL feed — the max-fold makes the bootstrap
  merge associative, so this is exact, not approximate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.streaming.bootstrap import write_ordered_file
from emiproc_spark.registry import query

_FR_STEPS = ["view", "click", "purchase"]
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
    from emiproc_spark.operators.behavior import funnel_user_steps
    from emiproc_spark.streaming.bootstrap import funnel_bootstrap_events
    from emiproc_spark.streaming.streams import funnel_stream, run_available_now

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
        with_ts(early.where(~is_old)), _FR_STEPS
    )
    funnel_bootstrap_events(snapshot, _FR_STEPS).unionByName(
        with_ts(late.where(~is_old))
    ).unionByName(
        sentinels(ev0.where(~is_old).select("user_id"), 7_200_000_000)
    ).coalesce(1).write.mode("overwrite").parquet(b_dir)

    def run(src, n_shards):
        stream = spark.readStream.schema(
            "ts timestamp, user_id long, event_type string"
        ).parquet(src)
        out = funnel_stream(stream, _FR_STEPS, n_shards=n_shards)
        return run_available_now(out, "r11_funnel_resume", "append", timeout=300)

    # independent incarnations (separate sources/checkpoints/sinks;
    # the state handoff rides b_dir's bootstrap rows) — overlap them,
    # same rationale as q_stream_cdc_resume below (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

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
    from emiproc_spark.operators.history import latest_snapshot
    from emiproc_spark.streaming.bootstrap import cdc_bootstrap_changes
    from emiproc_spark.streaming.streams import (
        changelog_state_stream,
        run_available_now,
    )

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
        out = changelog_state_stream(stream, n_buckets=n_buckets)
        res = run_available_now(out, "r11_cdc_resume", "update", timeout=300)
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
    from concurrent.futures import ThreadPoolExecutor

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
