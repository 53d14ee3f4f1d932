"""Structured Streaming extensions.

The reference has no streaming runtime (its hourly export is a bounded
batch loop, emiproc/exports/hourly.py:166-224) — SURVEY.md §1.4 marks
Structured Streaming as an extension point, not a port requirement.
These transformations are sink/source-agnostic: they accept either a
batch or a streaming DataFrame (a batch input takes an equivalent
window/join fallback), so unit tests drive them with batch frames and
production binds ``readStream`` sources.  Exception:
``heavy_hitters_stream`` is streaming-only (its batch counterpart is
``operators.hotkeys.heavy_hitters``) and raises on batch input.

CHECKPOINT COMPATIBILITY: the round-8 sharding rewrite changed the
state schema of ``near_dup_stream`` / ``funnel_stream`` /
``changelog_state_stream`` from typed columns to a single pickled
BINARY blob AND changed their grouping keys (raw key → shard hash).
Spark's state-store schema/operator check rejects such a change rather
than migrating it: a query resuming from a pre-rewrite checkpoint
fails at start.  Upgrading across that change requires a FRESH
``checkpointLocation`` (replay the source, or bootstrap state from a
batch snapshot).

The shard COUNT is likewise part of the grouping, and — unlike the
schema change — a count change produces NO startup error: a checkpoint
written under one ``n_shards`` resumed under another silently remaps
keys to different shards, stranding the old shards' state (the
NoTimeout funnel/CDC maps never evict it) and silently diverging the
output.  Three upgrade paths hit this: (a) a cluster resize under the
derived default, (b) ``defaultParallelism`` crossing a stream's floor
(×4: above 1024 cores for ``near_dup_stream``'s 4096 floor, above 256
cores for the 1024-floor streams), and (c) upgrading from the pre-r9
code whose defaults were the FIXED floor constants onto a cluster
where the derived count now exceeds the floor.  For any checkpoint
that must survive those events, pin the count — per call site via
``n_shards``/``n_buckets``, or fleet-wide via the
``spark.emiproc.stream.shards`` conf key — and keep the pin with the
checkpoint: :func:`pin_shards_to_checkpoint` writes the count as a
sidecar inside the checkpoint dir and turns a mismatched rebuild into
a startup error.  ``derive_shards`` logs the count it chose (and why)
at query build so the value is recoverable from the driver log.
"""

from __future__ import annotations

import logging
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.session import scoped_conf

logger = logging.getLogger("emiproc_spark.streaming")

#: Serializes :func:`run_available_now`'s save/set/start/restore of the
#: session-global ``noDataMicroBatches`` conf — two helper calls started
#: concurrently in one session could otherwise capture each other's
#: setting (a watermark-driven stream started with it off would silently
#: never flush its final windows).  ``start()`` is fast, so the critical
#: section is cheap; streams started OUTSIDE this helper while it holds
#: the lock are still exposed — start those before or after, not during.
_AVAILABLE_NOW_LOCK = threading.Lock()

#: Conf key honored by :func:`derive_shards`: an EXACT fleet-wide pin
#: for the sharded streams' state layout (no floor is applied — a pin
#: exists to keep a checkpoint resumable, so silently raising it to the
#: floor would defeat it).
SHARDS_CONF_KEY = "spark.emiproc.stream.shards"


def derive_shards(df: DataFrame, floor: int, per_core: int = 4) -> int:
    """Default shard/bucket count for the SHARDED stateful streams.

    Resolution order:

    1. ``spark.emiproc.stream.shards`` conf, if set — used EXACTLY
       (like an explicit ``n_shards`` argument: a pin's purpose is
       checkpoint stability across resizes, so the floor does NOT
       override it; dynamic-allocation clusters set this once at
       submit instead of touching every call site).
    2. ``max(floor, defaultParallelism × per_core)`` otherwise.

    The sharded stores (``near_dup_stream``, ``funnel_stream``,
    ``changelog_state_stream``) cap per-batch Python invocations at the
    shard count, so shards must OUTNUMBER cores or executors idle; a
    few shards per core (``per_core``) additionally smooths batch skew
    across task waves.  The ``floor`` (each stream's historical
    constant) keeps per-shard blobs small on small clusters — on
    local[32] the floor dominates and behavior is unchanged; a
    1000-core cluster derives 4000+ shards with no manual tuning.
    Callers with known key/bucket cardinality should still size
    explicitly (≈ keys/1000 per the per-stream docstrings).

    NOTE the derived path reads ``defaultParallelism`` at query BUILD
    time; under dynamic allocation that can under-shard relative to
    peak cluster size — pin via the conf key there.  The chosen count
    is logged either way (it is part of the checkpoint's identity, see
    module docstring).
    """
    conf = df.sparkSession.conf.get(SHARDS_CONF_KEY, None)
    if conf is not None:
        n = int(conf)
        if n < 1:
            raise ValueError(f"{SHARDS_CONF_KEY} must be >= 1, got {conf!r}")
        logger.info(
            "derive_shards: using pinned n_shards=%d from %s", n, SHARDS_CONF_KEY
        )
        return n
    par = int(df.sparkSession.sparkContext.defaultParallelism)
    n = max(int(floor), par * int(per_core))
    logger.info(
        "derive_shards: derived n_shards=%d (floor=%d, defaultParallelism=%d "
        "x per_core=%d); pin %s or n_shards= if this checkpoint must survive "
        "a resize",
        n, floor, par, per_core, SHARDS_CONF_KEY,
    )
    return n


#: Sidecar filename written by :func:`pin_shards_to_checkpoint` inside a
#: query's ``checkpointLocation``.
SHARDS_SIDECAR = "emiproc_shards.json"


def pin_shards_to_checkpoint(
    spark: SparkSession, checkpoint_location: str, n_shards: int, stream: str
) -> int:
    """Persist the shard count NEXT TO the checkpoint it shapes, and
    turn the silent-divergence resize into a startup error.

    A checkpoint written under one ``n_shards`` resumed under another
    silently remaps keys to different shards (module docstring) — the
    count is part of the checkpoint's identity but Spark stores no
    record of it.  Call this at query build, BEFORE ``start()``, with
    the count the stream was constructed with:

    - first build: writes ``<checkpoint>/emiproc_shards.json``
      (``{"stream": ..., "n_shards": ...}``) and returns ``n_shards``;
    - later builds: validates the sidecar and RAISES ``ValueError`` on
      a shard-count (or stream-kind) mismatch instead of letting the
      resumed query silently diverge.

    I/O goes through the Hadoop ``FileSystem`` API, so the sidecar
    lands on whatever filesystem the checkpoint uses (HDFS, S3A, local)
    — the same durability domain as the state it describes.  The write
    is not transactional with the checkpoint itself; a crash between
    ``create()`` and the write leaves an EMPTY sidecar, which the retry
    treats as absent and rewrites.  A non-empty sidecar that does not
    parse is NOT silently rewritten (it may be a mangled record of a
    real pin): it raises a named error telling the operator where the
    file is and what to do.
    """
    import json

    n_shards = int(n_shards)
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    side = jvm.org.apache.hadoop.fs.Path(
        checkpoint_location.rstrip("/") + "/" + SHARDS_SIDECAR
    )
    fs = side.getFileSystem(hconf)

    def _unreadable(ex):
        return ValueError(
            f"shard sidecar {checkpoint_location.rstrip('/')}/"
            f"{SHARDS_SIDECAR} is unreadable ({ex!r}) — it should be "
            '{"stream": ..., "n_shards": ...}.  Restore it from the '
            "query build log (derive_shards/pin_shards log the "
            "count) or delete it to re-pin, but only if the "
            "checkpoint's real shard count is known."
        )

    raw = b""
    exists = fs.exists(side)
    if exists:
        try:
            stream_in = fs.open(side)
            try:
                raw = bytes(
                    jvm.org.apache.commons.io.IOUtils.toByteArray(stream_in)
                )
            finally:
                stream_in.close()
        except Exception as ex:
            # an IO/classpath failure (transient FS error, checksum or
            # permission problem, missing commons-io class) says NOTHING
            # about the sidecar's contents — advising "delete it" here
            # could coach an operator into destroying a valid pin after
            # a transient error, so only PARSE failures (below) carry
            # the delete advice
            raise ValueError(
                f"shard sidecar {checkpoint_location.rstrip('/')}/"
                f"{SHARDS_SIDECAR} could not be READ ({ex!r}) — a "
                "transient filesystem or classpath problem, not a "
                "mangled record.  Retry or fix the environment; do NOT "
                "delete the sidecar on this error."
            ) from ex
    if exists and raw.strip():
        try:
            rec = json.loads(raw.decode("utf-8"))
            rec_stream, rec_n = rec.get("stream"), int(rec["n_shards"])
        except (ValueError, KeyError, TypeError, AttributeError) as ex:
            # TypeError: a JSON null/list n_shards; the rest: truncated
            # or non-object JSON, missing key, non-utf8 bytes
            raise _unreadable(ex) from ex
        if rec_stream != stream or rec_n != n_shards:
            raise ValueError(
                f"checkpoint {checkpoint_location!r} was written by "
                f"stream={rec_stream!r} with n_shards={rec_n} but this "
                f"build uses stream={stream!r} n_shards={n_shards} — "
                "resuming would silently remap keys to different shards "
                "and strand the old shards' state.  Rebuild with the "
                "recorded count, or bootstrap a FRESH checkpoint from a "
                "batch snapshot (streaming.bootstrap) to resize."
            )
        return n_shards
    payload = json.dumps({"stream": stream, "n_shards": n_shards}).encode()
    # overwrite only the crash-remnant empty file; a fresh pin must not
    # clobber a sidecar that appeared between the exists() check and now
    out_stream = fs.create(side, exists)
    try:
        out_stream.write(payload)
    finally:
        out_stream.close()
    logger.info(
        "pin_shards_to_checkpoint: recorded n_shards=%d for %s at %s/%s",
        n_shards, stream, checkpoint_location, SHARDS_SIDECAR,
    )
    return n_shards


def run_available_now(
    out: DataFrame,
    query_name: str,
    output_mode: str = "append",
    no_data_batches: bool = True,
    timeout: float | None = None,
) -> DataFrame:
    """Run a streaming transformation to completion over the currently
    available source data (``trigger(availableNow=True)`` → memory
    sink) and return the finished result table.

    The memory sink is named ``query_name`` plus a random ``_<8 hex>``
    suffix, so repeated runs in one session never collide; read the
    result from the returned frame, not by name.

    ``no_data_batches`` maps to Spark's
    ``spark.sql.streaming.noDataMicroBatches.enabled`` for this query
    (saved/restored around ``start()`` — the engine reads it at query
    start).  The rule: pass ``False`` only when every output row is
    emitted by a DATA batch, so the trailing no-data batches (watermark
    advance, timeouts, state eviction) add nothing to the result.
    ``tests/test_streaming_no_data_batches.py`` checks this rule for the
    ``stream_dedup`` and ``stream_sessionize`` queries by running
    them under both settings and comparing the frames.  It holds for
    the sharded stateful streams (``near_dup_stream``,
    ``funnel_stream``, ``changelog_state_stream``), whose timers and
    state maintenance emit nothing; for ``ProcessingTimeTimeout`` state
    (neardup) the no-data cleanup batches would otherwise keep an
    availableNow run alive until the TTL drains — the old workaround
    (poll the sink, then ``stop()``) raced the in-flight cleanup
    batch's state commit and logged a benign-but-alarming
    ``failedToCommitStateFileError``.  With the cleanup batches
    suppressed the run TERMINATES NATURALLY after the last data batch:
    no ``stop()`` call exists to race.

    Keep the default ``True`` whenever a final window or session can
    only flush when the watermark passes it in a no-data batch (e.g.
    ``windowed_event_stats`` in append mode, or ``sessionize_stream``
    without an event that closes each key's last session).

    ``timeout`` (seconds) bounds the wait; on expiry the query is
    stopped and a ``TimeoutError`` raised (a ProcessingTimeTimeout
    operator accidentally run with ``no_data_batches=True`` would
    otherwise hang for its full TTL).

    Thread safety: the conf toggle is session-global, so the
    save/set/``start()``/restore sequence runs under a module lock —
    concurrent ``run_available_now`` calls serialize their (fast)
    ``start()`` and each query captures its own setting.  Streams
    started through OTHER code paths concurrently with this helper can
    still observe the temporary value; start those before or after.
    """
    spark = out.sparkSession
    query_name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    # the engine captures the conf at start(), so the scope restores
    # the caller's setting right after it
    with _AVAILABLE_NOW_LOCK, scoped_conf(
        spark, conf_key, "true" if no_data_batches else "false"
    ):
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    if timeout is None:
        q.awaitTermination()
    elif not q.awaitTermination(timeout):
        q.stop()
        q.awaitTermination()
        raise TimeoutError(
            f"run_available_now({query_name!r}): not finished after "
            f"{timeout} s — for ProcessingTimeTimeout operators pass "
            "no_data_batches=False so the run can terminate"
        )
    return spark.table(query_name)


def windowed_event_stats(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream:
    the streaming analogue of the daily/hourly groupBys, with late-data
    handling.  Works identically on batch frames (watermark is a no-op
    there)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return (
        df.groupBy(F.window(ts_col, window_duration).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    watermark_delay: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact-dedup within the watermark horizon
    (dropDuplicates with event-time bound) — the streaming counterpart
    of operators.dedup.exact_duplicates."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def asof_enrich_stream(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    tolerance: str = "30 minutes",
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming as-of enrichment via Spark's stream-stream
    time-interval LEFT OUTER join: every ``left`` event is paired with
    ALL ``right`` events of the same key inside
    ``[left.ts - tolerance, left.ts]``; unmatched left events emit with
    NULLs once the watermark passes their window.  The as-of
    *reduction* (keep only the latest candidate per left event) is a
    trivial rollup of the emitted pairs — max/max_by per left key — done
    on the sink or as a chained stateful aggregation (Spark ≥ 3.4
    supports multiple stateful operators in append mode).

    This is the streaming counterpart of ``operators.joins.asof_join``
    (backward + tolerance).  State stays bounded by construction: the
    time-interval condition lets Spark evict right-side state older
    than tolerance + delay and left-side state once its join window
    closes — state size is rate × tolerance, independent of stream
    length.

    Right columns come back as ``<ts_col>_right`` / unchanged value
    column names (callers rename upstream on collision, same contract
    as the batch operator).
    """
    value_cols = value_cols or []
    for c in value_cols + [ts_col, key_col]:
        if c not in right.columns:
            raise ValueError(f"asof_enrich_stream: right side has no column {c!r}")
    l = left.withWatermark(ts_col, watermark_delay).alias("l")
    r = right.withWatermark(ts_col, watermark_delay).alias("r")
    cond = F.expr(
        f"l.{key_col} = r.{key_col}"
        f" AND r.{ts_col} >= l.{ts_col} - INTERVAL {tolerance}"
        f" AND r.{ts_col} <= l.{ts_col}"
    )
    return l.join(r, cond, "leftOuter").select(
        *[F.col(f"l.{c}") for c in left.columns],
        F.col(f"r.{ts_col}").alias(f"{ts_col}_right"),
        *[F.col(f"r.{c}") for c in value_cols],
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "1 minute",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator: per-key gap sessionization via
    ``applyInPandasWithState`` (event-time timeout).

    The streaming counterpart of the batch ``sessionize`` query (lag +
    cumulative-sum windows): state per key is the open session's
    (start, last, n, sum); a session closes when a gap > ``gap`` shows
    up in-batch, or when the watermark passes last+gap (timeout) — so
    closed sessions are emitted exactly once, append-mode.

    State is O(keys), not O(events): each key holds four scalars, so a
    1000-executor cluster shards state by key hash and a 100 TB replay
    streams through without unbounded growth.

    NULL ``value_col`` rows count toward ``n_events`` but not
    ``sum_value`` (the batch fallback's ``F.sum`` semantics; a session
    whose values are ALL NULL sums to NULL).  Caveat: pandas conflates
    double NULL with NaN, so a literal NaN value is also treated as
    missing here while the batch ``F.sum`` would propagate it — don't
    feed meaningful NaNs.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)

    if not events.isStreaming:
        # batch fallback (the module contract): lag + cumulative-sum
        # sessionization — identical session boundaries
        from pyspark.sql import Window

        w = Window.partitionBy(key_col).orderBy(ts_col)
        ms = F.unix_millis(F.col(ts_col))
        new_s = F.when(
            (ms - F.lag(ms).over(w)).isNull() | ((ms - F.lag(ms).over(w)) > gap_ms),
            1,
        ).otherwise(0)
        sid = F.sum(new_s).over(
            Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        return (
            events.withColumn("__sid", sid)
            .groupBy(key_col, "__sid")
            .agg(
                F.min(ts_col).alias("session_start"),
                F.max(ts_col).alias("session_end"),
                F.count("*").alias("n_events"),
                F.sum(F.col(value_col).cast("double")).alias("sum_value"),
            )
            .drop("__sid")
        )

    # the key passes through untouched, so its output type is whatever
    # the input column carries (a hardcoded long would fail mid-stream
    # at Arrow conversion for string/decimal keys)
    key_type = dict(events.dtypes)[key_col]
    out_schema = (
        f"{key_col} {key_type}, session_start timestamp, "
        "session_end timestamp, n_events long, sum_value double"
    )
    state_schema = "start long, last long, n long, s double"

    def _close(key, start, last, n, s):
        return pd.DataFrame(
            {
                key_col: [key],
                "session_start": [pd.Timestamp(start, unit="ms")],
                "session_end": [pd.Timestamp(last, unit="ms")],
                "n_events": [n],
                # NaN is the all-values-NULL sentinel (see _add below);
                # object dtype so Arrow ships a real NULL, not NaN
                "sum_value": pd.array(
                    [None if pd.isna(s) else float(s)], dtype=object
                ),
            }
        )

    def _add(a, b):
        # NULL-skipping sum: NaN marks "no non-null values yet", so a
        # NULL event leaves the accumulator untouched instead of
        # poisoning it (the batch F.sum semantics)
        if pd.isna(a):
            return b
        if pd.isna(b):
            return a
        return a + b

    def fn(key, pdfs, state):
        (k,) = key
        if state.hasTimedOut:
            start, last, n, s = state.get
            state.remove()
            yield _close(k, start, last, n, s)
            return
        rows = pd.concat(list(pdfs))
        # interval-merge sessionization: the open state session is an
        # interval [start, last]; every event is a 1-point interval.
        # Sorting by start and merging neighbors within ``gap`` gives
        # exactly the batch session boundaries — in particular a
        # late-but-within-watermark event that predates the open
        # session's start by MORE than the gap forms its own (closed)
        # session instead of being silently absorbed (the old min(start)
        # merge produced a session with an internal super-gap).
        segs: list[list] = []
        if state.exists:
            segs.append(list(state.get))
        for ts, v in zip(rows[ts_col], rows[value_col]):
            tms = int(pd.Timestamp(ts).value // 10**6)
            # NULL value -> NaN seed: the event counts, its value doesn't
            segs.append([tms, tms, 1, float("nan") if pd.isna(v) else float(v)])
        segs.sort(key=lambda g: (g[0], g[1]))
        merged = [segs[0]]
        for g in segs[1:]:
            m = merged[-1]
            if g[0] - m[1] <= gap_ms:
                m[1] = max(m[1], g[1])
                m[2] += g[2]
                m[3] = _add(m[3], g[3])
            else:
                merged.append(g)
        # segments are disjoint by > gap and start-ordered, so the final
        # one holds the latest events: it stays open, the rest close
        *closed, open_seg = merged
        state.update(tuple(open_seg))
        state.setTimeoutTimestamp(open_seg[1] + gap_ms)
        for c in closed:
            yield _close(k, *c)

    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def hourly_emission_stream(
    spark: SparkSession,
    emissions: DataFrame,
    tprofile_index: DataFrame,
    tprofiles: DataFrame,
    start: str = "2024-01-01 00:00:00",
    year_hours: int = 8784,
    rows_per_second: int = 1,
) -> DataFrame:
    """Continuous hourly-emission production: a rate source emits one
    tick per wall-clock second, each tick maps to the next simulation
    hour, and the (static, broadcast) inventory × profile join produces
    that hour's emission batch — the streaming version of the reference
    hourly export loop.

    Stream-static join: the static side is the inventory; state is just
    the rate offset, so this scales to any inventory size.

    Profile binding goes through ``attach_profiles`` — the same
    wildcard-resolution + ambiguity guards as the batch expansion, so a
    duplicate index row raises here too instead of multiplying mass."""
    from emiproc_spark.operators.temporal import (
        attach_profiles,
        check_sf_dim_budget,
        composite_scaling_factor,
    )

    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    hours = rate.where(F.col("value") < year_hours).select(
        F.col("value").alias("hour_index"),
        (
            F.lit(start).cast("timestamp_ntz")
            + F.make_interval(hours=F.col("value").cast("int"))
        ).alias("sim_ts"),
    )  # ticks beyond the inventory year are dropped — the annual values
    # and the /year_hours divisor only describe this year
    # The sf depends only on (category, substance, tick) — evaluate the
    # composite fold on the DIMENSION side (tick × combos rows per
    # micro-batch) and fan the inventory out through the stream-static
    # equi-join, the batch temporally_scaled's round-10 plan (20× there;
    # here it removes an inventory-sized expression pass per tick).
    # Persist both static sides: without it every micro-batch would
    # rescan the inventory and rebuild the profile broadcasts.
    # NO localCheckpoint here (unlike the batch expansions): a stream
    # holds its plan for days, and truncating dims' lineage onto
    # executor-local checkpoint blocks would turn any executor loss
    # into a permanent "checkpoint block not found" query failure —
    # the plain distinct stays recomputable from the inventory source.
    # Persist FIRST so the guard's count below populates the inventory
    # cache the static sides and every micro-batch then reuse (count
    # before persist paid one extra full inventory scan at build).
    facts = emissions.persist()
    dims = facts.select("category", "substance").distinct()
    # one batch count at query BUILD (the inventory is static): a
    # combo-explosive caller fails with a named error here instead of a
    # per-micro-batch broadcast OOM.  Unlike the batch expansions the
    # per-micro-batch sf table is combos × the FEW ticks in that batch
    # (rate-source paced), so the guarded quantity is the combos-sized
    # static side itself (broadcast in the stream-static join and
    # persisted below) — ticks = 1, NOT the year horizon, which would
    # reject inventories whose streams ran fine (r11 review).
    check_sf_dim_budget(dims, 1, "hourly_emission_stream")
    static_dim = attach_profiles(dims, tprofile_index, tprofiles).persist()
    sf = composite_scaling_factor(
        F.col("sim_ts"), F.col("__profs"), F.col("__guard")
    )
    sf_stream = hours.join(static_dim).select(
        "hour_index",
        "sim_ts",
        F.col("category").alias("__c"),
        F.col("substance").alias("__s"),
        sf.alias("__sf"),
    )
    # eqNullSafe: the dim table covers the facts' combos by construction
    # INCLUDING NULL-keyed ones (profile miss ⇒ sf 1.0) — plain equality
    # would silently drop those rows
    return sf_stream.join(
        facts,
        F.col("category").eqNullSafe(F.col("__c"))
        & F.col("substance").eqNullSafe(F.col("__s")),
    ).select(
        "hour_index",
        "sim_ts",
        "cell_id",
        "category",
        "substance",
        (
            F.col("value_kg_y") / F.lit(float(year_hours)) * F.col("__sf")
        ).alias("value_kg_h"),
    )


def near_dup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    max_bucket: int = 64,
    state_ttl: str = "1 hour",
    n_shards: int | None = None,
    bootstrap_col: str = "__bootstrap",
) -> DataFrame:
    """Streaming near-duplicate candidate pairs: MinHash-LSH banding as
    a custom stateful operator (streaming counterpart of
    operators.dedup.lsh_candidate_pairs).

    If ``docs`` carries a ``bootstrap_col`` BOOLEAN column, rows
    flagged true are admitted to the bucket state (members/overflow,
    processed BEFORE the batch's live rows, sorted ids first) without
    emitting any pairs — the checkpoint-resume path: feed the
    already-processed corpus (``streaming.bootstrap.
    neardup_bootstrap_docs``) as the first micro-batch of a fresh
    checkpoint and new arrivals pair against the rebuilt membership
    without the old incarnation's pairs being re-emitted.  The batch
    fallback honors the same semantics (bootstrap rows rank first for
    member slots, bootstrap×bootstrap pairs suppressed, and a live row
    whose id is also flagged in the same frame is dedup'd away like the
    fold's seen-set does — it emits nothing).

    Stage 1 is stateless and map-only — the signature comes from
    ``minhash_signature_array`` (no aggregation, so it composes with the
    stateful stage), exploded to one (band bucket, doc) row per band.
    Stage 2 keys by bucket hash and keeps, per bucket, the ids already
    seen (``applyInPandasWithState``): each arrival emits a candidate
    pair against every remembered member, so every cross-batch near-dup
    is reported exactly once per band.

    State is bounded per bucket: the first ``max_bucket`` ids are the
    pairing members — a bucket larger than that is a stop-shingle
    artifact, not a duplicate cluster (the batch path's
    ``max_shingle_freq`` guard, restated for streams).  Arrivals beyond
    the cap pair against the members and are remembered as processed in
    an overflow list bounded at 15·``max_bucket`` — 16·``max_bucket``
    remembered ids per bucket including members (so an at-least-once
    source redelivering them does not re-emit their pairs; past that
    bound the overflow FIFO-evicts and a very late redelivery may
    duplicate).

    SCALE SHAPE — state is SHARDED: the stateful stage groups by
    ``pmod(xxhash64(bucket), n_shards)``, NOT by raw bucket.  Bucket
    count grows with the corpus (``bands`` buckets per distinct doc),
    and ``applyInPandasWithState`` pays a fixed Python/Arrow/state
    round-trip per GROUP per micro-batch — grouped by raw bucket the
    round-7 ledger measured ~1000 s for 1M docs (4M bucket-group
    invocations).  A shard's state is one pickled BINARY map
    ``bucket -> (members, overflow, last_touch_ms)``; the per-batch
    invocation count is capped at ``n_shards`` and the in-shard fold
    loops over only the buckets present in the batch slice.  Size
    ``n_shards`` ≈ max(cluster cores, live_buckets / 1000) — a
    1000-executor cluster still splits state horizontally, and ~1k
    entries keeps the blob round-trip cheap.  Default: derived from
    the cluster at call time (``derive_shards``, floor 4096), so a
    big cluster needs no manual tuning; pin it explicitly when a
    checkpoint must survive a resize (module docstring).

    Idle-state eviction — the streaming dedup horizon (duplicates
    arriving further apart than ``state_ttl`` are not paired, the same
    trade a watermarked ``dropDuplicatesWithinWatermark`` makes) — is
    enforced at BOTH levels: buckets untouched for ``state_ttl`` are
    pruned from the shard map whenever the shard processes a batch,
    and a shard with no arrivals at all times out as a whole
    (``ProcessingTimeTimeout``).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from emiproc_spark.operators.dedup import minhash_signature_array

    if n_shards is None:
        n_shards = derive_shards(docs, 4096)
    if k % bands != 0:
        raise ValueError(
            f"bands={bands} must divide k={k}: every band needs the same "
            "number of signature rows (a remainder would silently weaken "
            "or void the bucketing)"
        )
    rows_per_band = k // bands
    ttl_ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)
    # ids must be numeric (the state packs them as int64); a silent
    # cast-to-NULL on string/UUID ids would collapse buckets — raise
    # with a clear message instead (same contract as
    # cluster.connected_components: hash such ids to int64 first)
    id_cast = F.col(id_col).try_cast("long")
    id_checked = F.when(
        F.col(id_col).isNotNull() & id_cast.isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"near_dup_stream: non-numeric {id_col} id: "),
                F.col(id_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(id_cast)
    has_bs = bootstrap_col in docs.columns
    carry = [bootstrap_col] if has_bs else []
    # NULL ids carry no identity to pair on: drop them explicitly (the
    # batch self-join drops them silently via the < comparison; without
    # this the stateful operator would crash on int(NaN))
    pre = docs.select(
        id_checked.alias("doc_id"),
        F.col(text_col),
        *(
            [F.coalesce(F.col(bootstrap_col), F.lit(False)).alias(bootstrap_col)]
            if has_bs
            else []
        ),
    ).where(F.col("doc_id").isNotNull())
    if pre.isStreaming:
        # the signature stage (k-permutation md5 over every shingle) is
        # the batch's dominant map cost and must not inherit the
        # SOURCE's split count — a replayed single-file batch presents
        # one split and serializes the hashing on one core (measured:
        # the whole micro-batch was one long task).  Streaming exposes
        # no per-batch size to gate on (widen_for_fanout's logical-plan
        # probe is batch-only), so widen unconditionally: the exchange
        # moves each batch's input rows once, which the band explode +
        # state shuffle downstream already exceed, and hash
        # partitioning by id keeps the layout deterministic for
        # replayed batches.
        pre = pre.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    sigs = minhash_signature_array(
        pre, text_col, n, k, carry_cols=carry
    ).withColumnsRenamed({"doc_id": id_col} if id_col != "doc_id" else {})
    banded = sigs.select(
        F.col(id_col),
        *carry,
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(b),
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )

    if not banded.isStreaming:
        # same schema and duplicate semantics as the streaming path —
        # INCLUDING the max_bucket cap.  Processing order within the
        # single batch is bootstrap rows first (they are prior history),
        # then live rows, each sorted by id; a pair is emitted when the
        # LATER row arrives and the EARLIER one holds a member slot
        # (processing rank ≤ max_bucket), never for two bootstrap rows
        # (their pairs were emitted by the previous incarnation).  With
        # no bootstrap column the rank order IS the id order and this
        # reduces to the original rule: (a, b), a < b, iff rank(a) ≤
        # max_bucket.  An unguarded self-join would go quadratic on a
        # stop-shingle bucket.
        from pyspark.sql import Window

        # the rank self-join evaluates its input twice, and the overlap
        # dedup below references it three more times — checkpoint the
        # banded frame so the shingle/minhash pipeline runs ONCE (lazy:
        # materializes on first use; the hamming_pairs pattern)
        banded = banded.localCheckpoint(eager=False)
        if has_bs:
            # mirror the fold's seen-set dedup: a live row whose id is
            # ALSO bootstrap-flagged in the same frame (same bucket) is
            # prior history already admitted to membership — the stream
            # emits nothing for it, so the rank join must not let it
            # pair against bootstrap members and re-emit historical
            # pairs (r10 advisor)
            flagged = (
                banded.where(F.col(bootstrap_col))
                .select(id_col, "bucket")
                .distinct()
            )
            banded = banded.where(F.col(bootstrap_col)).unionByName(
                banded.where(~F.col(bootstrap_col)).join(
                    flagged, [id_col, "bucket"], "left_anti"
                )
            )
        bs = F.col(bootstrap_col) if has_bs else F.lit(False)
        order = ([F.col(bootstrap_col).desc()] if has_bs else []) + [F.col(id_col)]
        ranked = banded.withColumn(
            "__rk",
            F.row_number().over(Window.partitionBy("bucket").orderBy(*order)),
        ).withColumn("__bs", bs)
        a, b = ranked.alias("a"), ranked.alias("b")
        return (
            a.join(b, "bucket")
            .where(
                (F.col("a.__rk") < F.col("b.__rk"))
                # duplicate input ids occupy two ranks; never self-pair
                # (the stream fold's set() dedups arrivals)
                & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
                & (F.col("a.__rk") <= max_bucket)
                & ~(F.col("a.__bs") & F.col("b.__bs"))
            )
            .select(
                F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
                F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
                "bucket",
            )
            .distinct()
        )

    out_schema = "doc_a long, doc_b long, bucket string"
    state_schema = "blob binary"

    def fn(key, pdfs, state):
        import pickle
        import time as _time

        if state.hasTimedOut:
            state.remove()  # every bucket in the shard is idle: evict
            return
        # shard map: bucket -> (members, overflow, last_touch_ms)
        if state.exists:
            (blob,) = state.get
            m = pickle.loads(bytes(blob))
        else:
            m = {}
        now_ms = int(_time.time() * 1000)
        # per-bucket TTL: prune entries idle past the horizon (shard
        # granularity — a shard that processes a batch sweeps its map)
        if m:
            dead = [b for b, ent in m.items() if now_ms - ent[2] > ttl_ms]
            for b in dead:
                del m[b]
        out_a: list[int] = []
        out_b: list[int] = []
        out_bk: list[str] = []
        # union the batch's Arrow chunks BEFORE admitting members: the
        # member set must be the first max_bucket SORTED ids of the
        # whole micro-batch (the batch fallback's exact contract) — a
        # per-chunk fold would let a high id in an early chunk take a
        # member slot from a lower id in a later chunk whenever a
        # bucket straddles a chunk boundary
        chunks = [pdf for pdf in pdfs if len(pdf)]
        rows = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks)
            if chunks
            else pd.DataFrame({id_col: [], "bucket": []})
        )
        for bucket, grp in rows.groupby("bucket", sort=False):
            ent = m.get(bucket)
            members = list(ent[0]) if ent else []
            overflow = list(ent[1]) if ent else []
            # the first max_bucket ids are the pairing members;
            # later ids live in a bounded overflow so an
            # at-least-once source redelivering an over-cap doc
            # does not re-emit its pairs (beyond 15x max_bucket
            # the overflow FIFO-evicts and a very late redelivery
            # may duplicate — the documented bound)
            seen = set(members)
            seen.update(overflow)
            live = grp
            if has_bs:
                # bootstrap rows are PRIOR HISTORY: admit them to the
                # membership (sorted, before this batch's live rows —
                # the order the previous incarnation's first batch used)
                # but emit nothing; their pairs already shipped
                flags = grp[bootstrap_col].fillna(False).astype(bool)
                for bid in sorted(
                    {int(i) for i in grp[id_col][flags.to_numpy()]} - seen
                ):
                    if len(members) < max_bucket:
                        members.append(bid)
                    else:
                        overflow.append(bid)
                    seen.add(bid)
                live = grp[~flags.to_numpy()]
            new_ids = sorted({int(i) for i in live[id_col]} - seen)
            for nid in new_ids:
                for old in members:
                    lo, hi = (old, nid) if old < nid else (nid, old)
                    out_a.append(lo)
                    out_b.append(hi)
                    out_bk.append(bucket)
                if len(members) < max_bucket:
                    members.append(nid)
                else:
                    overflow.append(nid)
            m[bucket] = (
                members,
                overflow[-(max_bucket * 15):],
                now_ms,
            )
        state.update((pickle.dumps(m, protocol=5),))
        state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame(
                {
                    "doc_a": pd.array(out_a, dtype="int64"),
                    "doc_b": pd.array(out_b, dtype="int64"),
                    "bucket": pd.array(out_bk, dtype=object),
                }
            )

    sharded = banded.withColumn(
        "__shard", F.pmod(F.xxhash64("bucket"), F.lit(n_shards))
    )
    return sharded.groupBy("__shard").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def heavy_hitters_stream(
    stream: DataFrame,
    col: str = "v",
    capacity: int = 1024,
    n_buckets: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries candidate tracker: bounded-state frequent
    values of ``col`` over an unbounded stream — the streaming half of
    ``operators.hotkeys.heavy_hitters`` (same sketch, same guarantee:
    any value with true frequency > n_bucket/capacity survives its
    bucket's summary; pair with an exact confirm over the replayable
    source for exact top-k).

    Values hash into ``n_buckets`` state shards; each shard's state is
    ONE Misra-Gries summary of ≤ ``capacity`` counters, merged per
    micro-batch (merge-then-decay keeps it a valid MG summary of the
    shard's whole history).  Every batch re-emits the shard's current
    sketch stamped with a monotonically increasing ``ver`` (update
    mode); the latest ``ver`` per bucket is the final summary.  State
    is O(n_buckets x capacity) regardless of stream length — a 100 TB
    replay holds ~n_buckets x capacity counters, never per-key state.

    ``col`` is cast to string for state packing; values must not
    contain the unit separator ``\\x1f`` (raises downstream).

    ``n_buckets`` is part of the checkpoint's identity, exactly like
    the sharded streams' counts (module docstring): resuming a
    checkpoint under a different value silently remaps values to other
    buckets while the old buckets' NoTimeout summaries persist stale —
    pin it with the checkpoint (``pin_shards_to_checkpoint``).  Unlike
    the MERGE/funnel/near-dup operators this sketch has no batch
    fallback (use ``operators.hotkeys.heavy_hitters`` on bounded data),
    so a batch input raises here instead of failing at execution.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from emiproc_spark.operators.hotkeys import _mg_shrink, _misra_gries

    if not stream.isStreaming:
        raise ValueError(
            "heavy_hitters_stream needs a streaming DataFrame — for "
            "bounded data use operators.hotkeys.heavy_hitters (exact "
            "same sketch, one pass)"
        )
    if capacity < 1 or n_buckets < 1:
        raise ValueError(
            f"need capacity >= 1 and n_buckets >= 1, got {capacity}, {n_buckets}"
        )
    sep = "\x1f"
    keyed = (
        stream.select(F.col(col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .withColumn("bucket", F.pmod(F.xxhash64("v"), F.lit(n_buckets)).cast("int"))
    )

    def fn(key, pdfs, state):
        (bucket,) = key
        counters: dict = {}
        ver = 0
        if state.exists:
            vs, cs, ver = state.get
            # key the emptiness check on the COUNTS string: a sketch
            # whose only survivor is the empty-string value packs
            # vs == "" with a non-empty cs, and `if vs` would silently
            # drop that state every batch
            if cs:
                counters = dict(
                    zip(vs.split(sep), (int(x) for x in cs.split(",")))
                )
        for pdf in pdfs:
            for v, c in _misra_gries(pdf["v"], capacity).items():
                if sep in v:
                    raise ValueError(
                        f"heavy_hitters_stream: value contains the state "
                        f"separator: {v!r}"
                    )
                counters[v] = counters.get(v, 0) + c
            _mg_shrink(counters, capacity)
        ver += 1
        vals = list(counters.keys())
        state.update(
            (sep.join(vals), ",".join(str(counters[v]) for v in vals), ver)
        )
        yield pd.DataFrame(
            {
                "bucket": bucket,
                "v": vals,
                "wt": [counters[v] for v in vals],
                "ver": ver,
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        fn,
        "bucket int, v string, wt long, ver long",
        "vs string, cs string, ver long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    flush_type: str = "__flush__",
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    n_shards: int | None = None,
    tb_col: str | None = "event_id",
) -> DataFrame:
    """Stateful streaming funnel: per-key state is the earliest
    timestamp of each ordered step reached so far (strict order — step
    *i* only counts strictly after the recorded step *i−1* stamp, the
    same semantics as the batch ``funnel_user_steps``).

    Events are processed in event-time order within each micro-batch —
    ties broken by ``tb_col`` when the input carries that column (the
    (ts, event_id) convention), so the fold's iteration order is fully
    deterministic.  The fill decisions themselves compare only
    TIMESTAMP VALUES against strict ``>`` bounds, which is why the
    batch ``funnel_user_steps`` (a min-over-window chain with no sort
    at all) produces identical step stamps under equal-timestamp
    events — pinned by a forced-tie batch==stream test.  A
    ``flush_type`` event emits the key's final row and clears its
    state, so drive replays with a per-key sentinel after the last real
    event (the same close-by-sentinel pattern as the sessionizer's
    driver query).  State is O(keys × steps) int64 scalars.

    In-order contract: the funnel only moves FORWARD — an event in a
    later micro-batch with an earlier timestamp than an already
    recorded step cannot retroactively lower that step (a batch
    recompute would use it).  That is the standard streaming trade;
    feed micro-batches in event-time order (or one availableNow batch)
    for exact batch parity.

    Returns (key, step1_ts … stepN_ts) timestamps, NULL where the
    chain broke — identical schema to the batch fallback.

    SCALE SHAPE — state is SHARDED BY KEY-BUCKET (the
    ``changelog_state_stream`` pattern): ``applyInPandasWithState``
    pays a fixed Python/Arrow/state round-trip per group per
    micro-batch, so grouping by raw key is O(distinct keys) overhead
    per batch.  The stage groups by ``pmod(xxhash64(key), n_shards)``
    and keeps each shard's funnels in one pickled BINARY map
    ``key -> [step stamps]``; flushed keys are deleted from the map
    and the shard's state is dropped once empty.  Default ``n_shards``
    is derived from the cluster at call time (``derive_shards``, floor
    1024).  (The sessionizer
    deliberately does NOT shard: its per-key EVENT-TIME TIMEOUT is the
    session-close trigger and is only available per group; session
    state is transient — live sessions, not all keys ever seen — so
    its group count is bounded by concurrent activity, not corpus
    size.)
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    if flush_type in steps:
        raise ValueError("flush_type must not be one of the funnel steps")
    if not events.isStreaming:
        from emiproc_spark.operators.behavior import funnel_user_steps

        return funnel_user_steps(
            events.where(F.col(type_col) != flush_type),
            steps, key_col, ts_col, type_col, tb_col=tb_col,
        )

    import pickle

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if n_shards is None:
        n_shards = derive_shards(events, 1024)
    # (ts, event_id) tiebreak when the input carries tb_col — the fold
    # outcome is tie-independent (strict > on values), the sort just
    # pins the iteration order
    sort_cols = [ts_col] + (
        [tb_col] if tb_col is not None and tb_col in events.columns else []
    )
    n = len(steps)
    key_type = dict(events.dtypes)[key_col]
    out_schema = f"{key_col} {key_type}, " + ", ".join(
        f"step{i + 1}_ts timestamp" for i in range(n)
    )

    def fn(key, pdfs, state):
        # shard map: key -> list of n step stamps (µs; -1 = not reached)
        if state.exists:
            (blob,) = state.get
            m = pickle.loads(bytes(blob))
        else:
            m = {}
        out_keys: list = []
        out_steps: list[list] = [[] for _ in range(n)]
        rows = pd.concat(list(pdfs)).sort_values(sort_cols, kind="mergesort")
        # dropna=False: a NULL key formed its own group under the old
        # per-key grouping (Spark groupBy keeps null keys) — pandas
        # would silently drop the NaN group otherwise
        for k, grp in rows.groupby(key_col, sort=False, dropna=False):
            if pd.isna(k):
                k = None
            s = list(m.get(k, (-1,) * n))
            flush = False
            for ts, et in zip(grp[ts_col], grp[type_col]):
                if et == flush_type:
                    flush = True
                    continue
                tus = int(pd.Timestamp(ts).value // 1000)
                for i, step in enumerate(steps):
                    if et != step:
                        continue
                    if s[i] < 0 and (
                        i == 0 or (s[i - 1] >= 0 and tus > s[i - 1])
                    ):
                        s[i] = tus
                        break  # an event fills at most one step
                        # (strict > means it can never also satisfy
                        # the next one)
                    # already-filled occurrence: keep scanning — a
                    # REPEATED step name (e.g. a second "view" stage)
                    # must be able to claim this event, matching the
                    # batch window chain
            if flush:
                m.pop(k, None)
                out_keys.append(k)
                for i in range(n):
                    out_steps[i].append(
                        pd.Timestamp(s[i], unit="us") if s[i] >= 0 else pd.NaT
                    )
            else:
                m[k] = tuple(s)
        if m:
            state.update((pickle.dumps(m, protocol=5),))
        elif state.exists:
            state.remove()
        if out_keys:
            yield pd.DataFrame(
                {
                    key_col: pd.array(out_keys, dtype=object),
                    **{
                        f"step{i + 1}_ts": out_steps[i]
                        for i in range(n)
                    },
                }
            )

    sharded = events.withColumn(
        "__shard", F.pmod(F.xxhash64(key_col), F.lit(n_shards))
    )
    return sharded.groupBy("__shard").applyInPandasWithState(
        fn,
        out_schema,
        "blob binary",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def changelog_state_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "tsn",
    tb_col: str = "event_id",
    value_cols: tuple[str, str] = ("event_type", "value"),
    op_col: str = "op",
    delete_op: str = "delete",
    n_buckets: int | None = None,
) -> DataFrame:
    """Streaming MERGE state: latest-wins upsert/delete per key over an
    unbounded CDC feed — the streaming half of
    ``operators.history.apply_changelog``.

    State per key is ONE entry: the (ts, tiebreak)-maximal change seen
    so far, including delete markers (a later upsert revives the key).
    Because the fold is a max, the result is ARRIVAL-ORDER INDEPENDENT
    — micro-batches may deliver changes out of event-time order and the
    final state still equals the batch operator's answer over the same
    feed.  Each batch re-emits a key's current state stamped with a
    per-key monotonically increasing ``ver`` (update mode); readers
    take the latest ``ver`` per key and drop rows whose ``op`` is the
    delete marker.  State is O(keys), independent of stream length.

    SCALE SHAPE — state is SHARDED BY KEY-BUCKET, not by key.
    ``applyInPandasWithState`` pays a fixed Python-side cost per GROUP
    per micro-batch (one function invocation, one Arrow batch, one
    state get/update round-trip through the JVM protocol); grouped by
    raw key that cost is O(distinct keys in batch) and measured
    ~650 rows/s/core at 250k keys (PLANS round-7 streaming ledger).
    Grouping by ``pmod(xxhash64(k), n_buckets)`` caps the per-batch
    invocation count at ``n_buckets``; inside a bucket the batch's
    rows fold vectorized (one pandas sort + drop_duplicates for the
    per-key max, then dict merges against the bucket's packed map).
    The bucket map is pickled into a single BINARY state column —
    unpickle/merge/repickle per touched bucket per batch, ~1000
    dict entries per bucket at the default sizing.  Size
    ``n_buckets`` ≈ max(cluster cores, total_keys / 1000): buckets
    must outnumber cores for parallelism, and ~1k entries keeps the
    blob round-trip around 60 KiB.  The fold result is identical to
    the per-key grouping for every ``n_buckets`` ≥ 1.  Default: derived
    from the cluster at call time (``derive_shards``, floor 1024).

    ``value_cols`` is (string_col, double_col) — the packed state
    schema is fixed; generalize by packing more columns into the
    per-key tuple if needed.

    NULL ``ts_col``/``tb_col`` entries rank below every concrete value
    (the batch operator's ``DESC NULLS LAST``): a NULL-stamped change
    loses to any real one and wins only for a key that never received
    a stamped change.  Keys of any orderable type pass through (the
    output ``k`` column carries the input type); a batch input takes
    the latest-wins window fallback, same output schema with ``ver=1``.
    """
    import pickle

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if n_buckets is None:
        n_buckets = derive_shards(stream, 1024)
    scol, dcol = value_cols
    keyed = stream.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("tsn"),
        F.col(tb_col).alias("tb"),
        F.col(scol).alias("sv"),
        F.col(dcol).cast("double").alias("dv"),
        F.col(op_col).alias("op"),
        F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).alias("bucket"),
    )
    key_type = dict(keyed.dtypes)["k"]

    if not stream.isStreaming:
        # batch fallback (the module contract): one latest-wins window,
        # identical output schema — every key emitted once at ver=1,
        # exactly what one availableNow micro-batch would produce
        from pyspark.sql import Window

        w = Window.partitionBy("k").orderBy(
            F.col("tsn").desc_nulls_last(), F.col("tb").desc_nulls_last()
        )
        return (
            keyed.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("k", "sv", "dv", "op", F.lit(1).cast("long").alias("ver"))
        )

    _NULL_RANK = -(2**63)  # NULLS-LAST sentinel: loses to any real stamp

    def fn(key, pdfs, state):
        # bucket map: k -> (tsn, tb, sv, dv, op, ver)
        if state.exists:
            (blob,) = state.get
            m = pickle.loads(bytes(blob))
        else:
            m = {}
        touched: set = set()
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # vectorized per-key max over the batch slice: stable sort
            # then keep-last — one pandas pass instead of a Python loop
            # over every row.  na_position='first' so a NULL-stamped
            # change loses the keep-last pick to any concrete stamp
            # (the batch DESC NULLS LAST)
            top = pdf.sort_values(
                ["tsn", "tb"], na_position="first"
            ).drop_duplicates("k", keep="last")
            for r in top.itertuples(index=False):
                # a NULL key formed its own group under the old per-key
                # grouping (Spark groupBy keeps null keys, matching the
                # batch operator's PARTITION BY) — keep that identity
                # as a None map entry instead of crashing on int(NaN);
                # non-null keys keep their input type (numpy scalars
                # unboxed so the pickled map stays plain-Python)
                if pd.isna(r.k):
                    k = None
                else:
                    k = r.k.item() if hasattr(r.k, "item") else r.k
                tsn = _NULL_RANK if pd.isna(r.tsn) else int(r.tsn)
                tb = _NULL_RANK if pd.isna(r.tb) else int(r.tb)
                cur = m.get(k)
                if cur is None or (tsn, tb) > (cur[0], cur[1]):
                    # a NULL change value must stay NULL — float()
                    # would turn it into NaN, diverging from
                    # apply_changelog's batch semantics (r6 advisor)
                    dv = None if pd.isna(r.dv) else float(r.dv)
                    m[k] = (tsn, tb, r.sv, dv, r.op,
                            0 if cur is None else cur[5])
                touched.add(k)
        out_k: list[int] = []
        out_sv: list = []
        out_dv: list = []
        out_op: list = []
        out_ver: list[int] = []
        for k in touched:
            tsn, tb, sv, dv, op, ver = m[k]
            ver += 1
            m[k] = (tsn, tb, sv, dv, op, ver)
            out_k.append(k)
            out_sv.append(sv)
            out_dv.append(dv)
            out_op.append(op)
            out_ver.append(ver)
        state.update((pickle.dumps(m, protocol=5),))
        yield pd.DataFrame(
            {
                # object dtype: k may hold a None entry (NULL-key group)
                "k": pd.array(out_k, dtype=object),
                "sv": pd.array(out_sv, dtype=object),
                "dv": pd.array(out_dv, dtype=object),
                "op": pd.array(out_op, dtype=object),
                "ver": pd.array(out_ver, dtype="int64"),
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        fn,
        f"k {key_type}, sv string, dv double, op string, ver long",
        "blob binary",
        "update",
        GroupStateTimeout.NoTimeout,
    )
