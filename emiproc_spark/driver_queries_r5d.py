"""Round-5d driver queries: changelog/state reconstruction, data-layout
clustering, skew-safe joins and a second columnar store format.

- ``scd2_history``: CDC changelog → type-2 dimension history
  (operators/history.py scd2_compact) — per-key state-change collapse
  with [valid_from, valid_to) validity, one exchange for the whole
  window chain.
- ``resample_locf``: irregular per-user series regularized onto an
  hourly lattice with last-observation-carried-forward across gaps —
  the events table is touched once (partial-aggregable max_by), only
  the bounded lattice is generated.
- ``zorder_layout``: Morton-key clustering made measurable — per
  curve-prefix bounding boxes over a 128×128 synthetic point set prove
  each prefix is a tight 2-D tile (the file-skipping guarantee);
  operators/layout.py, pure JVM bit arithmetic on both engines.
- ``salted_join``: the static skew-buster — fact side salted
  deterministically, dimension exploded n_salts×, results identical to
  the plain join (the oracle IS the plain join).
- ``orc_partitioned``: the documents table persisted as
  hive-partitioned ORC and read back through partition pruning —
  sink/source breadth beyond parquet, pruning pinned in
  tests/test_plan_shapes.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.operators.layout import zorder_key_sql
from emiproc_spark.qhelpers import sql_sumd, sumd, sql_floor_div
from emiproc_spark.registry import query

# ======================================================================
# scd2_history — changelog → SCD2 versions (operators/history.py)
# ======================================================================


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the events stream as a per-user state changelog
    (state = event_type, ordered by ts with event_id tiebreak) and
    compact it into SCD2 version history."""
    from emiproc_spark.operators.history import scd2_compact

    ev = fx.events(spark, sf_dir).select("user_id", "ts", "event_type", "event_id")
    out = scd2_compact(
        ev, ["user_id"], "ts", ["event_type"], tiebreak=["event_id"]
    )
    return out.withColumn("version", F.col("version").cast("long"))


SQL_SCD2_HISTORY = """
    WITH ev AS (
        SELECT user_id, epoch_ns(ts) AS tsn, event_type, event_id
        FROM events
    ),
    m AS (
        SELECT user_id, tsn, event_type, event_id,
               LAG(event_type) OVER w AS prev,
               ROW_NUMBER() OVER w = 1 AS is_first
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
    ),
    v AS (
        SELECT * FROM m
        WHERE is_first OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id,
           ROW_NUMBER() OVER w2 AS version,
           event_type,
           tsn AS valid_from,
           LEAD(tsn) OVER w2 AS valid_to,
           LEAD(tsn) OVER w2 IS NULL AS is_current
    FROM v
    WINDOW w2 AS (PARTITION BY user_id ORDER BY tsn, event_id)
"""

query(q_scd2_history, SQL_SCD2_HISTORY)


# ======================================================================
# resample_locf — gap-filled hourly lattice (operators/history.py)
# ======================================================================
LOCF_BUCKET_NS = 3_600_000_000_000  # 1 hour
LOCF_MAX_USER = 100


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user resample of the events `value` series with LOCF
    gap fill; value_locf is a SELECTION (no float arithmetic), so the
    doubles compare exactly across engines."""
    from emiproc_spark.operators.history import resample_locf

    ev = (
        fx.events(spark, sf_dir)
        .where(F.col("user_id") < LOCF_MAX_USER)
        .select("user_id", "ts", "value", "event_id")
    )
    return resample_locf(
        ev, ["user_id"], "ts", "value", LOCF_BUCKET_NS, tiebreak=["event_id"]
    )


SQL_RESAMPLE_LOCF = f"""
    WITH ev AS (
        -- NULL values are not observations (the resample_locf r11
        -- contract): they must neither represent a bucket nor extend
        -- a key's lattice bounds
        SELECT user_id, epoch_ns(ts) AS tsn, value, event_id
        FROM events WHERE user_id < {LOCF_MAX_USER} AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, b, value FROM (
            SELECT user_id, {sql_floor_div('tsn', LOCF_BUCKET_NS)} AS b, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, {sql_floor_div('tsn', LOCF_BUCKET_NS)}
                       ORDER BY tsn DESC, event_id DESC) AS rn
            FROM ev) WHERE rn = 1
    ),
    bounds AS (
        SELECT user_id, MIN({sql_floor_div('tsn', LOCF_BUCKET_NS)}) AS b0,
               MAX({sql_floor_div('tsn', LOCF_BUCKET_NS)}) AS b1
        FROM ev GROUP BY user_id
    ),
    lat AS (
        SELECT bounds.user_id, t.b
        FROM bounds, UNNEST(range(b0, b1 + 1)) AS t(b)
    ),
    j AS (
        SELECT lat.user_id, lat.b, obs.value AS v
        FROM lat LEFT JOIN obs
          ON obs.user_id = lat.user_id AND obs.b = lat.b
    )
    SELECT user_id,
           b * {LOCF_BUCKET_NS} AS bucket_start,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS value_locf,
           v IS NULL AS is_gap
    FROM j
"""

query(q_resample_locf, SQL_RESAMPLE_LOCF)


# ======================================================================
# zorder_layout — Morton tiles (operators/layout.py)
# ======================================================================
Z_SIDE_BITS = 7  # 128×128 point lattice
Z_PREFIX_SHIFT = 6  # each prefix = an 8×8 tile (2^6 curve positions)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the lineitem (partkey, suppkey) point set and report per
    curve-prefix extents: every prefix must be a tight 8×8 tile, which
    is exactly the min/max file-statistics guarantee a Z-clustered
    write gives the scan pruner at 100 TB."""
    from emiproc_spark.operators.layout import layout_extents, zorder_key

    pts = fx.load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 128).alias("x"),
        (F.col("l_suppkey") % 128).alias("y"),
    )
    keyed = pts.withColumn("zkey", zorder_key("x", "y", Z_SIDE_BITS))
    return layout_extents(keyed, "x", "y", "zkey", Z_PREFIX_SHIFT)


SQL_ZORDER_LAYOUT = f"""
    WITH pts AS (
        SELECT l_partkey % 128 AS x, l_suppkey % 128 AS y FROM lineitem
    ),
    k AS (SELECT x, y, {zorder_key_sql("x", "y", Z_SIDE_BITS)} AS z FROM pts)
    SELECT (z >> {Z_PREFIX_SHIFT}) AS z_prefix,
           COUNT(*) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM k GROUP BY 1
"""

query(q_zorder_layout, SQL_ZORDER_LAYOUT)


# ======================================================================
# salted_join — skew-safe join parity (operators/joins.py)
# ======================================================================
SALT_N = 8


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment revenue through the salted join; the oracle runs
    the PLAIN join — salting must be invisible in the result."""
    from emiproc_spark.operators.joins import salted_join

    orders = fx.load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = fx.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = salted_join(orders, cust, ["o_custkey"], n_salts=SALT_N)
    return j.groupBy("c_mktsegment").agg(
        sumd("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


SQL_SALTED_JOIN = f"""
    SELECT c_mktsegment,
           {sql_sumd("o_totalprice")} AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
"""

query(q_salted_join, SQL_SALTED_JOIN)


# ======================================================================
# orc_partitioned — hive-partitioned ORC round-trip (exports/store.py)
# ======================================================================
ORC_LANGS = ("en", "de", "fr")


def q_orc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → lang-partitioned ORC → pruned read of 3 of 5
    partitions → per-lang rollup.  Integer sums only (n_chars), so the
    round-trip is exact; the oracle reads the source parquet with the
    same predicate."""
    from emiproc_spark.exports.store import read_partitioned, save_partitioned

    # written once per sf_dir: the benchmark times the pruned read,
    # not the sink
    def build(path: str) -> None:
        docs = fx.load(spark, sf_dir, "documents").select(
            "doc_id", "n_chars", "lang"
        )
        save_partitioned(docs, path, ["lang"], fmt="orc")

    path = fx.store("orc_docs", sf_dir, build)
    back = read_partitioned(spark, path, fmt="orc")
    return (
        back.where(F.col("lang").isin(*ORC_LANGS))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_ORC_LANG_LIST = ", ".join(f"'{lang}'" for lang in ORC_LANGS)
SQL_ORC_PARTITIONED = f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ({_ORC_LANG_LIST})
    GROUP BY lang
"""

query(q_orc_partitioned, SQL_ORC_PARTITIONED)
