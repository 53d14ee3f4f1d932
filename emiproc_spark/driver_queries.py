"""Driver-contract queries: Spark implementation + DuckDB oracle pairs.

Every entry exercises an engine operator (SURVEY.md §2) on data derived
deterministically from the driver's parquet tables; the oracle is the
same computation in closed-form ANSI SQL.

Float determinism: aggregation order differs between engines, so sums
route through per-row integer quantization (see ``qhelpers``) — per-row
double arithmetic is bit-identical across engines, int64 addition is
exact, and the final divide back to double matches bit-for-bit.  No
tolerance needed anywhere.

Registration: each query registers itself with one
``registry.query(q_fn, SQL)`` line beside its oracle, in this module
and in every ``driver_queries_*`` module.  This module imports them all
and exposes ``QUERIES``/``ORACLES`` in window order (``_REVERIFY``
first, then oldest evidence), the one import surface for
``__spark_entry__``, ``bench.py`` and ``parity``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import local_rows_df
from emiproc_spark import fixtures as fx
from emiproc_spark import registry
from emiproc_spark.registry import query
from emiproc_spark.operators import basic as ops
from emiproc_spark.operators import regrid as rg
from emiproc_spark.operators import speciation as spn

from emiproc_spark.qhelpers import QSCALE, qd, sql_qd, sql_sumd, sumd  # noqa: F401,E402


# events normalization + time constants live in fixtures (a leaf
# module) so the per-round query modules can import them without a
# circular import through this aggregating module
_events = fx.events


# ======================================================================
# TPC-H-style relational queries (joins / aggs / top-k)
# ======================================================================
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = fx.load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sumd("l_quantity").alias("sum_qty"),
            sumd("l_extendedprice").alias("sum_base_price"),
            sumd(disc_price).alias("sum_disc_price"),
            sumd(charge).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sumd('l_quantity')} AS sum_qty,
           {sql_sumd('l_extendedprice')} AS sum_base_price,
           {sql_sumd('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_sumd('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""

query(q_tpch_q1, SQL_TPCH_Q1)


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join: lineitem⋈supplier⋈nation⋈region with
    broadcast dimension tables."""
    li = fx.load(spark, sf_dir, "lineitem")
    sup = fx.load(spark, sf_dir, "supplier")
    nat = fx.load(spark, sf_dir, "nation")
    reg = fx.load(spark, sf_dir, "region")
    dims = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        # dims carries one row per supplier — SF-scaled, so no forced
        # broadcast (AQE converts at runtime whenever it actually fits)
        li.join(dims, li["l_suppkey"] == dims["s_suppkey"])
        .groupBy("r_name", "n_name")
        .agg(
            sumd(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_REVENUE_BY_NATION = f"""
    SELECT r_name, n_name,
           {sql_sumd('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
"""

query(q_revenue_by_nation, SQL_REVENUE_BY_NATION)


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style top-k: revenue per customer, deterministic order.

    Ranking uses the decimal-exact revenue so both engines pick the same
    top rows; c_custkey breaks ties.
    """
    li = fx.load(spark, sf_dir, "lineitem")
    orders = fx.load(spark, sf_dir, "orders")
    cust = fx.load(spark, sf_dir, "customer")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        # customer is SF-scaled — leave the strategy to AQE
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(sumd(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMERS = f"""
    SELECT c_custkey, c_name,
           {sql_sumd('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
"""

query(q_top_customers, SQL_TOP_CUSTOMERS)


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style semi-join: orders with at least one line item
    shipped after the order date."""
    li = fx.load(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = fx.load(spark, sf_dir, "orders")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_ORDER_PRIORITY = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    GROUP BY o_orderpriority
"""

query(q_order_priority, SQL_ORDER_PRIORITY)


# ======================================================================
# Inventory operators on the derived emissions table
# ======================================================================
def q_total_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    # rollup computes per-(sub,cat) and per-sub totals in one pass
    q = F.floor(F.col("value_kg_y") * F.lit(QSCALE) + F.lit(0.5)).cast("long")
    return (
        e.select("substance", "category", q.alias("v"))
        .rollup("substance", "category")
        .agg((F.sum("v").cast("double") / F.lit(QSCALE)).alias("total_kg_y"))
        .where(F.col("substance").isNotNull())
        .withColumn("category", F.coalesce(F.col("category"), F.lit("__total__")))
    )


SQL_TOTAL_EMISSIONS = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT substance, category, {sql_sumd('value_kg_y')} AS total_kg_y
    FROM e GROUP BY substance, category
    UNION ALL
    SELECT substance, '__total__' AS category, {sql_sumd('value_kg_y')} AS total_kg_y
    FROM e GROUP BY substance
"""

query(q_total_emissions, SQL_TOTAL_EMISSIONS)


def q_group_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    ops.validate_group(fx.CATEGORY_GROUPS)
    # same plan as ops.group_categories (broadcast map join + hash agg)
    # with the decimal-exact sum used across the driver contract
    return (
        e.join(
            F.broadcast(
                local_rows_df(spark, 
                    [(m, g_) for g_, ms in fx.CATEGORY_GROUPS.items() for m in ms],
                    schema="category string, grp string",
                )
            ),
            "category",
        )
        .groupBy("cell_id", F.col("grp").alias("category"), "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )


SQL_GROUP_CATEGORIES = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, {fx.CATEGORY_GROUPS_SQL_CASE} AS category, substance,
           {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""

query(q_group_categories, SQL_GROUP_CATEGORIES)


def q_group_substances(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    mdf = local_rows_df(spark, 
        [(m, g_) for g_, ms in fx.SUBSTANCE_GROUPS.items() for m in ms],
        schema="substance string, grp string",
    )
    return (
        e.join(F.broadcast(mdf), "substance", "left")
        .withColumn("grp", F.coalesce("grp", "substance"))
        .groupBy("cell_id", "category", F.col("grp").alias("substance"))
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )


SQL_GROUP_SUBSTANCES = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, {fx.SUBSTANCE_GROUPS_SQL_CASE} AS substance,
           {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""

query(q_group_substances, SQL_GROUP_SUBSTANCES)


def q_scale_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    factors = local_rows_df(spark, 
        fx.SCALE_FACTORS, schema="category string, substance string, factor double"
    )
    scaled = ops.scale_inventory(e, factors)
    return scaled.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_SCALE_INVENTORY = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, substance,
           {sql_sumd(f'value_kg_y * ({fx.SCALE_SQL_CASE})')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""

query(q_scale_inventory, SQL_SCALE_INVENTORY)


def q_drop_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    kept = ops.drop(e, categories=["R"], substances=["F"], keep_instead_of_drop=True)
    return kept.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_DROP_KEEP = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e WHERE category = 'R' AND substance = 'F'
    GROUP BY 1, 2, 3
"""

query(q_drop_keep, SQL_DROP_KEEP)


def q_add_inventories(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    doubled = ops.scale_inventory(e, 2.0)
    return (
        e.select("cell_id", "category", "substance", "value_kg_y")
        .unionByName(doubled.select("cell_id", "category", "substance", "value_kg_y"))
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )


SQL_ADD_INVENTORIES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    u AS (
        SELECT cell_id, category, substance, value_kg_y FROM e
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y * 2.0 FROM e
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM u GROUP BY 1, 2, 3
"""

query(q_add_inventories, SQL_ADD_INVENTORIES)


def q_speciate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.core.schemas import SPECIATION

    e = fx.emissions(spark, sf_dir)
    spec = local_rows_df(spark, fx.SPECIATION_ROWS, schema=SPECIATION)
    sp = spn.speciate(e, spec)
    return sp.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_SPECIATE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    sp AS ({fx.SPECIATION_SQL.format(emissions=fx.EMISSIONS_SQL)})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM sp GROUP BY 1, 2, 3
"""

query(q_speciate, SQL_SPECIATE)


def q_speciate_nox(spark: SparkSession, sf_dir: str) -> DataFrame:
    # treat substance 'O' as NOx mass: split into NO2 (18 %) and NO
    e = fx.emissions(spark, sf_dir)
    renamed = e.withColumn(
        "substance", F.when(F.col("substance") == "O", "NOx").otherwise(F.col("substance"))
    )
    sp = spn.speciate_nox(renamed, no2_fraction=0.18)
    return sp.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


# the NO ratio must be the *same double constant* the Spark side uses —
# (1-f)*30/46 evaluated in Python — or per-row products differ in the
# last ulp (different association order)
_NO_RATIO = repr((1.0 - 0.18) * spn.MM_NO / spn.MM_NO2)
SQL_SPECIATE_NOX = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    sp AS (
        SELECT cell_id, category, 'NO2' AS substance, value_kg_y * 0.18 AS value_kg_y
        FROM e WHERE substance = 'O'
        UNION ALL
        SELECT cell_id, category, 'NO' AS substance,
               value_kg_y * {_NO_RATIO} AS value_kg_y
        FROM e WHERE substance = 'O'
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y FROM e WHERE substance <> 'O'
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM sp GROUP BY 1, 2, 3
"""

query(q_speciate_nox, SQL_SPECIATE_NOX)


# ======================================================================
# Spatial operators
# ======================================================================
def q_remap_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = rg.weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    return w.select("src_id", "dst_id", "weight")


SQL_REMAP_WEIGHTS = fx.WEIGHTS_SQL

query(q_remap_weights, SQL_REMAP_WEIGHTS)


def q_remap_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    w = rg.weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    remapped = (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"], "inner")
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )
    return remapped


SQL_REMAP_INVENTORY = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), w AS ({fx.WEIGHTS_SQL})
    SELECT w.dst_id AS cell_id, e.category, e.substance,
           {sql_sumd('e.value_kg_y * w.weight')} AS value_kg_y
    FROM e JOIN w ON e.cell_id = w.src_id
    GROUP BY 1, 2, 3
"""

query(q_remap_inventory, SQL_REMAP_INVENTORY)


def q_crop_with_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    cw = rg.crop_weights_rect(fx.fine_grid(spark), *fx.CROP)
    cropped = rg.crop_with_shape(e, cw)
    return cropped.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


_x0, _y0, _x1, _y1 = fx.CROP
SQL_CROP_WITH_SHAPE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), g AS ({fx.FINE_GRID_SQL}),
    cw AS (
        SELECT cell_id,
               GREATEST(0.0, LEAST(xmax, {_x1}) - GREATEST(xmin, {_x0}))
             * GREATEST(0.0, LEAST(ymax, {_y1}) - GREATEST(ymin, {_y0}))
             / ((xmax - xmin) * (ymax - ymin)) AS crop_w
        FROM g
    )
    SELECT e.cell_id, category, substance,
           {sql_sumd('value_kg_y * crop_w')} AS value_kg_y
    FROM e JOIN cw ON e.cell_id = cw.cell_id
    WHERE value_kg_y * crop_w <> 0.0
    GROUP BY 1, 2, 3
"""

query(q_crop_with_shape, SQL_CROP_WITH_SHAPE)


def q_clip_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    clipped = rg.clip_box(e, fx.fine_grid(spark), *fx.CLIP)
    return clipped.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


_cx0, _cy0, _cx1, _cy1 = fx.CLIP
SQL_CLIP_BOX = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), g AS ({fx.FINE_GRID_SQL})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e
    WHERE cell_id IN (
        SELECT cell_id FROM g
        WHERE xmax > {_cx0} AND xmin < {_cx1} AND ymax > {_cy0} AND ymin < {_cy1}
    )
    GROUP BY 1, 2, 3
"""

query(q_clip_box, SQL_CLIP_BOX)


def q_top_emitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cells by total emission (scripts/zh_largest_emitters.py
    analogue) — deterministic via exact sums + cell_id tie-break."""
    e = fx.emissions(spark, sf_dir)
    return (
        e.groupBy("cell_id")
        .agg(sumd("value_kg_y").alias("total_kg_y"))
        .orderBy(F.col("total_kg_y").desc(), F.col("cell_id"))
        .limit(10)
    )


SQL_TOP_EMITTERS = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, {sql_sumd('value_kg_y')} AS total_kg_y
    FROM e GROUP BY cell_id
    ORDER BY total_kg_y DESC, cell_id
    LIMIT 10
"""

query(q_top_emitters, SQL_TOP_EMITTERS)


# ======================================================================
# Events (time-series)
# ======================================================================
NS_PER_DAY = fx.NS_PER_DAY
NS_PER_HOUR = fx.NS_PER_HOUR


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day aggregation.  ts is TIMESTAMP(NANOS) parquet which
    Spark reads via nanosAsLong — bucketing is integer arithmetic on the
    epoch-nanos value, timezone-free by construction."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("epoch_day", (F.col("ts") / F.lit(NS_PER_DAY)).cast("long"))
        .groupBy("epoch_day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            sumd("value").alias("sum_value"),
        )
    )


SQL_EVENTS_DAILY = f"""
    SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_DAY}.0) AS BIGINT) AS epoch_day,
           event_type,
           COUNT(*) AS n_events,
           {sql_sumd('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
"""

query(q_events_daily, SQL_EVENTS_DAILY)


def q_events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile — the engine's cyclic-profile position
    expression (get_index_in_profile semantics,
    reference emiproc/profiles/temporal/operators.py:49-94)."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn(
            "hour_of_day", ((F.col("ts") / F.lit(NS_PER_HOUR)).cast("long") % 24).cast("int")
        )
        .groupBy("hour_of_day")
        .agg(F.count("*").alias("n_events"), sumd("value").alias("sum_value"))
    )


SQL_EVENTS_HOURLY_PROFILE = f"""
    SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) % 24 AS hour_of_day,
           COUNT(*) AS n_events,
           {sql_sumd('value')} AS sum_value
    FROM events
    GROUP BY 1
"""

query(q_events_hourly_profile, SQL_EVENTS_HOURLY_PROFILE)


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
        )
    )


SQL_EVENTS_JSON_PROPS = """
    SELECT event_type,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
"""

query(q_events_json_props, SQL_EVENTS_JSON_PROPS)


# ======================================================================
# Profile algebra + temporal expansion
# ======================================================================
def _daily_ratios(k: int = 0) -> list[float]:
    """Pattern-k daily profile: r[h] = (h+1+k)/(300+24k) — sums to 1
    exactly in rational arithmetic; identical double arithmetic exists
    in closed-form SQL."""
    return [(h + 1 + k) / (300.0 + 24 * k) for h in range(24)]


WEEKLY_RATIOS = [(d + 1) / 28.0 for d in range(7)]
EXPAND_HOURS = 72
YEAR_HOURS = 8784.0  # 2024 is a leap year


def _test_tprofiles(spark: SparkSession) -> DataFrame:
    from emiproc_spark.core.schemas import TPROFILE

    return local_rows_df(spark, 
        [
            (0, "daily", _daily_ratios(0)),
            (1, "daily", [1.0 / 24] * 24),
            (2, "weekly", WEEKLY_RATIOS),
        ],
        schema=TPROFILE,
    )


def q_temporal_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annual → hourly expansion over 72 h: category A follows the daily
    profile, R the weekly profile, N is constant (missing index row →
    sf 1.0).  Exercises temporally_scaled end-to-end."""
    from emiproc_spark.operators.temporal import temporally_scaled

    e = fx.emissions(spark, sf_dir)
    # pre-aggregate to the canonical one-row-per-(cell, cat, sub)
    # inventory before exploding hours: the expansion fans out keys,
    # not raw scan rows (600 × 72 instead of |lineitem| × 72)
    e2 = e.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )
    index = local_rows_df(spark, 
        [("A", "F", 0), ("A", "O", 0), ("R", "F", 2), ("R", "O", 2)],
        schema="category string, substance string, profile_id int",
    )
    out = temporally_scaled(
        e2, index, _test_tprofiles(spark), "2024-01-01 00:00:00", EXPAND_HOURS, int(YEAR_HOURS)
    )
    return out.groupBy("category", "substance", "hour_index").agg(
        sumd("value_kg_h").alias("value_kg_h")
    )


# 2024-01-01 is a Monday → weekday(ts) == (h // 24) % 7 over the window
SQL_TEMPORAL_EXPAND = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    ),
    hrs AS (SELECT h FROM range({EXPAND_HOURS}) t(h)),
    x AS (
        SELECT e.category, e.substance, hrs.h AS hour_index,
               e.value_kg_y / {YEAR_HOURS} * (
                   CASE e.category
                       WHEN 'A' THEN ((hrs.h % 24) + 1) / 300.0 * 24
                       WHEN 'R' THEN (((hrs.h // 24) % 7) + 1) / 28.0 * 7
                       ELSE 1.0
                   END
               ) AS value_kg_h
        FROM e CROSS JOIN hrs
    )
    SELECT category, substance, hour_index, {sql_sumd('value_kg_h')} AS value_kg_h
    FROM x GROUP BY 1, 2, 3
"""

query(q_temporal_expand, SQL_TEMPORAL_EXPAND)


def q_profiles_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emission-weighted profile merge under a category grouping
    (combine_profiles / group_profiles_indexes semantics).  Weights are
    the µ-quantized per-category masses, so both engines blend identical
    doubles; the blended ratio is re-quantized at 1e-9."""
    from emiproc_spark.operators.profiles import combine_profiles

    e = fx.emissions(spark, sf_dir)
    w = e.groupBy("category").agg(sumd("value_kg_y").alias("weight"))
    idx = local_rows_df(spark, 
        [("A", 0), ("N", 1), ("R", 0)], schema="category string, profile_id int"
    )
    grp = local_rows_df(spark, 
        [("A", "grp_an"), ("N", "grp_an"), ("R", "grp_r")],
        schema="category string, grp string",
    )
    iw = idx.join(w, "category").join(F.broadcast(grp), "category")
    out = combine_profiles(iw, _test_tprofiles(spark), ["grp"])
    return out.select(
        "grp", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_PROFILES_COMBINE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    w AS (
        SELECT category, {sql_sumd('value_kg_y')} AS weight
        FROM e GROUP BY category
    ),
    -- profiles: A,R → pattern-0 daily; N → uniform daily
    blend AS (
        SELECT 'grp_an' AS grp, 'daily' AS ptype, p.pos,
               ((wa.weight * ((p.pos + 1) / 300.0)) + (wn.weight * (1.0 / 24)))
               / (wa.weight + wn.weight) AS ratio
        FROM range(24) p(pos),
             (SELECT weight FROM w WHERE category = 'A') wa,
             (SELECT weight FROM w WHERE category = 'N') wn
        UNION ALL
        SELECT 'grp_r' AS grp, 'daily' AS ptype, p.pos,
               (p.pos + 1) / 300.0 AS ratio
        FROM range(24) p(pos)
    ),
    -- plain SUM: the ±ulp fold-order wobble is collapsed by the 1e-9
    -- output quantizer (sql_sumd would quantize at 1e-6 and skew ratios)
    tot AS (
        SELECT grp, ptype, SUM(ratio) AS total FROM blend GROUP BY grp, ptype
    )
    SELECT b.grp, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.ratio / t.total')} AS ratio
    FROM blend b JOIN tot t ON b.grp = t.grp AND b.ptype = t.ptype
"""

query(q_profiles_combine, SQL_PROFILES_COMBINE)


def q_country_to_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country-keyed profiles → cell-keyed via country fractions
    (country_to_cells fraction method).  cell_country is closed-form:
    cell c belongs 60 % to country C(c%3), 40 % to C((c+1)%3)."""
    from emiproc_spark.operators.profiles import country_to_cells

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
    out = country_to_cells(cidx, store, cc)
    return out.select(
        "cell_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_COUNTRY_TO_CELLS = f"""
    WITH cells AS (SELECT c AS cell_id FROM range({fx.N_CELLS}) t(c)),
    blend AS (
        SELECT cell_id, 'daily' AS ptype, p.pos,
               0.6 * ((p.pos + 1 + (cell_id % 3)) / (300.0 + 24 * (cell_id % 3)))
             + 0.4 * ((p.pos + 1 + ((cell_id + 1) % 3)) / (300.0 + 24 * ((cell_id + 1) % 3)))
               AS wr
        FROM cells CROSS JOIN range(24) p(pos)
    ),
    tot AS (SELECT cell_id, ptype, SUM(wr) AS total FROM blend GROUP BY 1, 2)
    SELECT b.cell_id, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.wr / t.total')} AS ratio
    FROM blend b JOIN tot t USING (cell_id, ptype)
"""

query(q_country_to_cells, SQL_COUNTRY_TO_CELLS)


def q_profiles_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding dedup of per-cell ratio vectors
    (ratios_dataarray_to_profiles semantics): 100 cells carry 5 distinct
    daily patterns → 5 stored profiles; ids are lexicographic rank
    (pattern k has increasing first element, so id == k)."""
    from emiproc_spark.operators.profiles import dedup_profiles

    k = F.col("id") % 5
    per_cell = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"),
        F.lit("daily").alias("ptype"),
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda h: (h + 1 + k) / (F.lit(300.0) + 24 * k),
        ).alias("ratios"),
    )
    store, index = dedup_profiles(per_cell)
    counts = index.groupBy("profile_id").agg(F.count("*").alias("n_cells"))
    return (
        store.join(counts, "profile_id")
        .select("profile_id", "n_cells", F.posexplode("ratios").alias("pos", "ratio"))
    )


SQL_PROFILES_DEDUP = f"""
    SELECT k AS profile_id,
           CAST({fx.N_CELLS} / 5 AS BIGINT) AS n_cells,
           CAST(p.pos AS INT) AS pos,
           (p.pos + 1 + k) / (300.0 + 24 * k) AS ratio
    FROM range(5) t(k) CROSS JOIN range(24) p(pos)
"""

query(q_profiles_dedup, SQL_PROFILES_DEDUP)


def q_vertical_rebin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative vertical re-binning onto [100, 200, 400] m levels
    (resample_vertical_profiles)."""
    from emiproc_spark.operators.vertical import resample_vertical_profiles

    vp = local_rows_df(spark, 
        [
            (0, [50.0, 100.0, 200.0], [0.5, 0.3, 0.2]),
            (1, [100.0, 300.0], [0.6, 0.4]),
        ],
        schema="profile_id int, heights_top_m array<double>, ratios array<double>",
    )
    out = resample_vertical_profiles(vp, [100.0, 200.0, 400.0])
    return out.select("profile_id", F.posexplode("ratios").alias("layer", "ratio"))


SQL_VERTICAL_REBIN = """
    WITH src(profile_id, lo, hi, ratio) AS (
        VALUES (0, 0.0, 50.0, 0.5), (0, 50.0, 100.0, 0.3), (0, 100.0, 200.0, 0.2),
               (1, 0.0, 100.0, 0.6), (1, 100.0, 300.0, 0.4)
    ),
    tgt(layer, t_lo, t_hi) AS (
        VALUES (0, 0.0, 100.0), (1, 100.0, 200.0), (2, 200.0, 400.0)
    ),
    contrib AS (
        SELECT s.profile_id, t.layer,
               s.ratio * GREATEST(0.0, LEAST(s.hi, t.t_hi) - GREATEST(s.lo, t.t_lo))
               / (s.hi - s.lo) AS part
        FROM src s CROSS JOIN tgt t
        WHERE LEAST(s.hi, t.t_hi) - GREATEST(s.lo, t.t_lo) > 0
    )
    SELECT p.profile_id, t.layer, COALESCE(SUM(c.part), 0.0) AS ratio
    FROM (SELECT DISTINCT profile_id FROM src) p
    CROSS JOIN tgt t
    LEFT JOIN contrib c ON c.profile_id = p.profile_id AND c.layer = t.layer
    GROUP BY p.profile_id, t.layer
"""

query(q_vertical_rebin, SQL_VERTICAL_REBIN)


def q_hdd_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heating-degree-day factors from the events stream used as a
    temperature series (create_HDD_scaling_factor semantics):
    temp = value/10, HDD = (20 − T̄)·[T̄ < 12], normalized by the
    period-mean HDD — all arithmetic deterministic via sumd."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.withColumn("epoch_day", (F.col("ts") / F.lit(NS_PER_DAY)).cast("long"))
        .groupBy("epoch_day")
        .agg(sumd("value").alias("sv"), F.count("*").alias("n"))
        .withColumn("temp_c", F.col("sv") / F.col("n") / F.lit(10.0))
        .withColumn(
            "hdd",
            F.when(F.col("temp_c") < 12.0, F.lit(20.0) - F.col("temp_c")).otherwise(
                F.lit(0.0)
            ),
        )
    )
    mean = daily.agg(
        (sumd("hdd") / F.count("*")).alias("mean_hdd")
    )
    return (
        daily.crossJoin(F.broadcast(mean))
        .withColumn(
            "factor",
            F.when(F.col("mean_hdd") == 0.0, F.lit(1.0)).otherwise(
                F.col("hdd") / F.col("mean_hdd")
            ),
        )
        .select("epoch_day", "hdd", "factor")
    )


SQL_HDD_FACTORS = f"""
    WITH daily AS (
        SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_DAY}.0) AS BIGINT) AS epoch_day,
               {sql_sumd('value')} AS sv, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    h AS (
        SELECT epoch_day,
               CASE WHEN sv / n / 10.0 < 12.0 THEN 20.0 - sv / n / 10.0 ELSE 0.0 END AS hdd
        FROM daily
    ),
    m AS (SELECT {sql_sumd('hdd')} / COUNT(*) AS mean_hdd FROM h)
    SELECT epoch_day, hdd,
           CASE WHEN m.mean_hdd = 0.0 THEN 1.0 ELSE hdd / m.mean_hdd END AS factor
    FROM h CROSS JOIN m
"""

query(q_hdd_factors, SQL_HDD_FACTORS)


# ======================================================================
# Relational breadth: windows, grouping sets, set ops (SURVEY §2.8)
# ======================================================================
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer order total — a window frame with a fully
    deterministic ordering, so the sequential fold is bit-identical in
    both engines (no quantization needed)."""
    from pyspark.sql import Window

    orders = fx.load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # quantize inside the frame: engines associate window sums
    # differently (running fold vs segment tree), int64 sums don't care
    qv = F.floor(F.col("o_totalprice") * F.lit(QSCALE) + F.lit(0.5)).cast("long")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(qv).over(w).cast("double") / F.lit(QSCALE)).alias("running_total"),
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("order_seq"),
    )


SQL_WINDOW_RUNNING_TOTAL = """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0 AS running_total,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
"""

query(q_window_running_total, SQL_WINDOW_RUNNING_TOTAL)


def q_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-rank suppliers by revenue within nation — ranking window
    over an exact (µ-quantized) aggregate."""
    from pyspark.sql import Window

    li = fx.load(spark, sf_dir, "lineitem")
    sup = fx.load(spark, sf_dir, "supplier")
    rev = (
        # supplier is SF-scaled — leave the strategy to AQE
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(sumd("l_extendedprice").alias("revenue"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(F.col("revenue").desc(), "s_suppkey")
    return rev.withColumn("rnk", F.dense_rank().over(w))


SQL_SUPPLIER_RANK = f"""
    WITH rev AS (
        SELECT s_nationkey, s_suppkey, {sql_sumd('l_extendedprice')} AS revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    )
    SELECT s_nationkey, s_suppkey, revenue,
           DENSE_RANK() OVER (PARTITION BY s_nationkey
                              ORDER BY revenue DESC, s_suppkey) AS rnk
    FROM rev
"""

query(q_supplier_rank, SQL_SUPPLIER_RANK)


def q_cube_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (category, substance) — full grouping-sets lattice with
    null markers replaced so the hash compare is unambiguous."""
    e = fx.emissions(spark, sf_dir)
    q = F.floor(F.col("value_kg_y") * F.lit(QSCALE) + F.lit(0.5)).cast("long")
    return (
        e.select("category", "substance", q.alias("v"))
        .cube("category", "substance")
        .agg(
            (F.sum("v").cast("double") / F.lit(QSCALE)).alias("total_kg_y"),
            F.count("*").alias("n_rows"),
        )
        .withColumn("category", F.coalesce("category", F.lit("__all__")))
        .withColumn("substance", F.coalesce("substance", F.lit("__all__")))
    )


SQL_CUBE_EMISSIONS = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT COALESCE(category, '__all__') AS category,
           COALESCE(substance, '__all__') AS substance,
           {sql_sumd('value_kg_y')} AS total_kg_y,
           COUNT(*) AS n_rows
    FROM e GROUP BY CUBE (category, substance)
"""

query(q_cube_emissions, SQL_CUBE_EMISSIONS)


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT/INTERSECT: customers with orders but none in 'F' status,
    and customers in both 'O' and 'F' — counted per branch."""
    orders = fx.load(spark, sf_dir, "orders")
    all_c = orders.select("o_custkey")
    f_c = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o_c = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    no_f = all_c.subtract(f_c)  # EXCEPT (distinct) semantics
    both = o_c.intersect(f_c)
    return local_rows_df(spark, 
        [("except_f",), ("intersect_of",)], schema="branch string"
    ).join(
        no_f.agg(F.count("*").alias("n")).withColumn("branch", F.lit("except_f"))
        .unionByName(both.agg(F.count("*").alias("n")).withColumn("branch", F.lit("intersect_of"))),
        "branch",
    )


SQL_SET_OPS = """
    WITH no_f AS (
        SELECT DISTINCT o_custkey FROM (
            SELECT o_custkey FROM orders
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        )
    ),
    both_st AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 'except_f' AS branch, COUNT(*) AS n FROM no_f
    UNION ALL
    SELECT 'intersect_of' AS branch, COUNT(*) AS n FROM both_st
"""

query(q_set_ops, SQL_SET_OPS)


def q_composite_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite profile (daily × weekly) scaling factors over one week
    — the product-of-cycles semantics (composite_scaling_factor).
    exp(Σlog) vs direct product differ at libm-ulp level only, collapsed
    by the 1e-9 quantizer."""
    from emiproc_spark.operators.temporal import scaling_factor_at, time_scaffold

    subs = local_rows_df(spark, 
        [
            (0, "daily", _daily_ratios(0)),
            (0, "weekly", WEEKLY_RATIOS),
        ],
        schema="comp_id int, ptype string, ratios array<double>",
    )
    hours = time_scaffold(subs, "2024-01-01 00:00:00", 168)
    per_type = hours.crossJoin(F.broadcast(subs)).withColumn(
        "sf1", scaling_factor_at(F.col("ts"), F.col("ptype"), F.col("ratios"))
    )
    return (
        per_type.groupBy("comp_id", "hour_index")
        .agg(F.exp(F.sum(F.log("sf1"))).alias("sf"))
        .select("comp_id", "hour_index", qd("sf").alias("sf"))
    )


SQL_COMPOSITE_SCALING = f"""
    SELECT 0 AS comp_id, h AS hour_index,
           {sql_qd('EXP(LN(((h % 24) + 1) / 300.0 * 24) + LN((((h // 24) % 7) + 1) / 28.0 * 7))')} AS sf
    FROM range(168) t(h)
"""

query(q_composite_scaling, SQL_COMPOSITE_SCALING)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (30-minute
    inactivity gap): lag + cumulative-sum session ids, then per-user
    session stats — integer arithmetic throughout, fully deterministic."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    with_new = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts") - F.lag("ts").over(w)) > gap_ns, 1
        ).otherwise(F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)),
    )
    with_sid = with_new.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_sid.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


SQL_SESSIONIZE = f"""
    WITH w AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1
                    WHEN epoch_ns(ts) - epoch_ns(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                         > {30 * 60 * 1_000_000_000} THEN 1
                    ELSE 0 END AS new_session
        FROM events
    ),
    s AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM w
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id
"""

query(q_sessionize, SQL_SESSIONIZE)


def q_interpolate_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly profile → hour-of-year with midpoint linear interpolation
    (interpolate_profiles semantics); first 1000 hours."""
    from emiproc_spark.operators.interpolation import profile_to_hour_of_year

    prof = local_rows_df(spark, 
        [(0, [(m + 1) / 78.0 for m in range(12)])],
        schema="profile_id int, ratios array<double>",
    )
    out = profile_to_hour_of_year(prof, "monthly", 8760, interpolate=True)
    return out.where(F.col("hour") < 1000).select(
        "profile_id", "hour", qd("sf").alias("sf")
    )


SQL_INTERPOLATE_PROFILES = f"""
    WITH hrs AS (SELECT h FROM range(1000) t(h)),
    calc AS (
        SELECT h,
               ((h % 8760) + 0.5) / (8760.0 / 12) - 0.5 AS frac
        FROM hrs
    ),
    pos AS (
        SELECT h, frac, FLOOR(frac) AS k0, frac - FLOOR(frac) AS t,
               CAST(((CAST(FLOOR(frac) AS BIGINT) % 12) + 12) % 12 AS INT) AS lo
        FROM calc
    )
    SELECT 0 AS profile_id, h AS hour,
           {sql_qd('((lo + 1) / 78.0 * (1.0 - t) + (((lo + 1) % 12) + 1) / 78.0 * t) * 12')} AS sf
    FROM pos
"""

query(q_interpolate_profiles, SQL_INTERPOLATE_PROFILES)


# ======================================================================
# Masks, inside/outside merge, VPRM, human respiration
# ======================================================================
# Axis-aligned "country" rectangles over the 10×10 grid; quarter-aligned
# bounds keep every intersection area binary-exact, and no cell ends up
# with an accidental near-tie between regions (the 4.25 split gives
# 0.25/0.75 in the straddling column).  Cells with ymin ≥ 8 are ocean.
REGIONS = [
    ("C0", 0.0, 0.0, 4.25, 8.0),
    ("C1", 4.25, 0.0, 10.0, 8.0),
]


def _region_table(spark: SparkSession):
    from emiproc_spark.functions.geometry import wkb_box

    rows = [
        (i, name, wkb_box(x0, y0, x1, y1), x0, y0, x1, y1, (x1 - x0) * (y1 - y0))
        for i, (name, x0, y0, x1, y1) in enumerate(REGIONS)
    ]
    return local_rows_df(spark, 
        rows,
        schema=(
            "region_key long, country string, geometry binary, "
            "xmin double, ymin double, xmax double, ymax double, area double"
        ),
    )


REGION_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"('{n}', {x0}, {y0}, {x1}, {y1})" for n, x0, y0, x1, y1 in REGIONS
) + ") AS r(country, rxmin, rymin, rxmax, rymax)"


def q_country_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell country fractions via the generic polygon spatial-join
    kernel (get_country_mask fraction method) — the Spark side runs the
    real WKB clip in mapInPandas; the oracle is interval arithmetic."""
    from emiproc_spark.operators.masks import cell_region_fractions

    fr = cell_region_fractions(_region_table(spark), fx.fine_grid(spark), tile=fx.COARSE_D)
    return fr.select("cell_id", "country", qd("fraction").alias("fraction"))


SQL_COUNTRY_FRACTIONS = f"""
    WITH g AS ({fx.FINE_GRID_SQL}), r AS ({REGION_SQL})
    SELECT g.cell_id, r.country,
           {sql_qd('''GREATEST(0.0, LEAST(g.xmax, r.rxmax) - GREATEST(g.xmin, r.rxmin))
         * GREATEST(0.0, LEAST(g.ymax, r.rymax) - GREATEST(g.ymin, r.rymin))
         / ((g.xmax - g.xmin) * (g.ymax - g.ymin))''')} AS fraction
    FROM g CROSS JOIN r
    WHERE LEAST(g.xmax, r.rxmax) > GREATEST(g.xmin, r.rxmin)
      AND LEAST(g.ymax, r.rymax) > GREATEST(g.ymin, r.rymin)
"""

query(q_country_fractions, SQL_COUNTRY_FRACTIONS)


def q_country_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority country per cell (argmax fraction, -99 for ocean cells)."""
    from emiproc_spark.operators.masks import cell_region_fractions, majority_region

    fr = cell_region_fractions(_region_table(spark), fx.fine_grid(spark), tile=fx.COARSE_D)
    return majority_region(fr.withColumn("fraction", qd("fraction")), fx.fine_grid(spark))


SQL_COUNTRY_MAJORITY = f"""
    WITH g AS ({fx.FINE_GRID_SQL}), r AS ({REGION_SQL}),
    fr AS ({SQL_COUNTRY_FRACTIONS}),
    ranked AS (
        SELECT cell_id, country,
               ROW_NUMBER() OVER (PARTITION BY cell_id
                                  ORDER BY fraction DESC, country DESC) AS rn
        FROM fr
    )
    SELECT g.cell_id, COALESCE(ranked.country, '-99') AS country
    FROM g LEFT JOIN ranked ON g.cell_id = ranked.cell_id AND ranked.rn = 1
"""

query(q_country_majority, SQL_COUNTRY_MAJORITY)


def q_combine_inventories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inside/outside merge around the crop shape: crop(inside) +
    crop(outside inverted) — the reference's declared-but-unimplemented
    combine_inventories, realized by composition."""
    from emiproc_spark.operators.masks import combine_inventories

    e = fx.emissions(spark, sf_dir)
    inside = e
    outside = ops.scale_inventory(e, 3.0)
    cw = rg.crop_weights_rect(fx.fine_grid(spark), *fx.CROP)
    out = combine_inventories(inside, outside, cw)
    return out.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_COMBINE_INVENTORIES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), g AS ({fx.FINE_GRID_SQL}),
    cw AS (
        SELECT cell_id,
               GREATEST(0.0, LEAST(xmax, {_x1}) - GREATEST(xmin, {_x0}))
             * GREATEST(0.0, LEAST(ymax, {_y1}) - GREATEST(ymin, {_y0}))
             / ((xmax - xmin) * (ymax - ymin)) AS crop_w
        FROM g
    ),
    u AS (
        SELECT e.cell_id, category, substance, value_kg_y * crop_w AS value_kg_y
        FROM e JOIN cw ON e.cell_id = cw.cell_id
        WHERE value_kg_y * crop_w <> 0.0
        UNION ALL
        SELECT e.cell_id, category, substance,
               (value_kg_y * 3.0) * (1.0 - crop_w) AS value_kg_y
        FROM e JOIN cw ON e.cell_id = cw.cell_id
        WHERE (value_kg_y * 3.0) * (1.0 - crop_w) <> 0.0
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM u GROUP BY 1, 2, 3
"""

query(q_combine_inventories, SQL_COMBINE_INVENTORIES)


# VPRM constants shared with the oracle
VPRM_LAMBDA = 0.2
VPRM_PAR0 = 570.0
VPRM_ALPHA = 0.12
VPRM_BETA = 0.5


def q_vprm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPRM GEE + respiration over a met timeseries derived from events
    (temp = value/10, rad = value, EVI/LSWI closed-form from value) —
    pure column arithmetic, bit-identical per row in both engines."""
    from emiproc_spark.operators.vprm import vprm_gee, vprm_respiration

    ev = _events(spark, sf_dir)
    ts = ev.select(
        "event_id",
        (F.col("value") / 10.0).alias("temperature_c"),
        F.col("value").alias("rad_w_m2"),
        ((F.col("value") % 50.0) / 100.0).alias("evi"),
        ((F.col("value") % 30.0) / 100.0 - 0.1).alias("lswi"),
    )
    out = vprm_gee(ts, VPRM_LAMBDA, VPRM_PAR0)
    out = vprm_respiration(out, VPRM_ALPHA, VPRM_BETA)
    return out.select("event_id", qd("gee").alias("gee"), qd("respiration").alias("respiration"))


SQL_VPRM = f"""
    WITH ts AS (
        SELECT event_id,
               value / 10.0 AS t,
               value AS rad,
               (value % 50.0) / 100.0 AS evi,
               (value % 30.0) / 100.0 - 0.1 AS lswi
        FROM events
    ),
    mx AS (SELECT MAX(lswi) AS lswi_max FROM ts),
    calc AS (
        SELECT event_id,
               CASE WHEN t > 0.0 AND t < 45.0
                         AND ((t - 0.0) * (t - 45.0) - (t - 20.0) * (t - 20.0)) <> 0.0
                    THEN ((t - 0.0) * (t - 45.0))
                         / ((t - 0.0) * (t - 45.0) - (t - 20.0) * (t - 20.0))
                    ELSE 0.0 END AS tscale,
               (1.0 + lswi) / (1.0 + mx.lswi_max) AS wscale,
               (1.0 + lswi) / 2.0 AS pscale,
               evi,
               rad / {repr(0.505)} AS par,
               t
        FROM ts CROSS JOIN mx
    )
    SELECT event_id,
           {sql_qd(f'{VPRM_LAMBDA} * tscale * wscale * pscale * evi * par / (1.0 + par / {VPRM_PAR0})')} AS gee,
           {sql_qd(f'{VPRM_ALPHA} * GREATEST(t, 0.0) + {VPRM_BETA}')} AS respiration
    FROM calc
"""

query(q_vprm, SQL_VPRM)


RESP_FACTOR = 0.024  # kg CO2 / person / day scale


def q_people_to_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-respiration emissions from a population table (customers:
    n_people = c_custkey % 1000), aggregated per market segment."""
    from emiproc_spark.operators.vprm import people_to_emissions

    cust = fx.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", (F.col("c_custkey") % 1000).alias("n_people")
    )
    e = people_to_emissions(cust, RESP_FACTOR, time_ratio=0.8)
    return e.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"), sumd("value_kg_y").alias("value_kg_y")
    )


SQL_PEOPLE_TO_EMISSIONS = f"""
    SELECT c_mktsegment, COUNT(*) AS n_rows,
           {sql_sumd(f'{RESP_FACTOR} * (c_custkey % 1000) * 0.8 * 365.25')} AS value_kg_y
    FROM customer GROUP BY 1
"""

query(q_people_to_emissions, SQL_PEOPLE_TO_EMISSIONS)


# ======================================================================
# registry: each driver_queries* module registers its queries with
# registry.query() beside their oracles; importing the modules fills
# the registrar, and QUERIES/ORACLES below put it in window order
# ======================================================================
from emiproc_spark import (  # noqa: E402,F401
    driver_queries_text,
    driver_queries_io,
    driver_queries_r2,
    driver_queries_curate,
    driver_queries_r3,
    driver_queries_r3b,
    driver_queries_r3c,
    driver_queries_r4,
    driver_queries_r5,
    driver_queries_r5b,
    driver_queries_r5c,
    driver_queries_r5d,
    driver_queries_r5e,
    driver_queries_r5f,
    driver_queries_r5g,
    driver_queries_r5h,
    driver_queries_r6,
    driver_queries_r7,
    driver_queries_r8,
    driver_queries_r10,
    driver_queries_r11,
)

# Front-window rotation.  The driver samples a contiguous 50-query
# block from the FRONT of the registry, so every query whose plan or
# inputs changed leads, and the oldest-evidence refill fills the rest
# (derive the front/refill split from ``len(_REVERIFY)``).
_REVERIFY = [
    # the store consumers: every per-sf_dir store now builds through
    # fixtures.store / plans.cache.cached_dir
    "minhash_est", "lsh_quality", "lsh_verified",
    "curate_corpus", "curation_gates",
    "stream_window_stats", "stream_dedup",
    "orc_partitioned", "ivf_store_probe", "jsonl_roundtrip", "stream_cdc",
    "stream_asof", "bucketed_join", "stream_heavy",
    # changed in r12/r13 but never observed by the driver's window
    "stream_sessionize", "stream_cdc_resume", "stream_funnel_resume",
    "robust_outliers", "group_quantiles", "winnow_fp", "winnow_overlap",
    "dup_spans", "dup_fraction", "speciate", "merge_indexes",
    "broadcast_types", "specific_days",
    # reach localdf.local_rows_df (the Arrow LocalRelation conversion)
    # through exports/ or sources/
    "edgar_profiles", "profiles_yaml", "gpkg_lines", "gpkg_roundtrip",
    "oem_profiles_export", "swiss_ingest", "tno_ingest", "gral_roundtrip",
    "tno_points", "tno_profiles", "wrf_flux", "fluxie_export",
]


def _evidence_order(names: list[str]) -> list[str]:
    """Refill policy (r7 judge item 8): OLDEST EVIDENCE FIRST.

    The registry is >4× the driver's 50-query window, so refill slots
    are scarce; recent-rounds-first refill (r5-r7) starved the r1-r4
    era queries of re-verification.  Instead, read the committed
    ``CORRECTNESS_r*.json`` ledger, compute each query's most recent
    green round, and order the unchanged remainder by (last green
    round ASC, name) — deterministic, and every query re-verifies at
    least every ``ceil(registry / refill_slots)`` rounds as the window
    cycles through the stalest evidence.  Queries with no ledger row
    yet (should not happen) sort first.
    """
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for p in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as fh:
                data = _json.load(fh)
        except (OSError, ValueError):
            continue
        for name, res in data.items():
            if isinstance(res, dict) and res.get("rows_match"):
                last[name] = max(rnd, last.get(name, 0))
    return sorted(names, key=lambda n: (last.get(n, 0), n))


_FRONT = [k for k in _REVERIFY if k in registry.QUERIES]
_REFILL = _evidence_order([k for k in registry.QUERIES if k not in _FRONT])
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    k: registry.QUERIES[k] for k in _FRONT + _REFILL
}
ORACLES: dict[str, str] = {k: registry.ORACLES[k] for k in QUERIES}
