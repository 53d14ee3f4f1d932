"""Inventory and relational queries.

TPC-H-style joins, aggregations and top-k; the inventory algebra
(grouping, scaling, speciation, remapping, cropping, region masks,
combining); relational joins (as-of, range, bucketed, salted,
point-in-window) and changelog merges.

Every ``queries`` module follows the same contract: each query
registers with one ``registry.query(q_fn, SQL)`` line beside its DuckDB
oracle, float sums go through the per-row integer quantization of
``qhelpers``, randomness is md5-derived, and top-k ties break
deterministically, so Spark and the oracle agree bit for bit.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.core.schemas import SPECIATION
from emiproc_spark.exports.store import read_inventory_table, save_inventory_bucketed
from emiproc_spark.exports.writers import add_totals, regionize
from emiproc_spark.functions.crs import LV95, WGS84, transform_columns
from emiproc_spark.functions.geometry import wkb_box
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import basic as ops
from emiproc_spark.operators import regrid as rg
from emiproc_spark.operators import speciation as spn
from emiproc_spark.operators.history import (
    apply_changelog,
    latest_snapshot,
    scd2_compact,
)
from emiproc_spark.operators.joins import (
    asof_join,
    point_in_range_join,
    range_join,
    salted_join,
)
from emiproc_spark.operators.masks import (
    cell_region_fractions,
    combine_inventories,
    majority_region,
)
from emiproc_spark.operators.profiles import normalize_ratios
from emiproc_spark.operators.regrid import weights_poly_poly
from emiproc_spark.operators.speciation import speciate
from emiproc_spark.operators.vprm import people_to_emissions, vprm_gee, vprm_respiration
from emiproc_spark.qhelpers import QSCALE, qd, sql_qd, sql_sumd, sumd
from emiproc_spark.registry import query
from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file


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


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation."""
    ev = fx.events(spark, sf_dir)
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
# Relational breadth: windows, grouping sets, set ops (SURVEY §2.8)
# ======================================================================
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer order total — a window frame with a fully
    deterministic ordering, so the sequential fold is bit-identical in
    both engines (no quantization needed)."""

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

    ev = fx.events(spark, sf_dir)
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
# regionize: ICON-OEM regions = distinct (timezone, profile) pairs with
# dense ids (reference emiproc/exports/icon.py:255-298)
# ======================================================================
def q_regionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell_tz = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"),
        F.concat(F.lit("TZ"), (F.col("id") % 4)).alias("tzid"),
    )
    idx = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    return regionize(cell_tz, idx)


SQL_REGIONIZE = f"""
    SELECT c AS cell_id,
           CAST((c % 4) * 3 + (c % 3) AS INT) AS region_id,
           'TZ' || CAST(c % 4 AS VARCHAR) AS tzid,
           CAST(c % 3 AS INT) AS profile_id
    FROM range({fx.N_CELLS}) t(c)
"""

query(q_regionize, SQL_REGIONIZE)


# ======================================================================
# add_totals: per-substance rollup over categories — the reference's
# NetCDF export totals (exports/rasters.py:247-306)
# ======================================================================
def q_add_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e2 = (
        fx.emissions(spark, sf_dir)
        .groupBy("substance", "category")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("value_kg_y"))
    )
    return add_totals(e2)


SQL_ADD_TOTALS = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    e2 AS (
        SELECT substance, category, FLOOR({sql_sumd('value_kg_y')}) AS v
        FROM e GROUP BY 1, 2
    )
    SELECT substance, COALESCE(category, '__total__') AS category,
           CAST(SUM(v) AS DOUBLE) AS total_kg_y
    FROM e2 GROUP BY ROLLUP (substance, category)
    HAVING substance IS NOT NULL
"""

query(q_add_totals, SQL_ADD_TOTALS)


# ======================================================================
# CRS transform as a query: swisstopo WGS84→LV95 polynomial on plain
# coordinate columns (reference regrid.py:473-483 CRS reconciliation +
# functions/crs.py kernels).  mm-level quantization absorbs pow()-vs-
# repeated-multiplication ulp differences across engines.
# ======================================================================
def q_crs_lv95(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = fx.load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (6.0 + (F.col("s_suppkey") % 50) / 12.5).alias("lon"),
        (46.0 + (F.col("s_suppkey") % 11) / 10.0).alias("lat"),
    )
    out = transform_columns(pts, WGS84, LV95, out_x="e", out_y="n")
    return out.select(
        "s_suppkey", qd("e", 1000.0).alias("e"), qd("n", 1000.0).alias("n")
    )


SQL_CRS_LV95 = f"""
    WITH p AS (
        SELECT s_suppkey,
               ((6.0 + (s_suppkey % 50) / 12.5) * 3600.0 - 26782.5) / 10000.0
                   AS lam,
               ((46.0 + (s_suppkey % 11) / 10.0) * 3600.0 - 169028.66) / 10000.0
                   AS phi
        FROM supplier
    )
    SELECT s_suppkey,
           {sql_qd('2600072.37 + 211455.93 * lam - 10938.51 * lam * phi'
                   ' - 0.36 * lam * phi * phi - 44.54 * lam * lam * lam',
                   1000.0)} AS e,
           {sql_qd('1200147.07 + 308807.95 * phi + 3745.25 * lam * lam'
                   ' + 76.63 * phi * phi - 194.56 * lam * lam * phi'
                   ' + 119.79 * phi * phi * phi', 1000.0)} AS n
    FROM p
"""

query(q_crs_lv95, SQL_CRS_LV95)


# ======================================================================
# add_gdf pattern: shaped sources appended with missing-column zero-fill
# (reference Inventory.add_gdf, inventories/__init__.py:339-367)
# ======================================================================
def q_add_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    gridded = fx.emissions(spark, sf_dir).withColumn(
        "source_id", F.lit(None).cast("long")
    )
    shaped = fx.load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("source_id"),
        F.lit("pts").alias("category"),
        F.lit("F").alias("substance"),
        (F.floor(F.abs(F.col("s_acctbal"))) + 1.0).alias("value_kg_y"),
    )
    combined = gridded.unionByName(shaped, allowMissingColumns=True).fillna(
        {"cell_id": -1}
    )
    return combined.groupBy("category", "substance").agg(
        sumd("value_kg_y").alias("total"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("cell_id") == -1, 1).otherwise(0)).alias("n_shaped"),
    )


SQL_ADD_SHAPED = f"""
    WITH g AS (
        SELECT cell_id, category, substance, value_kg_y
        FROM ({fx.EMISSIONS_SQL})
    ),
    s AS (
        SELECT -1 AS cell_id, 'pts' AS category, 'F' AS substance,
               FLOOR(ABS(s_acctbal)) + 1.0 AS value_kg_y
        FROM supplier
    ),
    u AS (SELECT * FROM g UNION ALL SELECT * FROM s)
    SELECT category, substance, {sql_sumd('value_kg_y')} AS total,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN cell_id = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shaped
    FROM u GROUP BY 1, 2
"""

query(q_add_shaped, SQL_ADD_SHAPED)


# ======================================================================
# normalize_ratios incl. the all-zero → uniform rule (reference
# rescale_ratios, composite.py:29-45)
# ======================================================================
def q_normalize_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = fx.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("profile_id"),
        F.array(
            (F.col("n_nationkey") % 5).cast("double"),
            (F.col("n_nationkey") % 3).cast("double"),
            F.lit(0.0),
            (F.col("n_nationkey") % 7).cast("double"),
        ).alias("ratios"),
    )
    out = base.select(
        "profile_id", F.posexplode(normalize_ratios(F.col("ratios"))).alias("pos", "ratio")
    )
    return out.select("profile_id", "pos", qd("ratio").alias("ratio"))


SQL_NORMALIZE_RATIOS = f"""
    WITH base AS (
        SELECT n_nationkey AS profile_id,
               [CAST(n_nationkey % 5 AS DOUBLE), CAST(n_nationkey % 3 AS DOUBLE),
                0.0, CAST(n_nationkey % 7 AS DOUBLE)] AS ratios,
               CAST(n_nationkey % 5 AS DOUBLE) + CAST(n_nationkey % 3 AS DOUBLE)
                   + 0.0 + CAST(n_nationkey % 7 AS DOUBLE) AS total
        FROM nation
    )
    SELECT profile_id, CAST(u.i - 1 AS INT) AS pos,
           {sql_qd('CASE WHEN total = 0.0 THEN 0.25 ELSE ratios[u.i] / total END')}
               AS ratio
    FROM base, UNNEST(range(1, 5)) u(i)
"""

query(q_normalize_ratios, SQL_NORMALIZE_RATIOS)


# ======================================================================
# country-dependent speciation (reference emiproc/speciation.py:204-260)
# ======================================================================
# Cell-coverage design, chosen so every branch of the operator executes:
#   cell % 4 == 0 → C0 0.6 + C1 0.4  (full coverage, two-country blend)
#   cell % 4 == 1 → C0 0.5 only      (partial coverage → renormalized ×2)
#   cell % 4 == 2 → C2 1.0           (country absent from ratio table →
#                                     blend sum 0 → −99 default)
#   cell % 4 == 3 → no coverage rows (→ −99 default)
# Substance F splits into F1/F2; substance O has no entry → passthrough.
_SPEC_ROWS = [
    (None, "C0", None, None, "F", "F1", 0.7),
    (None, "C0", None, None, "F", "F2", 0.3),
    (None, "C1", None, None, "F", "F1", 0.25),
    (None, "C1", None, None, "F", "F2", 0.75),
    (None, "-99", None, None, "F", "F1", 0.45),
    (None, "-99", None, None, "F", "F2", 0.55),
]


def _cell_country(spark: SparkSession) -> DataFrame:
    rows = []
    for c in range(fx.N_CELLS):
        if c % 4 == 0:
            rows += [(c, "C0", 0.6), (c, "C1", 0.4)]
        elif c % 4 == 1:
            rows += [(c, "C0", 0.5)]
        elif c % 4 == 2:
            rows += [(c, "C2", 1.0)]
    return local_rows_df(spark, rows, "cell_id long, country string, fraction double")


def q_speciate_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-aggregate to the canonical one-row-per-(cell, cat, sub)
    # inventory before speciating: the dst fan-out multiplies keys, not
    # raw scan rows (same pattern as q_temporal_expand)
    e = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    spec = local_rows_df(spark, _SPEC_ROWS, schema=SPECIATION)
    out = speciate(e, spec, cell_country=_cell_country(spark))
    return out.select("cell_id", "category", "substance", "value_kg_y")


# blend arithmetic mirrored term-by-term (two-term double addition is
# order-independent, so the Spark groupBy sum matches the literal chain)
_BLEND_F1 = (
    "CASE cell_id % 4 WHEN 0 THEN (0.6 / 1.0) * 0.7 + (0.4 / 1.0) * 0.25 "
    "WHEN 1 THEN (0.5 / 0.5) * 0.7 ELSE 0.45 END"
)
_BLEND_F2 = (
    "CASE cell_id % 4 WHEN 0 THEN (0.6 / 1.0) * 0.3 + (0.4 / 1.0) * 0.75 "
    "WHEN 1 THEN (0.5 / 0.5) * 0.3 ELSE 0.55 END"
)
SQL_SPECIATE_COUNTRY = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance,
               {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    ),
    sp AS (
        SELECT cell_id, category, 'F1' AS substance,
               value_kg_y * ({_BLEND_F1}) AS value_kg_y
        FROM e WHERE substance = 'F'
        UNION ALL
        SELECT cell_id, category, 'F2' AS substance,
               value_kg_y * ({_BLEND_F2}) AS value_kg_y
        FROM e WHERE substance = 'F'
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y
        FROM e WHERE substance <> 'F'
    )
    SELECT cell_id, category, substance, value_kg_y FROM sp
"""

query(q_speciate_country, SQL_SPECIATE_COUNTRY)


# ======================================================================
# antimeridian_remap — dateline-straddling ICON triangle remapped from
# ±180-adjacent cells; weights are closed-form (the split halves)
# ======================================================================
def q_antimeridian_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle (179,0)-(-179,0)-(179,2) splits at ±180 into two parts;
    1° source cells on both sides overlap it with hand-derivable
    fractions (hypotenuse slope −1): east cells 1 and 0.5, west lower
    cell 0.5, west upper cell 0 (dropped)."""

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


NS_PER_MIN = 60 * 1_000_000_000

# DuckDB-side events with the same epoch-nanos ts the Spark fixture uses
EVENTS_NS_SQL = """
    SELECT event_id, user_id, epoch_ns(ts) AS ts, value, event_type
    FROM events
"""


# ======================================================================
# asof_join — backward as-of with tolerance (operators/joins.py)
# ======================================================================
ASOF_TOL = 30 * NS_PER_MIN


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(
        clicks, views, "ts", ["user_id"], ["view_value"], tolerance=ASOF_TOL
    )
    return out.select(
        "event_id", "user_id", "ts", "click_value", "view_value",
        F.col("ts_right").alias("view_ts"),
    )


SQL_ASOF_JOIN = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    c AS (SELECT event_id, user_id, ts, value AS click_value FROM ev
          WHERE event_type = 'click'),
    v AS (SELECT user_id, ts, value AS view_value FROM ev
          WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, c.ts, c.click_value,
           CASE WHEN c.ts - v.ts <= {ASOF_TOL} THEN v.view_value END AS view_value,
           CASE WHEN c.ts - v.ts <= {ASOF_TOL} THEN v.ts END AS view_ts
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""

query(q_asof_join, SQL_ASOF_JOIN)


# ======================================================================
# range_join — interval overlap via bucket explode (operators/joins.py)
# ======================================================================
ERR_WIN = 10 * NS_PER_MIN
CLICK_WIN = 5 * NS_PER_MIN


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + ERR_WIN).alias("end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + CLICK_WIN).alias("end"),
    )
    pairs = range_join(errors, clicks, ["user_id"], bucket=ERR_WIN)
    return pairs.select(
        "err_id",
        "click_id",
        "user_id",
        (F.least("end", "r_end") - F.greatest("start", "r_start")).alias("overlap_ns"),
    )


SQL_RANGE_JOIN = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    e AS (SELECT event_id AS err_id, user_id, ts AS start_,
                 ts + {ERR_WIN} AS end_ FROM ev WHERE event_type = 'error'),
    c AS (SELECT event_id AS click_id, user_id, ts AS start_,
                 ts + {CLICK_WIN} AS end_ FROM ev WHERE event_type = 'click')
    SELECT e.err_id, c.click_id, e.user_id,
           LEAST(e.end_, c.end_) - GREATEST(e.start_, c.start_) AS overlap_ns
    FROM e JOIN c ON e.user_id = c.user_id
                 AND e.start_ < e.end_ AND c.start_ < c.end_
                 AND e.start_ < c.end_ AND c.start_ < e.end_
"""

query(q_range_join, SQL_RANGE_JOIN)


# ======================================================================
# points_in_windows — point-in-interval join (operators/joins.py)
# ======================================================================
def q_points_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + ERR_WIN).alias("end"),
    )
    hits = point_in_range_join(views, errors, ["user_id"], bucket=ERR_WIN)
    return hits.groupBy("user_id").agg(
        F.count("*").alias("n_hits"),
        F.countDistinct("view_id").alias("n_views_in_windows"),
        F.countDistinct("err_id").alias("n_windows_hit"),
    )


SQL_POINTS_IN_WINDOWS = f"""
    WITH ev AS ({EVENTS_NS_SQL}),
    v AS (SELECT event_id AS view_id, user_id, ts FROM ev
          WHERE event_type = 'view'),
    e AS (SELECT event_id AS err_id, user_id, ts AS start_,
                 ts + {ERR_WIN} AS end_ FROM ev WHERE event_type = 'error')
    SELECT v.user_id, COUNT(*) AS n_hits,
           COUNT(DISTINCT v.view_id) AS n_views_in_windows,
           COUNT(DISTINCT e.err_id) AS n_windows_hit
    FROM v JOIN e ON v.user_id = e.user_id
                 AND v.ts >= e.start_ AND v.ts < e.end_
    GROUP BY v.user_id
"""

query(q_points_in_windows, SQL_POINTS_IN_WINDOWS)


# ======================================================================
# bucketed_join — zero-shuffle co-located join (exports/store.py)
# ======================================================================
BKT_BUCKETS = 16


def _bucketed_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two bucketed inventories, written once per session per
    sf_dir (the write is itself part of the pattern under test, but
    repeating it on every bench iteration would time the sink, not the
    join).  Catalog tables die with their session, so the session's
    application id is part of the store name."""

    def build(path: str) -> None:
        em = fx.emissions(spark, sf_dir)
        flow = (
            em.where(F.col("category").isin("A", "N"))
            .groupBy("cell_id")
            .agg(sumd("value_kg_y").alias("flow_kg_y"))
        )
        ret = (
            em.where(F.col("category") == "R")
            .groupBy("cell_id")
            .agg(sumd("value_kg_y").alias("return_kg_y"))
        )
        t = os.path.basename(path)
        save_inventory_bucketed(
            flow, f"{t}_a", buckets=BKT_BUCKETS, path=os.path.join(path, "a")
        )
        save_inventory_bucketed(
            ret, f"{t}_b", buckets=BKT_BUCKETS, path=os.path.join(path, "b")
        )

    name = f"bkt_{spark.sparkContext.applicationId}"
    t = os.path.basename(fx.store(name, sf_dir, build))
    return read_inventory_table(spark, f"{t}_a"), read_inventory_table(spark, f"{t}_b")


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the two bucketed inventories on cell_id.

    Both scans carry HashPartitioning(cell_id, 16) from the catalog
    bucketing spec — exactly the join's clustering requirement — so the
    plan has NO Exchange on either side, only the residual per-bucket
    sorts (and those vanish too when ``sortBy`` matters at read, which
    Spark applies per bucket file).
    """
    flow, ret = _bucketed_sides(spark, sf_dir)
    return flow.join(ret, ["cell_id"], "inner").select(
        "cell_id", "flow_kg_y", "return_kg_y"
    )


SQL_BUCKETED_JOIN = f"""
    WITH em AS ({fx.EMISSIONS_SQL}),
    flow AS (
        SELECT cell_id, {sql_sumd("value_kg_y")} AS flow_kg_y
        FROM em WHERE category IN ('A', 'N') GROUP BY cell_id
    ),
    ret AS (
        SELECT cell_id, {sql_sumd("value_kg_y")} AS return_kg_y
        FROM em WHERE category = 'R' GROUP BY cell_id
    )
    SELECT flow.cell_id, flow.flow_kg_y, ret.return_kg_y
    FROM flow JOIN ret USING (cell_id)
"""

query(q_bucketed_join, SQL_BUCKETED_JOIN)


# ======================================================================
# delta_totals — incremental rollup maintenance (partial-agg merge)
# ======================================================================
def q_delta_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge pre-aggregated base totals with a small delta batch.

    base (cell_id % 10 != 0) stands in for yesterday's materialized
    rollup; delta (cell_id % 10 == 0) is today's arrivals.  The merge
    re-aggregates the two partial states — base facts are never
    rescanned in the incremental path.  Partials carry the µ-quantized
    numerator as an INT64 (micro-units), so the merge is a plain
    integer sum — exact at ANY magnitude — and only the final
    projection divides back to kg.  (Merging the partials as doubles
    and re-quantizing only round-trips while the numerator stays below
    ~2.2e15; integer partial state has no such ceiling and is what a
    production incremental rollup should materialize.)
    """

    em = fx.emissions(spark, sf_dir)

    def totals(df: DataFrame) -> DataFrame:
        return df.groupBy("category", "substance").agg(
            F.sum(
                F.floor(F.col("value_kg_y") * F.lit(QSCALE) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("total_micro"),
            F.count("*").alias("n_rows"),
        )

    base = totals(em.where(F.col("cell_id") % 10 != 0))
    delta = totals(em.where(F.col("cell_id") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("category", "substance")
        .agg(
            F.sum("total_micro").alias("total_micro"),
            F.sum("n_rows").alias("n_rows"),
        )
        .select(
            "category",
            "substance",
            (F.col("total_micro").cast("double") / F.lit(QSCALE)).alias(
                "total_kg_y"
            ),
            "n_rows",
        )
    )


SQL_DELTA_TOTALS = f"""
    SELECT category, substance,
           {sql_sumd("value_kg_y")} AS total_kg_y,
           COUNT(*) AS n_rows
    FROM ({fx.EMISSIONS_SQL})
    GROUP BY category, substance
"""

query(q_delta_totals, SQL_DELTA_TOTALS)


# ======================================================================
# scd2_history — changelog → SCD2 versions (operators/history.py)
# ======================================================================


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the events stream as a per-user state changelog
    (state = event_type, ordered by ts with event_id tiebreak) and
    compact it into SCD2 version history."""

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
# salted_join — skew-safe join parity (operators/joins.py)
# ======================================================================
SALT_N = 8


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment revenue through the salted join; the oracle runs
    the PLAIN join — salting must be invisible in the result."""

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
# nation_topk — per-group top-k (rank window, NOT a global TakeOrdered):
# top-3 customers by order revenue within every nation
# ======================================================================
_NATION_K = 3


def q_nation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = fx.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = fx.load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n = fx.load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = o.groupBy("o_custkey").agg(sumd("o_totalprice").alias("revenue"))
    cust = c.join(rev, c["c_custkey"] == rev["o_custkey"]).select(
        "c_custkey", "c_nationkey", "revenue"
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    top = (
        cust.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _NATION_K)
    )
    return top.join(F.broadcast(n), top["c_nationkey"] == n["n_nationkey"]).select(
        "n_name", F.col("rank").cast("int").alias("rank"), "c_custkey", "revenue"
    )


def _sql_nation_topk() -> str:
    return f"""
    WITH rev AS (
        SELECT o_custkey, {sql_sumd('o_totalprice')} AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c.c_custkey, c.c_nationkey, r.revenue,
               ROW_NUMBER() OVER (
                   PARTITION BY c.c_nationkey
                   ORDER BY r.revenue DESC, c.c_custkey
               ) AS rank
        FROM customer c JOIN rev r ON r.o_custkey = c.c_custkey
    )
    SELECT n.n_name, CAST(rank AS INT) AS rank, c_custkey, revenue
    FROM ranked JOIN nation n ON n.n_nationkey = ranked.c_nationkey
    WHERE rank <= {_NATION_K}
"""


query(q_nation_topk, _sql_nation_topk())


# ======================================================================
# sql_api — the SAME statement text executed by BOTH engines: Spark's
# spark.sql(...) over registered temp views vs DuckDB over its views.
# Proves the SQL entry point (not just the DataFrame API) produces
# plan-equivalent, value-identical results; Catalyst still broadcasts
# the dimension chain (pinned in the shared no-cartesian sweep).
# ======================================================================
SQL_API_STMT = """
    SELECT r.r_name,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 1000000.0 + 0.5)
                AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY r.r_name
"""


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx.register_tables(spark, sf_dir)
    return spark.sql(SQL_API_STMT)


query(q_sql_api, SQL_API_STMT)


# ======================================================================
# cdc_merge — apply_changelog MERGE semantics (operators/history.py)
# ======================================================================
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot = latest state per user from the event_id%3==0 base
    feed; changelog = the remaining events with 'error' rows acting as
    deletes.  Values are straight selections (no float arithmetic), so
    doubles compare exactly."""

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
