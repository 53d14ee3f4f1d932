"""Composite temporal profiles: multiple cycles per assignment.

Reference: ``emiproc/profiles/temporal/composite.py`` — a composite
profile multiplies several cycles (hour-of-day × day-of-week ×
month-of-year); the store keeps, per type, a ratio matrix and an index
with −1 = "no sub-profile" (constant).

Spark model: the composite is the *long* relation

    composite(comp_id INT, ptype STRING, profile_id INT)

over the flat ``tprofile`` store — joins replace index gathers, and a
missing (comp_id, ptype) row is the constant sub-profile.  Scaling
factors multiply across types at apply time
(``scaling_factor_at`` per type, product over types — reference
get_scaling_factors_at_time, temporal/operators.py:97-149).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from emiproc_spark.localdf import collect_bounded, local_rows_df

from emiproc_spark.operators.temporal import scaling_factor_at


def make_composite_profiles(assignments: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode per-type profile assignments into composite ids
    (reference make_composite_profiles, composite.py:375-435: stringified
    tuple unique → int ids).

    ``assignments``: (…keys, ptype, profile_id) — one row per key and
    type.  Returns (composite(comp_id, ptype, profile_id),
    index(…keys, comp_id)).
    """
    keys = [c for c in assignments.columns if c not in ("ptype", "profile_id")]
    # collect_SET: an exactly-duplicated assignment row must not make
    # identical logical combos dictionary-encode differently, nor put two
    # copies of one sub-profile into the composite (the scaling product
    # would apply it twice)
    tuples = assignments.groupBy(*keys).agg(
        F.array_sort(F.collect_set(F.struct("ptype", "profile_id"))).alias("combo")
    )
    distinct = tuples.select("combo").distinct().withColumn(
        "comp_id", (F.row_number().over(Window.orderBy("combo")) - 1).cast("int")
    )
    index = tuples.join(distinct, "combo").select(*keys, "comp_id")
    composite = (
        distinct.select("comp_id", F.explode("combo").alias("c"))
        .select("comp_id", F.col("c.ptype").alias("ptype"), F.col("c.profile_id").alias("profile_id"))
        .where(F.col("profile_id") >= 0)
    )
    return composite, index


def concatenate_profiles(a: DataFrame, b: DataFrame) -> tuple[DataFrame, Column]:
    """Union two profile stores with id offset (reference
    concatenate_profiles, profiles/operators.py:35-55).  Returns the
    union and the offset applied to ``b`` ids (for re-keying indexes)."""
    next_id = a.agg(F.coalesce(F.max("profile_id") + 1, F.lit(0)))
    offset = collect_bounded(next_id, "concatenate_profiles offset")[0][0]
    shifted = b.withColumn("profile_id", (F.col("profile_id") + F.lit(offset)).cast("int"))
    return a.unionByName(shifted), F.lit(offset)


def broadcast_to_types(
    composite: DataFrame, ptypes: list[str], comp_ids: DataFrame | None = None
) -> DataFrame:
    """Widen every composite to a common type set, filling missing types
    with the constant sub-profile −1 (reference
    CompositeTemporalProfiles.broadcast, composite.py:230-372).

    ``comp_ids`` (a one-column comp_id frame, e.g. the index from
    make_composite_profiles) supplies the composite universe: a
    fully-constant composite (every sub-profile −1) has NO rows in
    ``composite`` and would otherwise vanish from the widened output
    instead of becoming all-(−1) rows."""
    spark = composite.sparkSession
    tdf = local_rows_df(spark, [(t,) for t in ptypes], "ptype string")
    universe = (
        comp_ids.select("comp_id") if comp_ids is not None else composite.select("comp_id")
    ).distinct()
    scaffold = universe.crossJoin(F.broadcast(tdf))
    return scaffold.join(composite, ["comp_id", "ptype"], "left").withColumn(
        "profile_id", F.coalesce("profile_id", F.lit(-1))
    )


def composite_scaling_factor(ts: Column, sub_profiles: DataFrame) -> DataFrame:
    """Scaling factor of each composite at one timestamp column bound to
    ``sub_profiles`` rows (comp_id, ptype, ratios): the per-type factors
    multiply (missing types contribute 1.0 since they have no row)."""
    per_type = sub_profiles.withColumn(
        "sf", scaling_factor_at(ts, F.col("ptype"), F.col("ratios"))
    )
    # product aggregate (map-side combinable) — exact on zeros, unlike
    # the previous exp(Σ log(greatest(sf, 1e-300))) whose clamp turned a
    # genuine sf=0 hour into a tiny positive factor (and disagreed with
    # temporal.composite_scaling_factor's exact fold)
    return per_type.groupBy("comp_id").agg(F.product("sf").alias("sf"))


def ensure_specific_days_consistency(
    day_profiles: DataFrame,
    general: DataFrame | None = None,
) -> DataFrame:
    """Expand weekday/weekend day-type profiles to all seven days,
    filling gaps with the general daily profile (reference
    ensure_specific_days_consistency, temporal/utils.py:36-97).

    ``day_profiles``: (profile_id, day_type, ratios) with day_type one
    of the reference SpecificDay enum values (monday..sunday, weekday,
    weekday_4, weekend — specific_days.py:12-27; the mon..sun
    abbreviations are also accepted); ``general``: (profile_id, ratios)
    fallback.  Returns (profile_id, dow, ratios) for dow 0..6.
    """
    from emiproc_spark.operators.temporal import SPECIFIC_DAY_DOWS
    from emiproc_spark.sources.profiles_io import _DAY_ALIASES

    spark = day_profiles.sparkSession
    # canonical reference day types plus the mon..sun abbreviations
    expand = {
        **SPECIFIC_DAY_DOWS,
        **{abbr: SPECIFIC_DAY_DOWS[full] for abbr, full in _DAY_ALIASES.items()},
    }
    rows = [(dt, d) for dt, days in expand.items() for d in days]
    mapping = local_rows_df(spark, rows, "day_type string, dow int")
    # most specific wins when several types cover the same dow: a single
    # day beats weekday_4 beats weekday/weekend (reference only fills a
    # range day "if not already defined", temporal/utils.py:68-74)
    rank = (
        F.when(F.col("day_type").isin("weekday", "weekend"), 2)
        .when(F.col("day_type") == "weekday_4", 1)
        .otherwise(0)
    )
    specific = (
        day_profiles.join(F.broadcast(mapping), "day_type")
        .withColumn("prio", rank)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("profile_id", "dow").orderBy("prio")
            ),
        )
        .where(F.col("rn") == 1)
        .select("profile_id", "dow", "ratios")
    )
    if general is None:
        return specific
    days = local_rows_df(spark, [(d,) for d in range(7)], "dow int")
    # the profile universe is BOTH inputs: a pid that appears only in
    # day_profiles (full specific coverage, no general fallback) must
    # not vanish because the scaffold was built from general alone.
    # Gaps with no general row get the uniform profile, like the
    # reference's default-constructed SpecificDayProfile
    # (temporal/utils.py:84-86 + DailyProfile's uniform default ratios)
    g = general.select("profile_id", F.col("ratios").alias("g_ratios"))
    sizes = day_profiles.groupBy("profile_id").agg(
        F.first(F.size("ratios")).alias("__n")
    )
    pids = (
        g.select("profile_id")
        .unionByName(sizes.select("profile_id"))
        .distinct()
    )
    uniform = F.transform(
        F.sequence(F.lit(1), F.col("__n")), lambda _: F.lit(1.0) / F.col("__n")
    )
    fallback = (
        pids.join(g, "profile_id", "left")
        .join(sizes, "profile_id", "left")
        .withColumn(
            "g_ratios",
            F.coalesce(
                "g_ratios", F.when(F.col("__n").isNotNull(), uniform)
            ),
        )
        .select("profile_id", "g_ratios")
    )
    scaffold = fallback.crossJoin(F.broadcast(days))
    return (
        scaffold.join(specific, ["profile_id", "dow"], "left")
        .withColumn("ratios", F.coalesce("ratios", "g_ratios"))
        .select("profile_id", "dow", "ratios")
    )


def check_valid_profiles(tprofiles: DataFrame, rtol: float = 1e-6) -> DataFrame:
    """Integrity constraints (reference check_valid_indexes /
    profile invariants, profiles/utils.py:54-92,
    temporal/profiles.py:53-55): non-negative ratios summing to 1.
    Returns the violating rows (empty = valid) — a data-quality
    assertion that runs distributed."""
    total = F.aggregate("ratios", F.lit(0.0), lambda a, x: a + x)
    has_neg = F.exists("ratios", lambda x: x < 0)
    has_nan = F.exists("ratios", lambda x: F.isnan(x))
    # NULLs make every predicate NULL and where() drops NULL as false —
    # the most corrupt rows (null array / null element) would pass the
    # validity check silently without the explicit isNull branches
    has_null = F.col("ratios").isNull() | F.exists(
        "ratios", lambda x: x.isNull()
    )
    return tprofiles.withColumn("ratio_sum", total).where(
        has_null
        | F.coalesce(
            has_neg | has_nan | (F.abs(F.col("ratio_sum") - 1.0) > rtol),
            F.lit(True),
        )
    )
