"""Temporal expansion: cyclic-profile positions, scaling factors, and
the annual→hourly explode.

Reference: ``emiproc/profiles/temporal/operators.py`` and
``emiproc/exports/utils.py:13-156``.  The big expansion
(get_temporally_scaled_array) is ``emissions ⋈ profile_index ⋈
sf(time)`` with the time axis generated by ``explode(sequence(...))`` —
at scale the scaffold is tiny (hours × profiles) and broadcast against
the fact table; the output is the only large relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from emiproc_spark.core.schemas import PROFILE_SIZES
from emiproc_spark.qhelpers import widen_for_fanout

# reference SpecificDay enum values → pandas-convention day numbers
# (specific_days.py:66-94); ptype encoding is ``daily_<value>``
SPECIFIC_DAY_DOWS = {
    "monday": [0], "tuesday": [1], "wednesday": [2], "thursday": [3],
    "friday": [4], "saturday": [5], "sunday": [6],
    "weekday": [0, 1, 2, 3, 4], "weekday_4": [0, 1, 2, 3],
    "weekend": [5, 6],
}


def position_in_profile(ts: Column, ptype: str) -> Column:
    """Timestamp → 0-based position in a cyclic profile — pure column
    expressions (reference get_index_in_profile,
    emiproc/profiles/temporal/operators.py:49-94).

    Spark's weekday() is Monday=0 — same convention as the reference's
    pandas ``day_of_week`` (operators.py:78).
    """
    if ptype == "daily":
        return F.hour(ts)
    if ptype == "weekly":
        return F.weekday(ts)
    if ptype == "monthly":
        return F.month(ts) - 1
    if ptype == "day_of_year" or ptype == "day_of_leap_year":
        return F.dayofyear(ts) - 1
    if ptype == "hour_of_year" or ptype == "hour_of_leap_year":
        return (F.dayofyear(ts) - 1) * 24 + F.hour(ts)
    if ptype == "hour_of_week":
        return F.weekday(ts) * 24 + F.hour(ts)
    if ptype == "hour3_of_day":
        return (F.hour(ts) / 3).cast("int")
    if ptype == "hour3_of_day_per_month":
        return (F.hour(ts) / 3).cast("int") + (F.month(ts) - 1) * 8
    if ptype == "hour_of_week_per_month":
        return F.weekday(ts) * 24 + F.hour(ts) + (F.month(ts) - 1) * 168
    if ptype.startswith("daily_") and ptype[6:] in SPECIFIC_DAY_DOWS:
        # SpecificDayProfile: hour position on the profile's days, −1
        # (no scaling) elsewhere (reference get_index_in_profile,
        # temporal/operators.py:71-75: indexes.where(dow.isin(days), -1))
        days = SPECIFIC_DAY_DOWS[ptype[6:]]
        return F.when(F.weekday(ts).isin(days), F.hour(ts)).otherwise(F.lit(-1))
    raise ValueError(f"unknown profile type {ptype!r}")


def scaling_factor_at(ts: Column, ptype_col: Column, ratios: Column) -> Column:
    """sf(t) = ratio[pos(t)] · size — mean-1 scaling factor; a null
    profile (null ptype or null ratios) yields 1.0, and a specific-day
    profile's off-days yield 1.0 (position −1 → "no scaling", reference
    get_scaling_factors_at_time,
    emiproc/profiles/temporal/operators.py:97-149, the where(≠−1, 1.0)
    at 139-144).  An UNKNOWN non-null ptype raises at execution — a
    typo'd type must not silently become the constant profile."""
    expr = F.lit(None).cast("double")
    known = F.lit(False)
    for ptype in [*PROFILE_SIZES, *(f"daily_{d}" for d in SPECIFIC_DAY_DOWS)]:
        try:
            pos = position_in_profile(ts, ptype)
        except ValueError:  # pragma: no cover
            continue
        # CASE WHEN is lazy, so element_at never sees the −1 sentinel
        val = F.when(
            pos >= 0, F.element_at(ratios, pos + F.lit(1)) * F.size(ratios)
        ).otherwise(F.lit(1.0))
        expr = F.when(ptype_col == ptype, val).otherwise(expr)
        known = F.when(ptype_col == ptype, F.lit(True)).otherwise(known)
    # a NULL expr for a KNOWN type means element_at/size returned NULL
    # (ratios array shorter than the cycle, or a null element) — name
    # THAT, not a bogus "unknown type", which misdirects debugging
    err = F.when(
        known,
        F.raise_error(
            F.concat(
                F.lit("profile ratios invalid for type "),
                ptype_col,
                F.lit(" (array shorter than the cycle or null element)"),
            )
        ),
    ).otherwise(
        F.raise_error(F.concat(F.lit("unknown profile type "), ptype_col))
    )
    return F.when(ptype_col.isNull() | ratios.isNull(), F.lit(1.0)).otherwise(
        F.coalesce(expr, err.cast("double"))
    )


def local_scaling_series(
    df: DataFrame,
    ratios: Column,
    ptype: str,
    ts_col: str = "ts_ntz",
    tz_col: str = "tz",
) -> DataFrame:
    """Scaling factors evaluated at each row's *local* wall-clock time
    (reference create_scaling_factors_time_serie's tz-aware path,
    emiproc/profiles/temporal/operators.py:443-485: ``tz_localize('UTC')
    .tz_convert(tz)`` before indexing the profile).

    ``ts_col`` must be ``timestamp_ntz`` holding the UTC wall time;
    ``tz_col`` an IANA zone string.  Conversion uses
    ``convert_timezone`` with *explicit* source/target zones, so the
    result is independent of the session timezone — safe under any
    driver session.  Adds ``pos_local`` and ``sf`` columns; everything
    stays in JVM expressions (map-only against the fact table).
    """
    local = F.convert_timezone(F.lit("UTC"), F.col(tz_col), F.col(ts_col))
    pos = position_in_profile(local, ptype)
    # specific-day ptypes signal off-days with pos −1: sf 1.0 there,
    # never element_at(·, 0)
    return df.withColumn("pos_local", pos.cast("int")).withColumn(
        "sf",
        F.when(
            F.col("pos_local") >= 0,
            F.element_at(ratios, F.col("pos_local") + 1) * F.size(ratios),
        ).otherwise(F.lit(1.0)),
    )


def time_scaffold(
    spark_df: DataFrame, start: str, hours: int, col_name: str = "ts"
) -> DataFrame:
    """Distributed hourly timestamp scaffold (timestamp_ntz —
    timezone-free wall clock, like the reference's naive DatetimeIndex,
    emiproc/exports/hourly.py:103-105)."""
    spark = spark_df.sparkSession
    return spark.range(hours).select(
        F.col("id").alias("hour_index"),
        (
            F.lit(start).cast("timestamp_ntz")
            + F.make_interval(hours=F.col("id").cast("int"))
        ).alias(col_name),
    )


def days_in_year(year: Column) -> Column:
    """365/366 with the full Gregorian rule (reference get_day_per_year,
    emiproc/utilities.py:38-46 — NB the reference's profile-type switch
    uses a simplified year%4, profiles.py:277-284; we use the correct
    rule everywhere and note the divergence)."""
    leap = ((year % 4 == 0) & (year % 100 != 0)) | (year % 400 == 0)
    return F.when(leap, F.lit(366)).otherwise(F.lit(365))


def hdd_factors(
    daily_temp: DataFrame,
    t_inside: float = 20.0,
    min_heating_t: float = 12.0,
) -> DataFrame:
    """Heating-degree-day scaling factors from a daily-mean temperature
    series (reference create_HDD_scaling_factor,
    emiproc/profiles/hdd.py:9-90): HDD_d = (T_in − T̄_d)·[T̄_d < T_min],
    normalized by the period mean so factors average to 1.

    ``daily_temp``: (day, temp_c).  Returns (day, hdd, factor).
    The period mean is a scalar — broadcast-joined, no driver collect.
    """
    hdd = daily_temp.withColumn(
        "hdd",
        F.when(
            F.col("temp_c") < F.lit(min_heating_t),
            F.lit(t_inside) - F.col("temp_c"),
        ).otherwise(F.lit(0.0)),
    )
    mean = hdd.agg(F.avg("hdd").alias("mean_hdd"))
    return (
        hdd.crossJoin(F.broadcast(mean))
        .withColumn(
            "factor",
            F.when(F.col("mean_hdd") == 0.0, F.lit(1.0)).otherwise(
                F.col("hdd") / F.col("mean_hdd")
            ),
        )
        .select("day", "hdd", "factor")
    )


def attach_profiles(
    emissions: DataFrame,
    tprofile_index: DataFrame,
    tprofiles: DataFrame,
    source_type: str | None = "gridded",
) -> DataFrame:
    """Join the temporal-profile index + store onto a fact table with the
    reference's wildcard semantics (null index dim = applies to all,
    profiles/utils.py:271-339) and fan-out guards.

    Resolution priority: (category, substance) > (category, ·) >
    (·, substance) > (·, ·).  Each bucket is collapsed with a
    duplicate-key flag; a duplicate in the *winning* bucket raises at
    execution instead of silently multiplying hourly mass (the reference
    index is unique by construction — xarray coords).  Index rows keyed
    on cell_id/country must be resolved to (category, substance) first
    (via country_to_cells / remap_profiles); any such row raises.

    The store may hold several ptype rows per profile_id (composite
    profiles): they are collected into one array column ``__profs`` so
    downstream scaling multiplies the per-type factors (reference
    get_scaling_factors_at_time product, temporal/operators.py:97-149)
    without fanning out the fact table.

    Plan shape: specificity resolves on the *dimension* side — the four
    wildcard buckets and the profile store fold into two broadcast
    relations (a per-category map dim and one scalar row), so the fact
    table takes exactly one broadcast hash join plus one 1-row cross
    join instead of five per-row joins.  All bucket/store joins happen
    between index-sized tables before the broadcast.
    """
    idx = tprofile_index
    if "type" in idx.columns:
        keep = (
            F.col("type").isNull()
            if source_type is None
            else F.col("type").isNull() | (F.col("type") == F.lit(source_type))
        )
        idx = idx.where(keep)
    extra = [c for c in ("cell_id", "country") if c in idx.columns]
    bad_rows = None
    if extra:
        cond = F.col(extra[0]).isNotNull()
        for c in extra[1:]:
            cond = cond | F.col(c).isNotNull()
        bad_rows = idx.where(cond).agg(F.count("*").alias("__bad"))
        idx = idx.where(~cond)

    store = tprofiles.groupBy("profile_id").agg(
        F.collect_list(F.struct("ptype", "ratios")).alias("profs")
    )

    # ONE pass over the index: every (category|null, substance|null)
    # combination is its own group, so the null pattern of the key IS
    # the wildcard bucket — no four separate filtered aggregations.
    g = (
        idx.groupBy("category", "substance")
        .agg(
            F.max("profile_id").alias("pid"),
            (F.count("*") > 1).alias("dup"),
        )
        .join(
            F.broadcast(store.withColumnRenamed("profile_id", "pid")),
            "pid",
            "left",
        )
    )
    entry = F.struct("pid", "dup", "profs")
    sub_entry = F.when(
        F.col("substance").isNotNull(), F.struct("substance", entry)
    )
    wild_entry = F.when(F.col("substance").isNull(), entry)
    # per-category dim: substance → (cat, sub)-bucket entry map, plus
    # the (category, ·) entry (≤1 per category, so first(ignorenulls)
    # is deterministic)
    cat_dim = (
        g.where(F.col("category").isNotNull())
        .groupBy("category")
        .agg(
            F.map_from_entries(F.collect_list(sub_entry)).alias("__cs_map"),
            F.first(wild_entry, ignorenulls=True).alias("__c"),
        )
    )
    # single-row scalar dim: substance → (·, sub)-bucket entry map, the
    # (·, ·) wildcard entry, and (optionally) the malformed-row count
    scalar = g.where(F.col("category").isNull()).agg(
        F.map_from_entries(F.collect_list(sub_entry)).alias("__s_map"),
        F.first(wild_entry, ignorenulls=True).alias("__w"),
    )
    if bad_rows is not None:
        scalar = scalar.crossJoin(bad_rows)

    e = (
        emissions.join(F.broadcast(cat_dim), "category", "left")
        .crossJoin(F.broadcast(scalar))
        .withColumn("__cs", F.try_element_at("__cs_map", F.col("substance")))
        .withColumn("__s", F.try_element_at("__s_map", F.col("substance")))
    )
    picked = (
        F.when(F.col("__cs.pid").isNotNull(), F.col("__cs"))
        .when(F.col("__c.pid").isNotNull(), F.col("__c"))
        .when(F.col("__s.pid").isNotNull(), F.col("__s"))
        .otherwise(F.col("__w"))
    )
    e = e.withColumn("__hit", picked)
    dup = F.coalesce(F.col("__hit.dup"), F.lit(False))
    if extra:
        dup = dup | (F.col("__bad") > 0)
    # a dangling profile_id (index points at a pid ≥ 0 the store lacks)
    # would otherwise degrade to sf 1.0 silently; pid −1 IS the
    # constant-profile convention and legitimately has no store row
    dangling = (
        F.col("__hit.pid").isNotNull()
        & (F.col("__hit.pid") >= 0)
        & F.col("__hit.profs").isNull()
    )
    guard = F.when(
        dup,
        F.raise_error(
            F.concat(
                F.lit("temporal profile index is ambiguous for (category="),
                F.col("category"),
                F.lit(", substance="),
                F.col("substance"),
                F.lit(") — collapse duplicates / resolve cell|country dims first"),
            )
        ).cast("double"),
    ).when(
        dangling,
        F.raise_error(
            F.concat(
                F.lit("temporal profile index references profile_id "),
                F.col("__hit.pid").cast("string"),
                F.lit(" which is missing from the profile store"),
            )
        ).cast("double"),
    ).otherwise(F.lit(1.0))
    e = (
        e.withColumn("profile_id", F.col("__hit.pid"))
        .withColumn("__guard", guard)
        .withColumn("__profs", F.col("__hit.profs"))
    )
    drop_cols = ["__cs_map", "__c", "__s_map", "__w", "__cs", "__s", "__hit"]
    if extra:
        drop_cols.append("__bad")
    return e.drop(*drop_cols)


def composite_scaling_factor(ts: Column, profs: Column, guard: Column) -> Column:
    """Product of per-type scaling factors over a ``__profs`` array
    (null/empty → 1.0) — the composite product of
    get_scaling_factors_at_time (temporal/operators.py:139-147)."""
    product = F.aggregate(
        F.coalesce(profs, F.array()),
        F.lit(1.0),
        lambda acc, p: acc * scaling_factor_at(ts, p["ptype"], p["ratios"]),
    )
    return product * guard


#: Conf key for the dimension-side scaling-factor table's row budget
#: (distinct (category, substance) combos × time ticks).  The table is
#: broadcast, so its size is a DRIVER/executor-memory commitment, not a
#: correctness knob; the default budget (20M rows ≈ a few hundred MB
#: broadcast) is far above any real inventory (reference inventories
#: hold tens of categories × tens of substances).
SF_DIM_MAX_ROWS_CONF = "spark.emiproc.sfdim.maxRows"
SF_DIM_MAX_ROWS_DEFAULT = 20_000_000


def check_sf_dim_budget(dims: DataFrame, n_ticks: int, what: str) -> int:
    """Guard the dimension-side ``sf_dim`` broadcast's cardinality.

    ``temporally_scaled`` / ``export_fluxie`` / ``hourly_emission_stream``
    evaluate the composite scaling-factor fold on (distinct combos ×
    ticks) and broadcast the result — correct and 20× faster for the
    documented low-cardinality (category, substance) contract, but a
    pathological caller (say 50k combos × 8784 h ≈ 440M rows) would
    die with an opaque broadcast/driver OOM.  This counts the combos
    (one cheap two-column distinct — noise next to the expansion it
    precedes) and raises a NAMED error past the budget, pointing at
    the fact-side alternatives.  Returns the combo count.

    Budget override: ``spark.emiproc.sfdim.maxRows`` (rows).
    """
    budget = int(
        dims.sparkSession.conf.get(
            SF_DIM_MAX_ROWS_CONF, str(SF_DIM_MAX_ROWS_DEFAULT)
        )
    )
    n_combos = dims.count()
    total = n_combos * int(n_ticks)
    if total > budget:
        raise ValueError(
            f"{what}: the dimension-side scaling-factor table would hold "
            f"{n_combos} distinct (category, substance) combos x "
            f"{n_ticks} time ticks = {total} rows, past the "
            f"{budget}-row broadcast budget ({SF_DIM_MAX_ROWS_CONF}). "
            "The dimension-side plan assumes low-cardinality combos; "
            "for combo-explosive inputs pre-aggregate the combo space, "
            "chunk the time range into several calls, or use the "
            "cell-keyed path (temporally_scaled_cellwise), which joins "
            "its sf table instead of force-broadcasting it."
        )
    return n_combos


def temporally_scaled(
    emissions: DataFrame,
    tprofile_index: DataFrame,
    tprofiles: DataFrame,
    start: str,
    hours: int,
    year_hours: int = 8760,
    source_type: str | None = "gridded",
) -> DataFrame:
    """The annual→hourly expansion (reference get_temporally_scaled_array,
    emiproc/exports/utils.py:13-156): hourly rate =
    value_kg_y / year_hours · sf(profile, t).

    Index wildcards resolve by specificity (see :func:`attach_profiles`);
    a LEFT-join miss or profile_id −1 ⇒ sf 1.0 (constant profile);
    ambiguous index rows raise instead of fanning out the fact table.

    Plan shape: the scaling factor depends only on (category, substance,
    hour), so the date-function-heavy composite fold evaluates on a
    DIMENSION-side ``sf_dim`` table — the facts' distinct combos × the
    hour scaffold — and the fact table fans out through ONE broadcast
    hash join (the ``sf_tab`` shape :func:`temporally_scaled_cellwise`
    already uses).  Folding per fact×hour row instead measured **20×
    slower** at the year shape (200k facts × 8760 h: 220–244 s vs
    11–13 s warm, interleaved A/B, PLANS round-10) — at 100 TB the
    expansion output is unavoidable but the per-row expression work is
    not.  Products are bit-identical (same expression, same inputs,
    same multiply).  The join keys are null-safe: ``sf_dim`` covers the
    facts' combos by construction INCLUDING NULL-keyed ones (profile
    miss ⇒ sf 1.0), which a plain equi-join would silently drop.  The
    fact table is touched twice (a tiny distinct over two low-
    cardinality columns + the fan-out scan) — at expansion ratios of
    10³–10⁴ the extra pass is noise.

    The low-cardinality contract is GUARDED: the combo count is checked
    against the ``sf_dim`` row budget (:func:`check_sf_dim_budget`) and
    a combo-explosive caller gets a named error instead of a broadcast
    OOM (r10 advisor).  The distinct is localCheckpoint'd (eager) so
    the guard's count and the broadcast build share ONE scan of the
    fact table — count-then-rebuild would scan it twice, and at 100 TB
    the second pass costs more than the guard protects.
    """
    dims = (
        emissions.select("category", "substance")
        .distinct()
        .localCheckpoint(eager=True)
    )
    check_sf_dim_budget(dims, hours, "temporally_scaled")
    times = time_scaffold(emissions, start, hours)
    sf = composite_scaling_factor(F.col("ts"), F.col("__profs"), F.col("__guard"))
    sf_dim = (
        attach_profiles(dims, tprofile_index, tprofiles, source_type)
        .crossJoin(times)
        .select(
            F.col("category").alias("__c"),
            F.col("substance").alias("__s"),
            "hour_index",
            "ts",
            sf.alias("__sf"),
        )
    )
    fact = widen_for_fanout(emissions)
    return fact.join(
        F.broadcast(sf_dim),
        F.col("category").eqNullSafe(F.col("__c"))
        & F.col("substance").eqNullSafe(F.col("__s")),
    ).select(
        "cell_id",
        "category",
        "substance",
        "hour_index",
        "ts",
        (
            F.col("value_kg_y") / F.lit(float(year_hours)) * F.col("__sf")
        ).alias("value_kg_h"),
    )


def temporally_scaled_cellwise(
    emissions: DataFrame,
    cell_profiles: DataFrame,
    start: str,
    hours: int,
    year_hours: int = 8760,
) -> DataFrame:
    """Annual→hourly expansion for CELL-keyed profiles — the missing
    half of :func:`temporally_scaled`, which broadcasts a dimension
    index and therefore rejects cell-varying rows.  This is the step
    after ``country_to_cells`` / ``remap_profiles``: every cell carries
    its own blended ratio vector (reference get_temporally_scaled_array
    over cell-dim indexes, emiproc/exports/utils.py:85-124).

    ``cell_profiles``: (cell_id[, category][, substance], ptype, ratios)
    long rows, several ptypes per key allowed (composite product).
    A cell with no profile row gets sf 1.0 (constant), the shared
    join-miss convention.

    Plan shape: the composite fold evaluates ONCE per (cell, hour) —
    |profiles|·h rows, the ``sf_tab`` — instead of per fact×hour row
    (the fact table usually fans out further over (category,
    substance), and carrying ratio arrays through that fan-out would
    also widen every shuffled row).  ``sf_tab`` is then pivoted to ONE
    hour-ordered sf vector per key and joined to the facts BEFORE the
    hour fan-out, which happens map-side by exploding the vector: the
    h-times-expanded relation never crosses an exchange (joining the
    expanded facts to the long ``sf_tab`` instead shuffled+sorted
    |facts|·h rows whenever the cost model missed the broadcast — the
    collect_list/cross-join lineage has no usable size estimate).
    When BOTH the cell count and the hour range are large the sf
    vectors stop being broadcastable and the keys join shuffles the
    (un-expanded) facts — chunk the hour range (several calls over
    hour sub-ranges) to bound the vector width, the same batching the
    reference's export loop does.

    A duplicate (key, ptype) profile row would silently SQUARE the
    factor through the composite product — it raises instead (the
    cell-keyed analogue of attach_profiles' ambiguity guard).
    """
    keys = [c for c in cell_profiles.columns if c not in ("ptype", "ratios")]
    # count_distinct ignores NULLs: a lone NULL-ptype row (legal —
    # scaling_factor_at treats it as sf 1.0) would make count(*)=1 >
    # count_distinct=0 and spuriously raise; coalesce to a sentinel so
    # NULL counts as its own ptype value
    profs = cell_profiles.groupBy(*keys).agg(
        F.collect_list(F.struct("ptype", "ratios")).alias("__profs"),
        (
            F.count("*")
            > F.count_distinct(F.coalesce(F.col("ptype"), F.lit("\x00null")))
        ).alias("__dup"),
    )
    times = time_scaffold(emissions, start, hours)
    dup_guard = F.when(
        F.col("__dup"),
        F.raise_error(
            F.concat(
                F.lit("cell profile table has several rows per (key, "
                      "ptype) for key ("),
                F.concat_ws(", ", *[F.col(k).cast("string") for k in keys]),
                F.lit(") — the composite product would apply them all"),
            )
        ).cast("double"),
    ).otherwise(F.lit(1.0))
    sf_tab = profs.crossJoin(F.broadcast(times)).select(
        *keys,
        "hour_index",
        composite_scaling_factor(
            F.col("ts"), F.col("__profs"), dup_guard
        ).alias("__sf"),
    )
    # pivot to one hour-ordered sf vector per key (array_sort on the
    # (hour_index, sf) structs makes the collect_list order
    # deterministic; hour_index is 0..hours-1, so position i+1 IS hour
    # i).  The NULL-sf → 1.0 coalesce happens per element, exactly
    # where the long form coalesced the joined column.
    sf_arr = sf_tab.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("hour_index", "__sf"))).alias(
            "__sfa"
        )
    )
    fanned = (
        widen_for_fanout(emissions)
        .join(sf_arr, [*keys], "left")
        .select(
            "cell_id",
            "category",
            "substance",
            "value_kg_y",
            # map-side hour fan-out: explode the sf vector itself (a
            # profile-less key explodes a constant-1.0 vector) — the
            # exploded array is consumed by the Generate, never carried
            # per output row
            F.posexplode(
                F.coalesce(
                    F.transform(
                        "__sfa",
                        lambda x: F.coalesce(x["__sf"], F.lit(1.0)),
                    ),
                    F.array_repeat(F.lit(1.0), hours),
                )
            ).alias("hour_index", "__sf"),
        )
    )
    return fanned.select(
        "cell_id",
        "category",
        "substance",
        F.col("hour_index").cast("long").alias("hour_index"),
        (
            F.lit(start).cast("timestamp_ntz")
            + F.make_interval(hours=F.col("hour_index").cast("int"))
        ).alias("ts"),
        (
            F.col("value_kg_y") / F.lit(float(year_hours)) * F.col("__sf")
        ).alias("value_kg_h"),
    )
