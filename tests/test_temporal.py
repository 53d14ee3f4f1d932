import pytest
from pyspark.sql import functions as F

from emiproc_spark.core.schemas import EMISSIONS, TPROFILE
from emiproc_spark.operators.temporal import (
    position_in_profile,
    temporally_scaled,
    time_scaffold,
)


@pytest.fixture(scope="module")
def tprofiles(spark):
    daily = [(h + 1) / 300.0 for h in range(24)]
    weekly = [(d + 1) / 28.0 for d in range(7)]
    return spark.createDataFrame(
        [(0, "daily", daily), (2, "weekly", weekly)], schema=TPROFILE
    )


def test_position_exprs(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-01 13:00:00",), ("2024-03-05 07:00:00",)],
        schema="s string",
    ).withColumn("ts", F.col("s").cast("timestamp_ntz"))
    rows = df.select(
        position_in_profile(F.col("ts"), "daily").alias("d"),
        position_in_profile(F.col("ts"), "weekly").alias("w"),
        position_in_profile(F.col("ts"), "monthly").alias("m"),
        position_in_profile(F.col("ts"), "day_of_year").alias("doy"),
        position_in_profile(F.col("ts"), "hour_of_week").alias("how"),
    ).collect()
    # 2024-01-01 is a Monday
    assert (rows[0]["d"], rows[0]["w"], rows[0]["m"], rows[0]["doy"]) == (0, 0, 0, 0)
    assert rows[1]["d"] == 13 and rows[1]["how"] == 13
    assert rows[2]["m"] == 2 and rows[2]["w"] == 1  # March, Tuesday


def test_time_scaffold(spark):
    ts = time_scaffold(spark.range(1), "2024-01-01 00:00:00", 48)
    rows = ts.orderBy("hour_index").collect()
    assert len(rows) == 48
    assert str(rows[25]["ts"]) == "2024-01-02 01:00:00"


def test_temporal_expansion_conserves_annual_total(spark, tprofiles):
    emissions = spark.createDataFrame(
        [(0, "A", "CO2", 8784.0), (1, "B", "CO2", 100.0)], schema=EMISSIONS
    )
    index = spark.createDataFrame(
        [("A", "CO2", 0), ("B", "CO2", -1)],
        schema="category string, substance string, profile_id int",
    )
    # over a full cycle (24 h) the daily profile's mean sf is 1.0
    out = temporally_scaled(emissions, index, tprofiles, "2024-01-01 00:00:00", 24, 8784)
    sums = {
        r["category"]: r["s"]
        for r in out.groupBy("category").agg(F.sum("value_kg_h").alias("s")).collect()
    }
    # A: 8784/8784=1 kg/h average × 24 h = 24 kg
    assert sums["A"] == pytest.approx(24.0)
    # B: constant profile → 100/8784 per hour × 24
    assert sums["B"] == pytest.approx(100.0 / 8784 * 24)


def test_temporal_weekly_profile(spark, tprofiles):
    emissions = spark.createDataFrame([(0, "R", "CO2", 7.0 * 8784)], schema=EMISSIONS)
    index = spark.createDataFrame(
        [("R", "CO2", 2)], schema="category string, substance string, profile_id int"
    )
    out = temporally_scaled(emissions, index, tprofiles, "2024-01-01 00:00:00", 7 * 24, 8784)
    per_day = (
        out.withColumn("day", (F.col("hour_index") / 24).cast("int"))
        .groupBy("day")
        .agg(F.sum("value_kg_h").alias("s"))
        .orderBy("day")
        .collect()
    )
    # Monday (pos 0) weight 1/28 → day total = 7*8784/8784 * (1/28*7) * 24
    assert per_day[0]["s"] == pytest.approx(7.0 * (1 / 28 * 7) * 24)
    assert per_day[6]["s"] == pytest.approx(7.0 * (7 / 28 * 7) * 24)


def test_local_scaling_series_tz_wall_clock(spark):
    from pyspark.sql import functions as F

    from emiproc_spark.operators.temporal import local_scaling_series

    df = spark.createDataFrame(
        [("2020-06-01 12:00:00", "Europe/Zurich"), ("2020-06-01 12:00:00", "UTC")],
        "t string, tz string",
    ).withColumn("ts_ntz", F.col("t").cast("timestamp_ntz"))
    ratios = F.array(*[F.lit((h + 1) / 300.0) for h in range(24)])
    out = {r["tz"]: r for r in local_scaling_series(df, ratios, "daily").collect()}
    # 12:00 UTC is 14:00 in Zurich (DST)
    assert out["Europe/Zurich"]["pos_local"] == 14
    assert out["UTC"]["pos_local"] == 12
    assert abs(out["UTC"]["sf"] - 13 / 300.0 * 24) < 1e-12


def test_temporally_scaled_cellwise_miss_and_composite(spark):
    from emiproc_spark.operators.temporal import temporally_scaled_cellwise

    e = spark.createDataFrame(
        [(0, "A", "F", 8760.0), (1, "A", "F", 8760.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    # cell 0: daily profile doubling hour 0; cell 1: no profile → sf 1
    daily = [0.0] * 24
    daily[0] = 2.0 / 24
    for h in range(1, 24):
        daily[h] = (1.0 - 2.0 / 24) / 23
    profs = spark.createDataFrame(
        [(0, "daily", daily)], "cell_id long, ptype string, ratios array<double>"
    )
    out = temporally_scaled_cellwise(e, profs, "2024-01-02 00:00:00", 2)
    rows = {(r["cell_id"], r["hour_index"]): r["value_kg_h"] for r in out.collect()}
    assert rows[(1, 0)] == pytest.approx(1.0)  # join miss → constant
    assert rows[(1, 1)] == pytest.approx(1.0)
    assert rows[(0, 0)] == pytest.approx(2.0)  # ratio*24 at hour 0
    # composite: add a weekly type for cell 0 → factors multiply
    wk = [0.0] * 7
    wk[1] = 3.0 / 7  # 2024-01-02 is a Tuesday (weekday index 1)
    for d in range(7):
        if d != 1:
            wk[d] = (1.0 - 3.0 / 7) / 6
    profs2 = profs.union(
        spark.createDataFrame(
            [(0, "weekly", wk)], "cell_id long, ptype string, ratios array<double>"
        )
    )
    out2 = temporally_scaled_cellwise(e, profs2, "2024-01-02 00:00:00", 1)
    rows2 = {(r["cell_id"], r["hour_index"]): r["value_kg_h"] for r in out2.collect()}
    assert rows2[(0, 0)] == pytest.approx(2.0 * 3.0)


def test_specific_day_profile_scaling(spark):
    """SpecificDayProfile semantics (reference temporal/operators.py:
    71-75,139-144): ratio*24 on the profile's days, factor 1.0 (no
    scaling) on off-days — including the range types."""
    from emiproc_spark.operators.temporal import scaling_factor_at, time_scaffold

    rat = [(h + 1) / 300.0 for h in range(24)]
    subs = spark.createDataFrame(
        [("daily_saturday", rat), ("daily_weekday_4", rat)],
        "ptype string, ratios array<double>",
    )
    # 2024-01-01 is a Monday
    hours = time_scaffold(subs, "2024-01-01 00:00:00", 168)
    out = hours.crossJoin(subs).select(
        "hour_index", "ptype",
        scaling_factor_at(F.col("ts"), F.col("ptype"), F.col("ratios")).alias("sf"),
    ).collect()
    for r in out:
        dow, hour = r["hour_index"] // 24, r["hour_index"] % 24
        on = (dow == 5) if r["ptype"] == "daily_saturday" else (dow <= 3)
        want = rat[hour] * 24 if on else 1.0
        assert r["sf"] == pytest.approx(want), (r["ptype"], dow, hour)


def test_scaling_factor_unknown_ptype_raises(spark):
    """A typo'd ptype must not silently become the constant profile."""
    from emiproc_spark.operators.temporal import scaling_factor_at

    df = spark.createDataFrame(
        [("hour_of_day", [1.0] * 24)], "ptype string, ratios array<double>"
    )
    ts = F.lit("2024-01-01 13:00:00").cast("timestamp_ntz")
    bad = df.select(scaling_factor_at(ts, F.col("ptype"), F.col("ratios")).alias("sf"))
    with pytest.raises(Exception, match="unknown profile type"):
        bad.collect()
    # null ptype / null ratios stay the 1.0 convention
    ok = spark.createDataFrame(
        [(None, [1.0] * 24), ("daily", None)], "ptype string, ratios array<double>"
    ).select(scaling_factor_at(ts, F.col("ptype"), F.col("ratios")).alias("sf"))
    assert [r["sf"] for r in ok.collect()] == [1.0, 1.0]


def test_local_scaling_series_specific_day_off_days(spark):
    """local_scaling_series on a specific-day ptype: off-days yield
    sf 1.0 instead of crashing on element_at(ratios, 0)."""
    from emiproc_spark.operators.temporal import local_scaling_series

    df = spark.createDataFrame(
        [  # Monday and Saturday 13:00 UTC wall times
            ("2024-01-01 13:00:00", "UTC"),
            ("2024-01-06 13:00:00", "UTC"),
        ],
        "ts_raw string, tz string",
    ).select(F.col("ts_raw").cast("timestamp_ntz").alias("ts_ntz"), "tz")
    rat = F.array(*[F.lit((h + 1) / 300.0) for h in range(24)])
    out = local_scaling_series(df, rat, "daily_saturday").orderBy("ts_ntz").collect()
    assert out[0]["sf"] == pytest.approx(1.0)                # Monday: off-day
    assert out[1]["sf"] == pytest.approx(14 / 300.0 * 24)    # Saturday 13h


def test_attach_profiles_dangling_pid_raises(spark):
    from emiproc_spark.operators.temporal import (
        attach_profiles,
        composite_scaling_factor,
    )

    facts = spark.createDataFrame(
        [("heat", "CO2", 1.0)], "category string, substance string, value_kg_y double"
    )
    idx = spark.createDataFrame(
        [("heat", "CO2", 42)], "category string, substance string, profile_id int"
    )
    store = spark.createDataFrame(
        [(0, "daily", [1.0 / 24] * 24)],
        "profile_id int, ptype string, ratios array<double>",
    )
    att = attach_profiles(facts, idx, store)
    ts = F.lit("2024-01-01 13:00:00").cast("timestamp_ntz")
    out = att.select(
        composite_scaling_factor(ts, F.col("__profs"), F.col("__guard")).alias("sf")
    )
    with pytest.raises(Exception, match="missing from the profile store"):
        out.collect()
    # pid -1 is the constant-profile convention: sf 1.0, no raise
    idx_const = spark.createDataFrame(
        [("heat", "CO2", -1)], "category string, substance string, profile_id int"
    )
    att2 = attach_profiles(facts, idx_const, store)
    got = att2.select(
        composite_scaling_factor(ts, F.col("__profs"), F.col("__guard")).alias("sf")
    ).collect()
    assert got[0]["sf"] == 1.0


def test_cellwise_duplicate_profile_row_raises(spark):
    from emiproc_spark.operators.temporal import temporally_scaled_cellwise

    e = spark.createDataFrame(
        [(0, "traffic", "CO2", 8760.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    dup = spark.createDataFrame(
        [(0, "daily", [1.0 / 24] * 24), (0, "daily", [2.0 / 24] * 24)],
        "cell_id long, ptype string, ratios array<double>",
    )
    with pytest.raises(Exception, match="several rows per"):
        temporally_scaled_cellwise(e, dup, "2024-01-01 00:00:00", 2).collect()


def test_cellwise_single_null_ptype_row_is_not_duplicate(spark):
    """A lone NULL-ptype profile row (sf 1.0 by contract) must not trip
    the duplicate-(key, ptype) guard — count_distinct ignores NULLs."""
    from datetime import datetime

    from emiproc_spark.operators.temporal import temporally_scaled_cellwise

    e = spark.createDataFrame(
        [(0, "c", "s", 24.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    profs = spark.createDataFrame(
        [(0, None, None)],
        "cell_id long, ptype string, ratios array<double>",
    )
    out = temporally_scaled_cellwise(
        e, profs, start="2024-01-01", hours=2, year_hours=8784
    )
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["value_kg_h"] == pytest.approx(24.0 / 8784.0) for r in rows)


def test_scaling_factor_at_short_array_names_real_problem(spark):
    from emiproc_spark.operators.temporal import scaling_factor_at

    # ANSI mode already fails loudly on short arrays (element_at index
    # error); the silent case is a NULL ELEMENT at the hit position
    df = spark.createDataFrame(
        [("daily", [None] * 24)], "ptype string, ratios array<double>"
    ).withColumn("ts", F.lit("2024-06-01 22:00:00").cast("timestamp"))
    bad = df.select(scaling_factor_at(F.col("ts"), F.col("ptype"), F.col("ratios")))
    with pytest.raises(Exception, match="ratios invalid for type"):
        bad.collect()
    ok = df.select(
        scaling_factor_at(
            F.col("ts"), F.lit("nonexistent_type"), F.col("ratios")
        ).alias("sf")
    )
    with pytest.raises(Exception, match="unknown profile type"):
        ok.collect()


def test_sf_dim_budget_guard(spark, tprofiles):
    """A combo-explosive caller must get a NAMED error before the
    dimension-side sf broadcast is built, not an opaque broadcast OOM
    (the low-cardinality contract of the r10 sf_dim plan).  The budget
    rides a conf key so the test can shrink it instead of building a
    genuinely huge frame."""
    from emiproc_spark.operators.temporal import (
        SF_DIM_MAX_ROWS_CONF,
        check_sf_dim_budget,
        temporally_scaled,
    )

    index = spark.createDataFrame(
        [("A", "CO2", 0)],
        schema="category string, substance string, profile_id int",
    )
    many = spark.range(500).select(
        F.lit(0).alias("cell_id"),
        F.concat(F.lit("cat"), F.col("id")).alias("category"),
        F.lit("CO2").alias("substance"),
        F.lit(1.0).alias("value_kg_y"),
    )
    spark.conf.set(SF_DIM_MAX_ROWS_CONF, "1000")
    try:
        with pytest.raises(ValueError, match="temporally_scaled.*500 distinct"):
            temporally_scaled(
                many, index, tprofiles, "2024-01-01 00:00:00", 24, 8784
            )
        # under the budget the helper returns the combo count
        dims = many.limit(10).select("category", "substance").distinct()
        assert check_sf_dim_budget(dims, 24, "unit") == 10
    finally:
        spark.conf.unset(SF_DIM_MAX_ROWS_CONF)
    # default budget: the same frame passes (500 x 24 << 20M)
    out = temporally_scaled(
        many, index, tprofiles, "2024-01-01 00:00:00", 2, 8784
    )
    assert out.count() == 500 * 2


def test_hdd_factors_hand_computed(spark):
    """HDD_d = (T_in - T_d)·[T_d < T_min], divided by the period mean
    (reference create_HDD_scaling_factor, profiles/hdd.py:9-90)."""
    from emiproc_spark.operators.temporal import hdd_factors

    temps = spark.createDataFrame(
        [(0, 10.0), (1, 20.0), (2, 5.0), (3, 12.0)], "day int, temp_c double"
    )
    got = {r["day"]: (r["hdd"], r["factor"]) for r in hdd_factors(temps).collect()}
    # hdd 10, 0, 15, 0 (12 °C is not below the 12 °C threshold); mean 6.25
    assert got == {
        0: pytest.approx((10.0, 1.6)),
        1: pytest.approx((0.0, 0.0)),
        2: pytest.approx((15.0, 2.4)),
        3: pytest.approx((0.0, 0.0)),
    }
    assert sum(f for _, f in got.values()) / len(got) == pytest.approx(1.0)


def test_hdd_factors_all_warm_series_is_flat(spark):
    from emiproc_spark.operators.temporal import hdd_factors

    temps = spark.createDataFrame(
        [(d, 15.0 + d) for d in range(4)], "day int, temp_c double"
    )
    rows = hdd_factors(temps).collect()
    assert len(rows) == 4
    assert all(r["hdd"] == 0.0 and r["factor"] == 1.0 for r in rows)
