"""Profile ingestion: CSV/YAML formats → profile store + index tables.

Reference formats (emiproc/profiles/temporal/io.py:91-208 and
profiles/vertical_profiles.py:254-399):

- temporal CSV: selector columns (category[, substance, country, type])
  + one column per period; the column-name set decides the profile class
  (24 hour columns → daily, 7 day names → weekly, 12 month names →
  monthly);
- vertical CSV: ``Category,Substance,20m,92m,…`` interval headers;
- values may be ratios (sum≈1) or scaling factors (mean≈1) — detected
  and normalized like io.py:167-181.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.localdf import collect_bounded, local_rows_df

from emiproc_spark.operators.profiles import dedup_profiles, normalize_ratios

DAY_NAMES = ["mon", "tue", "wed", "thu", "fri", "sat", "sun"]
MONTH_NAMES = [
    "jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec",
]


def detect_profile_type(period_cols: list[str]) -> str:
    """Column-name pattern → profile class (reference io.py:67-88)."""
    lower = [c.lower() for c in period_cols]
    if len(lower) == 24 and all(c.isdigit() or c.startswith("h") for c in lower):
        return "daily"
    if len(lower) == 7 and set(lower) == set(DAY_NAMES):
        return "weekly"
    if len(lower) == 12 and set(lower) == set(MONTH_NAMES):
        return "monthly"
    if len(lower) in (8760, 8784):
        return "hour_of_year"
    raise ValueError(f"cannot infer profile type from columns {period_cols[:5]}…")


def read_temporal_profiles_csv(
    spark: SparkSession,
    path: str,
    selector_cols: list[str],
    **options,
) -> tuple[DataFrame, DataFrame]:
    """CSV → (tprofile store, index).  Period columns are every column
    not in ``selector_cols``; order follows a canonical period ordering.
    Rows are auto-normalized: scaling factors (mean 1) and ratios
    (sum 1) both end as ratios (reference io.py:167-181)."""
    raw = spark.read.options(header=True, inferSchema=True, **options).csv(path)
    period_cols = [c for c in raw.columns if c not in selector_cols]
    ptype = detect_profile_type(period_cols)
    ordered = _order_periods(period_cols, ptype)
    arr = F.array(*[F.col(f"`{c}`").cast("double") for c in ordered])
    prof = raw.select(
        *selector_cols, F.lit(ptype).alias("ptype"), normalize_ratios(arr).alias("ratios")
    )
    return dedup_profiles(prof)


def _order_periods(cols: list[str], ptype: str) -> list[str]:
    lower = {c.lower(): c for c in cols}
    if ptype == "weekly":
        return [lower[d] for d in DAY_NAMES]
    if ptype == "monthly":
        return [lower[m] for m in MONTH_NAMES]
    # numeric-ish headers sort by numeric value
    def keyfn(c: str):
        digits = "".join(ch for ch in c if ch.isdigit())
        return int(digits) if digits else 0

    return sorted(cols, key=keyfn)


def read_vertical_profiles_csv(
    spark: SparkSession,
    path: str,
    selector_cols: list[str],
    **options,
) -> tuple[DataFrame, DataFrame]:
    """Vertical CSV with height headers like ``20m,92m,184m`` (reference
    vertical_profiles.py:276-364): header order gives the level tops."""
    raw = spark.read.options(header=True, inferSchema=True, **options).csv(path)
    height_cols = [c for c in raw.columns if c not in selector_cols]
    tops = sorted(
        (float("".join(ch for ch in c if ch.isdigit() or ch == ".")), c)
        for c in height_cols
    )
    arr = F.array(*[F.col(f"`{c}`").cast("double") for _, c in tops])
    prof = raw.select(
        *selector_cols,
        F.lit("vertical").alias("ptype"),
        normalize_ratios(arr).alias("ratios"),
    )
    store, index = dedup_profiles(prof)
    heights = F.array(*[F.lit(t) for t, _ in tops])
    return store.withColumn("heights_top_m", heights).select(
        "profile_id", "heights_top_m", "ratios"
    ), index


# reference from_yaml key aliases (io.py:230-239): several names map to
# the same profile class; diurn_<day> keys carry a specific day
_YAML_KEY_PTYPE = {
    **{k: "daily" for k in ("diurn", "daily", "day")},
    **{k: "weekly" for k in ("weekly", "week")},
    **{k: "monthly" for k in ("season", "year", "monthly", "month")},
}
# the reference SpecificDay enum VALUES (specific_days.py:12-27): full
# lowercase day names plus the three range types — a reference-authored
# YAML key like ``diurn_monday`` or ``diurn_weekday_4`` must round-trip
_SPECIFIC_DAYS = (
    "monday", "tuesday", "wednesday", "thursday", "friday",
    "saturday", "sunday", "weekday", "weekday_4", "weekend",
)
# mon..sun abbreviations: accepted on READ (files written by earlier
# releases of this package used them) and canonicalized to the full
# reference names, so to_yaml always emits reference-parseable keys
_DAY_ALIASES = {
    "mon": "monday", "tue": "tuesday", "wed": "wednesday",
    "thu": "thursday", "fri": "friday", "sat": "saturday", "sun": "sunday",
}


def _canonical_day(day: str) -> str | None:
    day = _DAY_ALIASES.get(day, day)
    return day if day in _SPECIFIC_DAYS else None


def profiles_from_yaml(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """YAML profile definitions (reference io.py:211-281): the alias
    keys above plus ``diurn_<day>`` (SpecificDayProfile) each hold a
    ratio list.  Divergence from the reference: non-normalized ratios
    are normalized rather than rejected (the reference raises when a
    list does not sum to 1); like the reference, two keys mapping to
    the same profile type raise."""
    import yaml  # gated: pyyaml may be absent

    with open(path) as f:
        spec = yaml.safe_load(f)
    rows = []
    seen: set[str] = set()
    for key, value in (spec or {}).items():
        if key in _YAML_KEY_PTYPE:
            ptype = _YAML_KEY_PTYPE[key]
        elif key.startswith("diurn_") and _canonical_day(key[6:]) is not None:
            # specific-day diurnal cycle: encoded as ptype daily_<day>
            # (full reference day name, abbreviations canonicalized);
            # split for ensure_specific_days_consistency downstream
            ptype = f"daily_{_canonical_day(key[6:])}"
        else:
            continue  # unknown key: warn+skip in the reference
        if ptype in seen:
            raise ValueError(
                f"{path}: key {key!r} maps to profile type {ptype!r} "
                "which was already added (reference io.py:249-253)"
            )
        seen.add(ptype)
        rows.append((spec.get("name", path), ptype, [float(x) for x in value]))
    prof = local_rows_df(spark, rows, "name string, ptype string, ratios array<double>")
    prof = prof.withColumn("ratios", normalize_ratios(F.col("ratios")))
    return dedup_profiles(prof)


def profiles_to_yaml(profiles: DataFrame, path: str) -> str:
    """Write temporal profiles to the reference's YAML layout
    (reference to_yaml, io.py:284-306): one key per profile type —
    ``daily`` / ``diurn_<day>`` / ``weekly`` / ``monthly`` — each a
    plain ratio list, dumped verbatim (the reference dumps
    ``profile.ratios`` as-is).  ``profiles``: (ptype, ratios) with
    ptype in {daily, weekly, monthly, daily_<day>}; other types raise
    ``NotImplementedError`` like the reference.  Divergence: duplicate
    types raise instead of last-wins (silent overwrite loses data).
    The store is profile-count-sized, so the collect is bounded."""
    import yaml  # gated: pyyaml may be absent

    key_of = {"daily": "daily", "weekly": "weekly", "monthly": "monthly"}
    data: dict[str, list[float]] = {}
    for r in collect_bounded(profiles.select("ptype", "ratios"), "profiles_to_yaml"):
        ptype = r["ptype"]
        if ptype in key_of:
            key = key_of[ptype]
        elif ptype.startswith("daily_") and _canonical_day(ptype[6:]) is not None:
            # abbreviations from stores written by earlier releases are
            # canonicalized so the emitted key parses in the reference
            key = f"diurn_{_canonical_day(ptype[6:])}"
        else:
            raise NotImplementedError(
                f"Cannot write profile type {ptype!r} to yaml "
                "(reference to_yaml supports daily/specific-day/weekly/"
                "monthly, io.py:289-301)"
            )
        if key in data:
            raise ValueError(f"duplicate profile type {ptype!r} for yaml key {key!r}")
        data[key] = [float(x) for x in r["ratios"]]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        yaml.safe_dump(data, f)
    return path
