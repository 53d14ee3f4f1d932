"""Data-quality gates: declarative expectation checks and referential-
integrity audits — the validation pass a pipeline runs on every new
drop BEFORE curation touches it (the reference validates inventories
with hand-written asserts, e.g. emiproc/inventories/__init__.py's
column checks; this is that idea made declarative and distributed).

Both operators are single-aggregate plans: expectations ride ONE
aggregation over the table (count-distinct rules plan as Spark's
Expand, the same strategy as stats.profile_table), and the orphan audit
is one anti-join-shaped aggregate per foreign key — nothing driver-side,
nothing per-rule."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from emiproc_spark.localdf import collect_bounded

_KINDS = ("not_null", "unique", "range", "regex", "in_set")


def validate_expectations(
    df: DataFrame,
    rules: Sequence[tuple[str, str, dict]],
) -> DataFrame:
    """Evaluate declarative per-column expectations in ONE pass.

    ``rules`` is [(column, kind, params), ...] with kinds:

    - ``not_null`` — violation: the value is NULL
    - ``unique`` — violations: rows beyond the first per distinct
      value (n_nonnull − n_distinct); NULLs are not counted
    - ``range`` — params ``lo``/``hi`` (either optional, inclusive);
      violation: non-NULL value outside [lo, hi]
    - ``regex`` — param ``pattern``; violation: non-NULL value the
      pattern does not match anywhere (unanchored search, ``rlike``
      semantics; anchor with ``^...$`` for full-match)
    - ``in_set`` — param ``values``; violation: non-NULL value outside
      the set

    NULLs only violate ``not_null`` (add one to assert presence too —
    the SQL convention).  Returns one row per rule:
    (column, kind, n_rows, n_violations, pass) — all rules share one
    aggregation job over the table.
    """
    if not rules:
        raise ValueError("validate_expectations: no rules given")
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, (col, kind, params) in enumerate(rules):
        if col not in df.columns:
            raise ValueError(f"no such column {col!r}")
        c = F.col(col)
        if kind == "not_null":
            viol = F.count(F.when(c.isNull(), 1))
        elif kind == "unique":
            viol = F.count(c) - F.count_distinct(c)
        elif kind == "range":
            lo, hi = params.get("lo"), params.get("hi")
            if lo is None and hi is None:
                raise ValueError("range rule needs lo and/or hi")
            bad = F.lit(False)
            if lo is not None:
                bad = bad | (c < F.lit(lo))
            if hi is not None:
                bad = bad | (c > F.lit(hi))
            viol = F.count(F.when(c.isNotNull() & bad, 1))
        elif kind == "regex":
            viol = F.count(
                F.when(
                    c.isNotNull()
                    & ~c.cast("string").rlike(str(params["pattern"])),
                    1,
                )
            )
        elif kind == "in_set":
            vals = list(params["values"])
            if not vals:
                raise ValueError("in_set rule needs a non-empty set")
            viol = F.count(F.when(c.isNotNull() & ~c.isin(vals), 1))
        else:
            raise ValueError(f"unknown rule kind {kind!r}; one of {_KINDS}")
        aggs.append(viol.cast("long").alias(f"__v_{i}"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(col).alias("column"),
            F.lit(kind).alias("kind"),
            F.col("__n").alias("n_rows"),
            F.col(f"__v_{i}").alias("n_violations"),
            (F.col(f"__v_{i}") == 0).alias("pass"),
        )
        for i, (col, kind, _params) in enumerate(rules)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    relation: str = "fk",
) -> DataFrame:
    """Referential-integrity audit: child rows whose foreign key has no
    parent — (relation, n_child, n_orphans, pass).

    NULL foreign keys count as orphans (they reference nothing); use a
    ``not_null`` expectation to separate the two failure modes.  Plan:
    the distinct parent-key side joins the child (broadcast when it
    fits, AQE otherwise) — one aggregate, no driver collect; at 100 TB
    this is the same shape as any dimension-integrity probe.
    """
    p = parent.select(F.col(parent_key).alias("__pk")).distinct()
    j = child.select(F.col(child_key).alias("__ck")).join(
        p, F.col("__ck") == F.col("__pk"), "left"
    )
    return j.agg(
        F.lit(relation).alias("relation"),
        F.count(F.lit(1)).alias("n_child"),
        F.count(F.when(F.col("__pk").isNull(), 1)).cast("long").alias(
            "n_orphans"
        ),
    ).withColumn("pass", F.col("n_orphans") == 0)


def ratio_sum_gate(
    df: DataFrame,
    group_cols: Sequence[str],
    ratio_col: str,
    tol_ticks: int = 32,
    relation: str = "ratio_sum_1",
) -> DataFrame:
    """Domain invariant as a declarative gate: every group's ratios
    must sum to 1 (temporal/vertical profile rows, speciation splits —
    the checks the reference hand-asserts per reader, e.g.
    emiproc/profiles/temporal/profiles.py's ``ratios.sum() == 1``).

    Ratios quantize per-row to 1e-9 ticks and integer-sum exactly, so
    the check is aggregation-order independent; a group violates when
    its tick sum strays more than ``tol_ticks`` from 1e9 (default 32
    ticks ≈ 3.2e-8 — covers worst-case per-row rounding for profiles
    up to 64 entries).  Returns ONE row:
    (relation, n_groups, n_violations, pass) — one aggregation over
    the ratio table, one dimension-sized reduction.
    """
    q = F.floor(F.col(ratio_col) * F.lit(1e9) + F.lit(0.5)).cast("long")
    g = df.groupBy(*group_cols).agg(F.sum(q).alias("__s"))
    viol = F.abs(F.col("__s") - F.lit(1_000_000_000)) > F.lit(int(tol_ticks))
    return g.agg(
        F.lit(relation).alias("relation"),
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(viol, 1)).cast("long").alias("n_violations"),
    ).withColumn("pass", F.col("n_violations") == 0)


def mass_conservation_gate(
    before: DataFrame,
    after: DataFrame,
    value_col: str = "value_kg_y",
    by: Sequence[str] = ("substance",),
    rtol: float = 1e-6,
    relation: str = "mass_conservation",
) -> DataFrame:
    """Conservation audit between two stages of an emission pipeline:
    per-``by`` totals of ``value_col`` must agree within ``rtol``
    relative — the reference's ``total_emissions_almost_equal``
    (emiproc/utils/inventory.py) recast as a gate frame a pipeline
    runs by default instead of an ad-hoc assert.

    Totals are µ-quantized exact sums (``qhelpers.sumd``), so both
    sides are deterministic doubles; a group missing from either side
    counts as 0.  Returns ONE row:
    (relation, n_groups, n_violations, pass).  Plan: one aggregate per
    side + a dimension-sized outer join — the fact tables are each
    scanned once, nothing driver-side.
    """
    from emiproc_spark.qhelpers import sumd

    by = list(by)
    t0 = before.groupBy(*by).agg(sumd(value_col).alias("__t0"))
    t1 = after.groupBy(*by).agg(sumd(value_col).alias("__t1"))
    j = t0.join(t1, by, "full")
    a = F.coalesce(F.col("__t0"), F.lit(0.0))
    b = F.coalesce(F.col("__t1"), F.lit(0.0))
    viol = F.abs(b - a) > F.lit(float(rtol)) * F.greatest(
        F.abs(a), F.abs(b), F.lit(1e-300)
    )
    return j.agg(
        F.lit(relation).alias("relation"),
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(viol, 1)).cast("long").alias("n_violations"),
    ).withColumn("pass", F.col("n_violations") == 0)


def enforce_gates(gates: DataFrame, context: str = "pipeline") -> None:
    """Materialize a gate frame (one row per rule — dimension-sized by
    construction) and raise loudly when any rule fails.  The gate
    frames above and ``validate_expectations``' output all carry a
    boolean ``pass`` column; anything with one can be enforced."""
    bad = [r.asDict() for r in collect_bounded(gates, f"{context} gates") if not r["pass"]]
    if bad:
        raise ValueError(f"{context}: data-quality gates failed: {bad}")
