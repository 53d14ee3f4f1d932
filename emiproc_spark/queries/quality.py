"""Statistics and data-quality queries.

Table profiling, distinct-count sketches, heavy hitters, quantiles,
outliers, drift, expectations and foreign-key integrity, plus the
mass, ratio and totals gates that check a transformation conserves
what it should.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark import pipelines
from emiproc_spark.core.schemas import TPROFILE
from emiproc_spark.fixtures import NS_PER_HOUR
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import basic as ops
from emiproc_spark.operators import regrid as rg
from emiproc_spark.operators.hotkeys import heavy_hitters
from emiproc_spark.operators.quality import (
    fk_orphans,
    mass_conservation_gate,
    ratio_sum_gate,
    validate_expectations,
)
from emiproc_spark.operators.stats import (
    group_quantiles,
    kmv_distinct,
    profile_table,
    psi_drift,
    robust_outliers,
    value_outliers,
)
from emiproc_spark.operators.text import length_percentiles, tokens
from emiproc_spark.qhelpers import qd, sql_qd, sql_sumd, sql_sumd_safe, sumd
from emiproc_spark.queries.profiles import tprofile_table
from emiproc_spark.registry import query


# ======================================================================
# totals invariant checker (reference total_emissions_almost_equal,
# emiproc/utilities.py:545-578) — distributed per-key comparison
# ======================================================================
def q_totals_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    factors = local_rows_df(spark,
        [("A", "F", 1.1), ("R", "O", 1.0000001)],
        schema="category string, substance string, factor double",
    )
    scaled = ops.scale_inventory(e, factors)
    diff = ops.total_emissions_diff(
        ops.get_total_emissions(e), ops.get_total_emissions(scaled)
    )
    # totals themselves are plain double sums (fold-order wobble across
    # engines) — compare only the tolerance verdicts, whose thresholds
    # (0.1 and 1e-7 vs rtol 1e-5) sit far from any ulp boundary
    return diff.select("substance", "category", "within_tol")


_SCALE_TOT = (
    "CASE WHEN category = 'A' AND substance = 'F' THEN 1.1 "
    "WHEN category = 'R' AND substance = 'O' THEN 1.0000001 ELSE 1.0 END"
)
SQL_TOTALS_EQUAL = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    ta AS (
        SELECT substance, category, SUM(value_kg_y) AS v FROM e GROUP BY 1, 2
        UNION ALL
        SELECT substance, '__total__', SUM(value_kg_y) FROM e GROUP BY substance
    ),
    tb AS (
        SELECT substance, category, SUM(value_kg_y * ({_SCALE_TOT})) AS v
        FROM e GROUP BY 1, 2
        UNION ALL
        SELECT substance, '__total__', SUM(value_kg_y * ({_SCALE_TOT}))
        FROM e GROUP BY substance
    )
    SELECT ta.substance, ta.category,
           (ta.v = tb.v OR GREATEST(ABS(ta.v), ABS(tb.v)) = 0.0
            OR ABS(ta.v - tb.v) / GREATEST(ABS(ta.v), ABS(tb.v)) <= 1e-5)
               AS within_tol
    FROM ta JOIN tb USING (substance, category)
"""

query(q_totals_equal, SQL_TOTALS_EQUAL)


# ======================================================================
# length_percentiles — exact corpus token-count percentiles via the
# histogram reduction (validated against DuckDB's quantile_cont)
# ======================================================================
def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fx.load(spark, sf_dir, "documents")
    return length_percentiles(docs).withColumn("value", qd("value"))


SQL_LENGTH_PERCENTILES = """
    WITH lens AS (
        SELECT len(string_split(text, ' ')) AS n FROM documents
    )
    SELECT q, {qd} AS value
    FROM (
        SELECT 0.25 AS q, quantile_cont(n, 0.25) AS v FROM lens
        UNION ALL SELECT 0.5, quantile_cont(n, 0.5) FROM lens
        UNION ALL SELECT 0.75, quantile_cont(n, 0.75) FROM lens
        UNION ALL SELECT 0.9, quantile_cont(n, 0.9) FROM lens
        UNION ALL SELECT 0.99, quantile_cont(n, 0.99) FROM lens
    )
""".format(qd=sql_qd("v"))

query(q_length_percentiles, SQL_LENGTH_PERCENTILES)


# ======================================================================
# heavy_hitters — sketch-then-confirm hot keys (operators/hotkeys.py)
# ======================================================================
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        fx.load(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
    )
    return heavy_hitters(d, "tok", k=20, capacity=1024)


SQL_HEAVY_HITTERS = """
    WITH tok AS (
        SELECT t.tok
        FROM (SELECT string_split(text, ' ') AS toks FROM documents),
             UNNEST(toks) AS t(tok)
        WHERE t.tok <> ''
    )
    SELECT tok, COUNT(*) AS n
    FROM tok GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
"""

query(q_heavy_hitters, SQL_HEAVY_HITTERS)


# ======================================================================
# table_profile — one-pass per-column stats (operators/stats.py)
# ======================================================================
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile every documents column in one aggregation job: non-null
    and exact-distinct counts, min/max as strings, quantized numeric
    sums.  The oracle recomputes each column's row independently."""

    return profile_table(fx.load(spark, sf_dir, "documents"))


def _sql_table_profile() -> str:
    rows = []
    for c, numeric in [
        ("doc_id", True),
        ("text", False),
        ("lang", False),
        ("source", False),
        ("n_chars", True),
    ]:
        # overflow-safe quantized sum (sumd_safe lockstep): decimal
        # accumulation + NULL past the quantizable magnitude
        s = (
            sql_sumd_safe(f"CAST({c} AS DOUBLE)")
            if numeric
            else "CAST(NULL AS DOUBLE)"
        )
        rows.append(f"""
        SELECT '{c}' AS "column",
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_nonnull,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str,
               {s} AS sum_num
        FROM documents""")
    return " UNION ALL ".join(rows)


SQL_TABLE_PROFILE = _sql_table_profile()

query(q_table_profile, SQL_TABLE_PROFILE)


# ======================================================================
# kmv_distinct — KMV cardinality sketch (operators/stats.py)
# ======================================================================
_KMV_K = 64
_KMV_DIGITS = 12
_KMV_DENOM = float(16**_KMV_DIGITS)  # 281474976710656.0, exact in double


def _sql_hexval(col: str, digits: int = _KMV_DIGITS) -> str:
    """Numeric value of the first ``digits`` lowercase-hex chars —
    unrolled positional sum (every term and the total are integers
    < 2^48, so double addition is exact in any order)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        f" * {float(16 ** (digits - 1 - i))!r}"
        for i in range(digits)
    ]
    return "(" + " + ".join(terms) + ")"


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("lang", "source", "text")
    return kmv_distinct(d, ["lang", "source"], "text", k=_KMV_K)


SQL_KMV_DISTINCT = f"""
    WITH d AS (
        SELECT DISTINCT lang, source, md5(text) AS h
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT lang, source, h,
               ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY h)
                   AS rn,
               COUNT(*) OVER (PARTITION BY lang, source) AS n_exact
        FROM d
    ),
    k AS (
        SELECT lang, source, n_exact, MAX(h) AS kth, COUNT(*) AS n_in
        FROM r WHERE rn <= {_KMV_K} GROUP BY lang, source, n_exact
    )
    SELECT lang, source, CAST(n_exact AS BIGINT) AS n_exact,
           {sql_qd(
               f"CASE WHEN n_in < {_KMV_K} THEN CAST(n_exact AS DOUBLE) "
               f"ELSE {float(_KMV_K - 1)!r} / "
               f"({_sql_hexval('kth')} / {_KMV_DENOM!r}) END",
               1e6,
           )} AS kmv_estimate
    FROM k
"""

query(q_kmv_distinct, SQL_KMV_DISTINCT)


# ======================================================================
# value_outliers — per-group z-score anomaly screen (operators/stats.py)
# ======================================================================
_Z = 3.0


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir).select("event_type", "value")
    return value_outliers(ev, ["event_type"], "value", z=_Z)


def _sql_value_outliers_moments() -> str:
    # overflow-safe quantized moments (qhelpers.sumd_safe lockstep)
    return f"""
        SELECT event_type,
               COUNT(value) AS n,
               {sql_sumd_safe('value')} AS s1,
               {sql_sumd_safe('value * value')} AS s2
        FROM events GROUP BY event_type
    """


SQL_VALUE_OUTLIERS = f"""
    WITH m AS ({_sql_value_outliers_moments()}),
    d AS (
        SELECT event_type, n, s1 / n AS mean,
               CASE WHEN n > 1
                    THEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) END AS var
        FROM m
    ),
    sd AS (
        SELECT event_type, n, mean,
               SQRT(CASE WHEN var > 0 THEN var END) AS sd
        FROM d
    ),
    z AS (
        SELECT e.event_type, s.n,
               (e.value - s.mean) / s.sd AS z
        FROM events e JOIN sd s USING (event_type)
    )
    SELECT event_type, n,
           COUNT(CASE WHEN ABS(z) > {_Z!r} THEN 1 END) AS n_outliers,
           FLOOR(MAX(ABS(z)) * 1000000.0 + 0.5) / 1000000.0 AS max_abs_z
    FROM z GROUP BY event_type, n
"""

query(q_value_outliers, SQL_VALUE_OUTLIERS)


# ======================================================================
# group_quantiles — exact per-language length percentiles
# (operators/stats.group_quantiles, histogram reduction)
# ======================================================================
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).alias("len")
    )
    out = group_quantiles(d, ["lang"], "len")
    return out.select("lang", "q", qd("value").alias("value"))


def _sql_group_quantiles() -> str:
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    branches = " UNION ALL ".join(
        f"SELECT lang, {q} AS q, quantile_cont(len, {q}) AS v "
        "FROM lens GROUP BY lang"
        for q in qs
    )
    return f"""
    WITH lens AS (
        SELECT lang, len(string_split(text, ' ')) AS len FROM documents
    )
    SELECT lang, q, {sql_qd('v')} AS value FROM ({branches})
"""


query(q_group_quantiles, _sql_group_quantiles())


# ======================================================================
# robust_outliers — median/MAD anomaly screen (operators/stats.py);
# the oracle locates both medians with the explicit rank/interpolation
# formula group_quantiles uses (type-7), NOT quantile_cont, so the
# arithmetic is mirrored term for term.
# ======================================================================
ROBUST_K = 3.5


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir).select("event_type", "value")
    return robust_outliers(ev, ["event_type"], "value", k=ROBUST_K)


def _sql_median(src: str, gcol: str, vcol: str, out: str) -> str:
    """Rank-locate + type-7 interpolation, mirroring group_quantiles."""
    return f"""
        SELECT {gcol} AS g, n,
               vlo + (vhi - vlo) * ((n - 1) * 0.5 - FLOOR((n - 1) * 0.5))
                   AS {out}
        FROM (
            SELECT {gcol}, n,
                   MIN(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) AS BIGINT)
                                 + 1 THEN {vcol} END) AS vlo,
                   MIN(CASE WHEN rn = CAST(CEIL((n - 1) * 0.5) AS BIGINT)
                                 + 1 THEN {vcol} END) AS vhi
            FROM (
                SELECT {gcol}, {vcol},
                       ROW_NUMBER() OVER (
                           PARTITION BY {gcol} ORDER BY {vcol}) AS rn,
                       COUNT(*) OVER (PARTITION BY {gcol}) AS n
                FROM {src}
            ) GROUP BY {gcol}, n
        )"""


SQL_ROBUST_OUTLIERS = f"""
    WITH ev AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ),
    med AS ({_sql_median('ev', 'event_type', 'v', 'med')}),
    dev AS (
        SELECT ev.event_type, ev.v, med.med,
               ABS(ev.v - med.med) AS dv
        FROM ev JOIN med ON med.g = ev.event_type
    ),
    mad AS ({_sql_median('dev', 'event_type', 'dv', 'mad')})
    SELECT d.event_type, COUNT(*) AS n,
           COUNT(CASE WHEN d.dv > {ROBUST_K} * mad.mad THEN 1 END)
               AS n_outliers,
           FLOOR(MIN(d.med) * 1e6 + 0.5) / 1e6 AS med,
           FLOOR(MIN(mad.mad) * 1e6 + 0.5) / 1e6 AS mad
    FROM dev d JOIN mad ON mad.g = d.event_type
    GROUP BY d.event_type
"""

query(q_robust_outliers, SQL_ROBUST_OUTLIERS)


# ======================================================================
# expectations / fk_integrity — declarative data-quality gates
# (operators/quality.py): the validation pass a pipeline runs on every
# new drop before curation.
# ======================================================================
_EXPECT_RULES = [
    ("o_orderkey", "not_null", {}),
    ("o_orderkey", "unique", {}),
    ("o_totalprice", "range", {"lo": 0.0}),
    ("o_orderstatus", "in_set", {"values": ["O", "F", "P"]}),
    ("o_orderpriority", "regex", {"pattern": "^[1-5]-[A-Z]"}),
    # a rule that FAILS on the fixture, so the violation path is live:
    # order keys are sparse, far beyond the row count
    ("o_orderkey", "range", {"hi": 1000.0}),
]


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validate_expectations(
        fx.load(spark, sf_dir, "orders"), _EXPECT_RULES
    )


def _sql_one_rule(col: str, kind: str, cond: str) -> str:
    return f"""
    SELECT '{col}' AS "column", '{kind}' AS kind, COUNT(*) AS n_rows,
           CAST({cond} AS BIGINT) AS n_violations,
           {cond} = 0 AS pass
    FROM orders"""


SQL_EXPECTATIONS = " UNION ALL ".join(
    [
        _sql_one_rule(
            "o_orderkey", "not_null",
            "COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderkey", "unique",
            "COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)",
        ),
        _sql_one_rule(
            "o_totalprice", "range",
            "COUNT(CASE WHEN o_totalprice IS NOT NULL"
            " AND o_totalprice < 0.0 THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderstatus", "in_set",
            "COUNT(CASE WHEN o_orderstatus IS NOT NULL"
            " AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderpriority", "regex",
            "COUNT(CASE WHEN o_orderpriority IS NOT NULL AND NOT"
            " regexp_matches(o_orderpriority, '^[1-5]-[A-Z]') THEN 1 END)",
        ),
        _sql_one_rule(
            "o_orderkey", "range",
            "COUNT(CASE WHEN o_orderkey IS NOT NULL"
            " AND o_orderkey > 1000.0 THEN 1 END)",
        ),
    ]
)

query(q_expectations, SQL_EXPECTATIONS)


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two referential audits: a clean one (lineitem→orders) and one
    with live orphans (events.user_id→customer.c_custkey: user ids
    start at 0, custkeys at 1)."""

    li = fx.load(spark, sf_dir, "lineitem")
    orders = fx.load(spark, sf_dir, "orders")
    ev = fx.events(spark, sf_dir)
    cust = fx.load(spark, sf_dir, "customer")
    a = fk_orphans(li, orders, "l_orderkey", "o_orderkey", "lineitem.orders")
    b = fk_orphans(
        ev, cust, "user_id", "c_custkey", "events.customer"
    )
    return a.unionByName(b)


SQL_FK_INTEGRITY = """
    SELECT 'lineitem.orders' AS relation, COUNT(*) AS n_child,
           CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
                AS BIGINT) AS n_orphans,
           COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) = 0 AS pass
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'events.customer', COUNT(*),
           CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT),
           COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) = 0
    FROM events e
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON e.user_id = c.c_custkey
"""

query(q_fk_integrity, SQL_FK_INTEGRITY)


# ======================================================================
# quantile_quantum — the group_quantiles value_quantum knob under
# driver evidence: continuous doubles pre-rounded to a 0.25 quantum
# bound the histogram (operators/stats.group_quantiles).
# ======================================================================
QQ_QUANTILES = (0.5, 0.9)
QQ_QUANTUM = 0.25  # a power of two: rounded values are exact doubles


def q_quantile_quantum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir).select("event_type", "value")
    out = group_quantiles(
        ev, ["event_type"], "value", QQ_QUANTILES, value_quantum=QQ_QUANTUM
    )
    return out.select("event_type", "q", qd("value").alias("value"))


def _sql_quantile_quantum() -> str:
    branches = " UNION ALL ".join(
        f"SELECT event_type, {q} AS q, quantile_cont(v, {q}) AS qv "
        "FROM r GROUP BY event_type"
        for q in QQ_QUANTILES
    )
    return f"""
    WITH r AS (
        SELECT event_type,
               FLOOR(value / {QQ_QUANTUM} + 0.5) * {QQ_QUANTUM} AS v
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, q, {sql_qd('qv')} AS value FROM ({branches})
"""


query(q_quantile_quantum, _sql_quantile_quantum())


# ======================================================================
# remap_gate — mass conservation across the regrid, audited
# ======================================================================
GATE_RTOL = 1e-6


def q_remap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    w = rg.weights_rect_rect(
        fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D
    )
    remapped = (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"], "inner")
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )
    ok = mass_conservation_gate(
        e, remapped, rtol=GATE_RTOL, relation="remap_conserves"
    )
    # the negative control: doubling the remapped mass must trip the
    # gate in every substance group — proves the audit detects, not
    # just that the happy path happens to pass
    bad = mass_conservation_gate(
        e,
        remapped.withColumn("value_kg_y", F.col("value_kg_y") * 2),
        rtol=GATE_RTOL,
        relation="remap_x2_detected",
    )
    return ok.unionByName(bad)


def _sql_mass_gate(relation: str, after_cte: str) -> str:
    # mirrors mass_conservation_gate: µ-quantized per-substance totals,
    # relative comparison in identical per-row double arithmetic
    return f"""
    SELECT '{relation}' AS relation, COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(COALESCE(v1, 0.0) - COALESCE(v0, 0.0))
                > {GATE_RTOL} * GREATEST(ABS(COALESCE(v0, 0.0)),
                                          ABS(COALESCE(v1, 0.0)), 1e-300)
                THEN 1 END) AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(COALESCE(v1, 0.0) - COALESCE(v0, 0.0))
                > {GATE_RTOL} * GREATEST(ABS(COALESCE(v0, 0.0)),
                                          ABS(COALESCE(v1, 0.0)), 1e-300)
                THEN 1 END) = 0 AS pass
    FROM t0 FULL JOIN {after_cte} USING (substance)
    """


SQL_REMAP_GATE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), w AS ({fx.WEIGHTS_SQL}),
    remap AS (
        SELECT w.dst_id AS cell_id, e.category, e.substance,
               {sql_sumd('e.value_kg_y * w.weight')} AS value_kg_y
        FROM e JOIN w ON e.cell_id = w.src_id
        GROUP BY 1, 2, 3
    ),
    t0 AS (
        SELECT substance, {sql_sumd('value_kg_y')} AS v0
        FROM e GROUP BY substance
    ),
    t1 AS (
        SELECT substance, {sql_sumd('value_kg_y')} AS v1
        FROM remap GROUP BY substance
    ),
    t2 AS (
        SELECT substance, {sql_sumd('value_kg_y * 2')} AS v1
        FROM remap GROUP BY substance
    )
    {_sql_mass_gate('remap_conserves', 't1')}
    UNION ALL
    {_sql_mass_gate('remap_x2_detected', 't2')}
"""

query(q_remap_gate, SQL_REMAP_GATE)


# ======================================================================
# ratio_gate — profile rows must sum to 1 (exact tick arithmetic)
# ======================================================================
def q_ratio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        ((F.col("ts") / F.lit(NS_PER_HOUR)).cast("long") % 24)
        .cast("int")
        .alias("hour_of_day"),
    ).agg(F.count("*").alias("c"))
    totals = hourly.groupBy("event_type").agg(F.sum("c").alias("ct"))
    ratios = hourly.join(totals, "event_type").select(
        F.col("event_type").alias("grp"),
        (F.col("c") / F.col("ct")).alias("ratio"),
    )
    broken = local_rows_df(spark,
        [("__broken", 0.5), ("__broken", 0.4)], "grp string, ratio double"
    )
    return ratio_sum_gate(ratios.unionByName(broken), ["grp"], "ratio")


SQL_RATIO_GATE = f"""
    WITH h AS (
        SELECT event_type,
               CAST(FLOOR(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) % 24
                   AS hour_of_day,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, SUM(c) AS ct FROM h GROUP BY event_type),
    r AS (
        SELECT h.event_type AS grp,
               CAST(c AS DOUBLE) / CAST(ct AS DOUBLE) AS ratio
        FROM h JOIN t USING (event_type)
        UNION ALL SELECT '__broken', 0.5
        UNION ALL SELECT '__broken', 0.4
    ),
    g AS (
        SELECT grp,
               SUM(CAST(FLOOR(ratio * 1e9 + 0.5) AS BIGINT)) AS s
        FROM r GROUP BY grp
    )
    SELECT 'ratio_sum_1' AS relation, COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END)
                AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END) = 0 AS pass
    FROM g
"""

query(q_ratio_gate, SQL_RATIO_GATE)


# ======================================================================
# psi_drift — population-stability drift monitor between two snapshots
# (operators/stats.psi_drift).  Snapshots: even vs odd user ids, with
# the "actual" side's click values shifted 1.5× so the drift is real.
# ======================================================================
PSI_BREAKS = [10.0, 25.0, 50.0, 100.0, 200.0]


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fx.events(spark, sf_dir)
    expected = ev.where(F.col("user_id") % 2 == 0).select("value")
    actual = ev.where(F.col("user_id") % 2 == 1).select(
        F.when(F.col("event_type") == "click", F.col("value") * 1.5)
        .otherwise(F.col("value"))
        .alias("value")
    )
    return psi_drift(expected, actual, "value", PSI_BREAKS)


def _sql_psi_drift() -> str:
    nb = len(PSI_BREAKS) + 1
    binexpr = " + ".join(
        f"CASE WHEN CAST(value AS DOUBLE) >= {b!r} THEN 1 ELSE 0 END"
        for b in PSI_BREAKS
    )
    pe = f"(CAST(n_expected AS DOUBLE) + 1.0) / (CAST(ne AS DOUBLE) + {float(nb)!r})"
    pa = f"(CAST(n_actual AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + {float(nb)!r})"
    return f"""
    WITH e AS (
        SELECT CAST({binexpr} AS INT) AS bin, COUNT(*) AS ce
        FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL
        GROUP BY 1
    ),
    a0 AS (
        SELECT CASE WHEN event_type = 'click' THEN value * 1.5
               ELSE value END AS value
        FROM events WHERE user_id % 2 = 1 AND value IS NOT NULL
    ),
    a AS (
        SELECT CAST({binexpr} AS INT) AS bin, COUNT(*) AS ca
        FROM a0 GROUP BY 1
    ),
    bins AS (SELECT CAST(t.b AS INT) AS bin FROM UNNEST(range({nb})) t(b)),
    j AS (
        SELECT bins.bin,
               CAST(COALESCE(ce, 0) AS BIGINT) AS n_expected,
               CAST(COALESCE(ca, 0) AS BIGINT) AS n_actual
        FROM bins LEFT JOIN e USING (bin) LEFT JOIN a USING (bin)
    ),
    t AS (SELECT SUM(n_expected) AS ne, SUM(n_actual) AS na FROM j)
    SELECT bin, n_expected, n_actual,
           {sql_qd(f'(({pa}) - ({pe})) * LN(({pa}) / ({pe}))')} AS psi_term
    FROM j, t
"""


query(q_psi_drift, _sql_psi_drift())


# ======================================================================
# hourly_gate — the default-on profile gate of the hourly export paths
# ======================================================================
def q_hourly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipelines.temporal_profile_gates`` over the shared temporal
    profile fixtures (the ones ``temporal_expand`` expands with) plus a
    planted profile summing to 23/24 + 0.5 — the exact frame
    ``tno_to_hourly`` / ``edgar_to_hourly`` / ``tno_to_icon`` enforce
    before fanning the fact table out over hours."""

    profs = tprofile_table(spark)
    broken = local_rows_df(spark,
        [(99, "daily", [1.0 / 24] * 23 + [0.5])], schema=TPROFILE
    )
    return pipelines.temporal_profile_gates(profs.unionByName(broken))


SQL_HOURLY_GATE = """
    WITH profs AS (
        SELECT 0 AS profile_id, 'daily' AS ptype, (h + 1) / 300.0 AS ratio
        FROM UNNEST(range(24)) AS t(h)
        UNION ALL
        SELECT 1, 'daily', 1.0 / 24.0 FROM UNNEST(range(24)) AS t(h)
        UNION ALL
        SELECT 2, 'weekly', (d + 1) / 28.0 FROM UNNEST(range(7)) AS t(d)
        UNION ALL
        SELECT 99, 'daily',
               CASE WHEN h < 23 THEN 1.0 / 24.0 ELSE 0.5 END
        FROM UNNEST(range(24)) AS t(h)
    ),
    g AS (
        SELECT profile_id, ptype,
               SUM(CAST(FLOOR(ratio * 1e9 + 0.5) AS BIGINT)) AS s
        FROM profs GROUP BY 1, 2
    )
    SELECT 'temporal_profile_ratio_sum' AS relation,
           COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END)
                AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END) = 0 AS pass
    FROM g
"""

query(q_hourly_gate, SQL_HOURLY_GATE)
