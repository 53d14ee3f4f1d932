"""Parity arithmetic helpers shared by every driver-contract query.

Aggregation order differs between Spark and DuckDB, so no plain double
sum can hash-match.  Per-row double arithmetic IS bit-identical across
engines (same IEEE ops), and ``FLOOR(x·s + 0.5)`` is pure IEEE too — so
sums quantize per-row to int64, add exactly, and divide back.  CAST to
DECIMAL is *not* usable: Spark rounds the exact decimal expansion while
DuckDB disagrees near ties.
"""

from __future__ import annotations

from pyspark.sql import functions as F

QSCALE = 1_000_000.0  # µ-quantization for emission/price-sized values
QR = 1e9  # output quantization for ratio-sized values


def sumd(col) -> F.Column:
    """Order-insensitive exact sum of doubles (µ-quantized), as double."""
    c = F.col(col) if isinstance(col, str) else col
    q = F.floor(c * F.lit(QSCALE) + F.lit(0.5)).cast("long")
    return F.sum(q).cast("double") / F.lit(QSCALE)


def sql_sumd(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {QSCALE} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {QSCALE}"
    )


# per-element products of unit-scale vectors: quantized finer than sums
DOT_SCALE = 1e12


def dotq(prod) -> F.Column:
    """Quantized (order-free) sum of per-element products."""
    c = F.col(prod) if isinstance(prod, str) else prod
    return F.sum(
        F.floor(c * F.lit(DOT_SCALE) + F.lit(0.5)).cast("long")
    ).cast("double") / F.lit(DOT_SCALE)


def sql_dotq(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {DOT_SCALE}"
    )


# |v| beyond which µ-quantization stops being exact: v·1e6 must stay
# within 2^53 (doubles are integral-exact there) AND within int64.
# 8e9·1e6 = 8e15 < 2^53 ≈ 9.007e15.
SUMD_SAFE_ABS = 8.0e9


def sumd_safe(col) -> F.Column:
    """Order-insensitive exact µ-quantized sum, OVERFLOW-SAFE.

    ``sumd`` accumulates int64 quanta, which silently WRAP (non-ANSI)
    or throw (ANSI) after ~1e3 rows at max quantizable magnitude — and
    an epoch-ns / big-id column clamps per row before the sum even
    starts.  Here per-row quanta are exact int64 (guarded to
    ``|v| <= SUMD_SAFE_ABS``, where v·1e6 is integral-exact in a
    double) and accumulate in DECIMAL(38,0) — exact at any row count.
    long→decimal casts are exact in both engines (the module header's
    decimal objection is double→decimal tie rounding, which cannot
    occur on integral longs), and the final decimal→double cast is
    correctly rounded identically by both.

    If ANY value exceeds the quantizable magnitude (or is NaN/±Inf —
    note NaN compares GREATER than every double in both engines, so
    the ``NOT (|v| <= lim)`` form catches it), the whole sum is NULL:
    loudly absent instead of silently garbage, while count/min/max
    still profile such columns.
    """
    c = F.col(col) if isinstance(col, str) else col
    lim = F.lit(SUMD_SAFE_ABS)
    big = F.max(F.when(~(F.abs(c) <= lim), 1).otherwise(0))
    q = F.when(
        F.abs(c) <= lim,
        F.floor(c * F.lit(QSCALE) + F.lit(0.5))
        .cast("long")
        .cast("decimal(38,0)"),
    )
    return F.when(big == 0, F.sum(q).cast("double") / F.lit(QSCALE))


def sql_sumd_safe(expr: str) -> str:
    """DuckDB rendering of :func:`sumd_safe` (DuckDB sums DECIMAL(38,0)
    in exact int128; the per-row CASE guard keeps it from raising on an
    unquantizable magnitude before the outer guard can NULL the
    result)."""
    guard = f"NOT (ABS({expr}) <= {SUMD_SAFE_ABS!r})"
    q = (
        f"CASE WHEN ABS({expr}) <= {SUMD_SAFE_ABS!r} THEN "
        f"CAST(CAST(FLOOR(({expr}) * {QSCALE} + 0.5) AS BIGINT) "
        f"AS DECIMAL(38,0)) END"
    )
    return (
        f"CASE WHEN MAX(CASE WHEN {guard} THEN 1 ELSE 0 END) = 0 "
        f"THEN CAST(SUM({q}) AS DOUBLE) / {QSCALE} END"
    )


def qd(col, scale: float = QR) -> F.Column:
    """Quantize a small double (ratios, factors) so sub-ulp engine
    differences (e.g. fold-order in renormalization) collapse."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def sql_qd(expr: str, scale: float = QR) -> str:
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


# Below this the fan-out work itself is trivial and the round-robin
# exchange would cost more than it buys (dimension-sized inputs:
# profile tables, small candidate lists).  Deliberately small — a
# compacted 600 KB parquet of documents still amplifies ~100× under
# the shingle explode and MUST keep widening (the round-6 bench win).
WIDEN_MIN_BYTES = 32 * 1024


def widen_for_fanout(df, min_bytes: int = WIDEN_MIN_BYTES):
    """Repartition a fact relation up to the cluster's default
    parallelism BEFORE a row-amplifying map stage (hour fan-out,
    shingle explode + hashing).  Compacted small inputs can present
    1-3 scan partitions, serializing the expensive map work on a
    many-core executor; at scale inputs already exceed
    defaultParallelism and this is a no-op (no shuffle).

    The gate reads the OPTIMIZED LOGICAL plan's size estimate (for a
    parquet scan: the file bytes Spark itself uses to cut scan splits)
    instead of ``df.rdd.getNumPartitions()`` — the RDD conversion
    forced physical planning per call and pinned a pre-AQE shape.  The
    logical pass is computed on the DataFrame's own QueryExecution and
    is reused when the query runs, so the check is ~free.  Widen only
    when the estimate sits in the window where it matters:

    - below ``min_bytes`` the input is dimension-sized — the fan-out
      is trivial and the exchange would dominate (skip);
    - above ``defaultParallelism × maxPartitionBytes`` a *splittable
      file scan* already yields at least one split per core — but a
      size estimate alone cannot tell that apart from a single-split
      gzip or a LogicalRDD/localCheckpoint lineage whose estimate is
      the ``defaultSizeInBytes`` sentinel (Long.MAX), exactly the
      few-partition shapes this helper exists to fix.  On this branch
      fall back to the OBSERVED partition count and widen when it is
      below parallelism.  The RDD conversion forces one physical
      planning pass, but only on this branch — genuinely big scans hit
      it once per query build, and dimension/bench-sized inputs (the
      per-call hot path) never do;
    - in between, one round-robin exchange spreads the amplification
      across the cluster.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        size = int(
            str(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        max_pb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:  # stats unavailable: keep the input untouched
        return df
    if size < min_bytes:
        return df
    if size < par * max_pb:
        return df.repartition(par)
    try:  # huge or sentinel estimate: trust observed partitions instead
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(par) if n < par else df


def sql_floor_div(expr: str, p: int) -> str:
    """DuckDB rendering of int64 FLOOR division by a positive constant.

    DuckDB's integer ``//`` TRUNCATES toward zero (``-1 // 7 = 0``), so
    a bare ``//`` would diverge from the engines' floor-bucket
    operators on pre-1970 timestamps; subtracting the positive modulus
    first makes the numerator an exact multiple, where truncation and
    floor coincide — mirroring the Spark side's pmod + DIV."""
    p = int(p)
    if p <= 0:
        raise ValueError(f"period must be positive, got {p}")
    return f"(({expr}) - (((({expr}) % {p}) + {p}) % {p})) // {p}"
