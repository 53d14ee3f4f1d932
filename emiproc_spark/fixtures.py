"""Deterministic fixture derivation shared by Spark queries and oracles.

The driver's correctness gate runs each ``queries()`` entry on Spark and
the matching ``oracle_sql()`` string on DuckDB over the same parquet
tables (TESTDATA.md).  Domain tables (emissions/grids/weights/profiles,
FIXTURES.md F1–F8) are *derived* deterministically from the TPC-H-ish
tables here — the Spark side via engine operators, the oracle side via
closed-form ANSI SQL — so both engines agree on inputs by construction.

Mapping: lineitem → emissions long table on a 10×10 unit grid,
`cell_id = l_partkey % 100`, category = l_returnflag (A/N/R),
substance = l_linestatus (F/O), value = l_extendedprice.
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.plans.cache import cached_dir

# ---- grid geometry constants ------------------------------------------
FINE_NX = FINE_NY = 10  # 10×10 unit cells over [0,10]²
COARSE_N = 4
COARSE_D = 2.5
N_CELLS = FINE_NX * FINE_NY
CROP = (1.25, 1.25, 6.25, 8.75)  # fractional-boundary crop rectangle
CLIP = (2.0, 2.0, 7.0, 7.0)


NS_PER_DAY = 86_400_000_000_000
NS_PER_HOUR = 3_600_000_000_000


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """Scratch directory for files a query writes and reads back, and
    the root of the per-sf stores (``store``).

    Routes through ``SPARK_GRAFT_SCRATCH`` when set, else the system
    temp dir.  CONTRACT: the returned path must be readable by every
    executor — automatic in local mode (driver and executors share one
    filesystem); on a multi-node cluster point ``SPARK_GRAFT_SCRATCH``
    at a shared location (NFS/object store), because a driver-local
    temp dir is invisible to remote executors.  Created dirs are
    removed at interpreter exit so repeated runs don't accumulate.
    """
    import atexit
    import shutil
    import tempfile

    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root:
        os.makedirs(root, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=root or None)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_DIRS]
        )
    _SCRATCH_DIRS.append(path)
    return path


_STORE_ROOT: str | None = None


def store(name: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Path of the per-``sf_dir`` store ``name``: a derived table that
    queries read instead of recomputing, built by ``build(path)`` once
    per process (``plans.cache.cached_dir``).  Stores live under one
    ``scratch_dir`` root; the path's basename is a valid identifier."""
    global _STORE_ROOT
    if _STORE_ROOT is None:
        _STORE_ROOT = scratch_dir("emiproc_store_")
    tag = re.sub(r"\W+", "_", f"{name}_{sf_dir}").strip("_")
    return cached_dir(os.path.join(_STORE_ROOT, tag), build)


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to epoch-nanoseconds BIGINT.

    The testdata has shipped ``ts`` both as TIMESTAMP(NANOS) (read as
    epoch-ns long under the ``nanosAsLong`` conf that ``get_spark``
    declares) and as timestamp[us]; downstream queries do integer
    nanos arithmetic, so normalize here.  Session timezone is UTC
    (session.py), so the NTZ→instant cast matches DuckDB's
    ``epoch_ns`` on naive timestamps.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql.types import LongType

    if not isinstance(ev.schema["ts"].dataType, LongType):
        ev = ev.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return ev


def emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → long-form emissions (FIXTURES.md F2 analogue)."""
    return load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % N_CELLS).alias("cell_id"),
        F.col("l_returnflag").alias("category"),
        F.col("l_linestatus").alias("substance"),
        F.col("l_extendedprice").alias("value_kg_y"),
    )


EMISSIONS_SQL = f"""
    SELECT l_partkey % {N_CELLS} AS cell_id,
           l_returnflag AS category,
           l_linestatus AS substance,
           l_extendedprice AS value_kg_y
    FROM lineitem
"""

FINE_GRID_SQL = f"""
    SELECT i * {FINE_NY} + j AS cell_id,
           CAST(i AS DOUBLE) AS xmin, CAST(j AS DOUBLE) AS ymin,
           CAST(i + 1 AS DOUBLE) AS xmax, CAST(j + 1 AS DOUBLE) AS ymax
    FROM range({FINE_NX}) t(i) CROSS JOIN range({FINE_NY}) s(j)
"""

COARSE_GRID_SQL = f"""
    SELECT i * {COARSE_N} + j AS cell_id,
           i * {COARSE_D} AS xmin, j * {COARSE_D} AS ymin,
           (i + 1) * {COARSE_D} AS xmax, (j + 1) * {COARSE_D} AS ymax
    FROM range({COARSE_N}) t(i) CROSS JOIN range({COARSE_N}) s(j)
"""

# closed-form interval-overlap weights fine→coarse (oracle counterpart of
# operators.regrid.weights_rect_rect)
WEIGHTS_SQL = f"""
    SELECT f.cell_id AS src_id, c.cell_id AS dst_id,
           GREATEST(0.0, LEAST(f.xmax, c.xmax) - GREATEST(f.xmin, c.xmin))
         * GREATEST(0.0, LEAST(f.ymax, c.ymax) - GREATEST(f.ymin, c.ymin))
         / ((f.xmax - f.xmin) * (f.ymax - f.ymin)) AS weight
    FROM ({FINE_GRID_SQL}) f CROSS JOIN ({COARSE_GRID_SQL}) c
    WHERE LEAST(f.xmax, c.xmax) > GREATEST(f.xmin, c.xmin)
      AND LEAST(f.ymax, c.ymax) > GREATEST(f.ymin, c.ymin)
"""


def fine_grid(spark: SparkSession) -> DataFrame:
    from emiproc_spark.grids import regular_grid

    return regular_grid(spark, 0.0, 0.0, FINE_NX, FINE_NY, 1.0, 1.0, with_geometry=False)


def coarse_grid(spark: SparkSession) -> DataFrame:
    from emiproc_spark.grids import regular_grid

    return regular_grid(spark, 0.0, 0.0, COARSE_N, COARSE_N, COARSE_D, COARSE_D, with_geometry=False)


# ---- mapping / ratio fixtures -----------------------------------------
CATEGORY_GROUPS = {"grp_an": ["A", "N"], "grp_r": ["R"]}
CATEGORY_GROUPS_SQL_CASE = "CASE WHEN category IN ('A','N') THEN 'grp_an' ELSE 'grp_r' END"

SUBSTANCE_GROUPS = {"ALL": ["F", "O"]}
SUBSTANCE_GROUPS_SQL_CASE = "CASE WHEN substance IN ('F','O') THEN 'ALL' ELSE substance END"

SCALE_FACTORS = [("A", "F", 2.0), ("R", "O", 0.5)]
SCALE_SQL_CASE = (
    "CASE WHEN category = 'A' AND substance = 'F' THEN 2.0 "
    "WHEN category = 'R' AND substance = 'O' THEN 0.5 ELSE 1.0 END"
)

# speciation: substance F → F1/F2, category-dependent for category A
SPECIATION_ROWS = [
    ("A", None, None, None, "F", "F1", 0.2),
    ("A", None, None, None, "F", "F2", 0.8),
    (None, None, None, None, "F", "F1", 0.3),
    (None, None, None, None, "F", "F2", 0.7),
]
SPECIATION_SQL = """
    SELECT cell_id, category, 'F1' AS substance,
           value_kg_y * (CASE WHEN category = 'A' THEN 0.2 ELSE 0.3 END) AS value_kg_y
    FROM ({emissions}) WHERE substance = 'F'
    UNION ALL
    SELECT cell_id, category, 'F2' AS substance,
           value_kg_y * (CASE WHEN category = 'A' THEN 0.8 ELSE 0.7 END) AS value_kg_y
    FROM ({emissions}) WHERE substance = 'F'
    UNION ALL
    SELECT cell_id, category, substance, value_kg_y
    FROM ({emissions}) WHERE substance <> 'F'
"""


# ---- document fixtures -----------------------------------------------
# doubled corpus: every text appears at least twice so dedup operators
# have guaranteed positives on purely synthetic data
DOUBLE_OFFSET = 1_000_000


def docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    twin = d.select((F.col("doc_id") + DOUBLE_OFFSET).alias("doc_id"), "text")
    return d.unionByName(twin)


DOCS2_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DOUBLE_OFFSET} AS doc_id, text FROM documents
"""


# PII-augmented documents (emails/phones are synthesized so matches are
# guaranteed)
def augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" reach me: user"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )


AUGMENTED_SQL = """
    SELECT doc_id,
           text || ' reach me: user' || CAST(doc_id AS VARCHAR)
                || '@ex' || CAST(doc_id % 7 AS VARCHAR)
                || '.com or 415-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
    FROM documents WHERE doc_id < 2000
"""


# planted contamination: the synthetic corpus has no natural 5-gram
# overlap with its eval split (every 41st doc), so every 7th corpus doc
# gets an eval doc's text appended, on both engines
def planted_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(corpus, eval_docs)``: the Spark twin of ``SQL_CORPUS_PLANTED``
    and the eval split it was contaminated from."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = d.where(F.col("doc_id") % 41 == 0)
    ev = eval_docs.select(
        F.col("doc_id").alias("ev_id"), F.col("text").alias("ev_text")
    )
    corpus = (
        d.where(F.col("doc_id") % 41 != 0)
        .withColumn(
            "ev_id",
            F.when(F.col("doc_id") % 7 == 0, (F.col("doc_id") % 12) * 41),
        )
        .join(F.broadcast(ev), "ev_id", "left")
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("text"), F.col("ev_text")).alias("text"),
        )
    )
    return corpus, eval_docs


SQL_CORPUS_PLANTED = """
    (SELECT d.doc_id,
            d.text || COALESCE(' ' || e.text, '') AS text
     FROM documents d
     LEFT JOIN (SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0) e
       ON d.doc_id % 7 = 0 AND e.doc_id = (d.doc_id % 12) * 41
     WHERE d.doc_id % 41 <> 0)
"""

# embedding width of embeddings.parquet
DIM = 64


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view so workloads can run
    through ``spark.sql(...)`` — the SQL half of the DataFrame/SQL API
    surface.  ``events`` goes through the normalized loader (epoch-ns
    BIGINT ts, the same shape every DataFrame query sees)."""
    from emiproc_spark.parity import TABLES

    for t in TABLES:
        df = events(spark, sf_dir) if t == "events" else load(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
