"""Round-4 driver queries: new oracle-checked entries added this round.

Kept in a separate module so the registry rotation in
``driver_queries.py`` can place them (plus this round's re-verify set)
at the very front of the 50-query sample the driver takes.

- ``png_cycle``: the real (non-fake) image decode path — deterministic
  pixels → ``write_png`` → ``decode_image`` → pixel statistics, all
  executor-side through Arrow ``mapInPandas``; the oracle recomputes
  the statistics arithmetically, so the whole encode→decode cycle must
  be lossless for the hashes to match.
- ``lsh_capped``: the MinHash-LSH bucket-size skew guard — a corpus
  with deliberate 3-doc buckets under ``max_bucket_size=2`` must emit
  exactly the star edges (bucket-min → member); the oracle replicates
  the star policy in SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark.driver_queries_text import DOCS2_SQL, DOUBLE_OFFSET, SHINGLES_SQL
from emiproc_spark.registry import query


# ======================================================================
# png_cycle — real image decode through the pure-numpy PNG codec
# ======================================================================
N_IMAGES = 200
SIDE = 4


def q_png_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from emiproc_spark.functions.png import write_png
        from emiproc_spark.operators.multimodal import decode_image

        for pdf in batches:
            out = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                px = (
                    (i * 31 + np.arange(SIDE * SIDE)) % 256
                ).astype(np.uint8).reshape(SIDE, SIDE)
                img = decode_image(write_png(px), fake=False)
                flat = img.astype(np.int64)
                out.append(
                    {
                        "doc_id": i,
                        "n_px": int(flat.size),
                        "checksum": int(flat.sum() % 1_000_003),
                        "mean_byte": float(flat.mean()),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_px", "checksum", "mean_byte"]
            )

    return spark.range(N_IMAGES).mapInPandas(
        run, "doc_id long, n_px long, checksum long, mean_byte double"
    )


SQL_PNG_CYCLE = f"""
    WITH px AS (
        SELECT d.i AS doc_id, (d.i * 31 + p.p) % 256 AS v
        FROM range({N_IMAGES}) d(i), range({SIDE * SIDE}) p(p)
    )
    SELECT doc_id,
           CAST({SIDE * SIDE} AS BIGINT) AS n_px,
           CAST(SUM(v) % 1000003 AS BIGINT) AS checksum,
           CAST(SUM(v) AS DOUBLE) / {SIDE * SIDE} AS mean_byte
    FROM px GROUP BY doc_id
"""

query(q_png_cycle, SQL_PNG_CYCLE)


# ======================================================================
# lsh_capped — bucket-size guard with the star oversize policy
# ======================================================================
TRIPLE_OFFSET = 2 * DOUBLE_OFFSET
DOCS3_SQL = f"""
    {DOCS2_SQL}
    UNION ALL
    SELECT doc_id + {TRIPLE_OFFSET} AS doc_id, text FROM documents
"""


def _docs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.unionByName(d.select((F.col("doc_id") + DOUBLE_OFFSET).alias("doc_id"), "text"))
        .unionByName(d.select((F.col("doc_id") + TRIPLE_OFFSET).alias("doc_id"), "text"))
    )


def q_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators import dedup as dd

    sigs = dd.minhash_signatures(_docs3(spark, sf_dir), k=8)
    return dd.lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=2, max_bucket_size=2, oversize_policy="star"
    )


SQL_LSH_CAPPED = f"""
    WITH sh AS ({SHINGLES_SQL.format(docs=DOCS3_SQL)}),
    hashed AS (
        SELECT doc_id, CAST(t.seed AS INT) AS seed,
               MIN(substr(md5(shingle || '#0') || md5(shingle || '#1'),
                          CAST(t.seed * 8 + 1 AS INT), 8)) AS minhash
        FROM sh, UNNEST(range(8)) AS t(seed)
        GROUP BY doc_id, t.seed
    ),
    banded AS (
        SELECT doc_id, CAST(seed // 2 AS INT) AS band,
               md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
        FROM hashed GROUP BY doc_id, seed // 2
    ),
    stats AS (
        SELECT band, band_hash, COUNT(*) AS sz, MIN(doc_id) AS rep
        FROM banded GROUP BY band, band_hash
    ),
    joined AS (
        SELECT b.doc_id, b.band, b.band_hash, s.sz, s.rep
        FROM banded b JOIN stats s USING (band, band_hash)
    )
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM joined a
        JOIN joined b ON a.band = b.band AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
        WHERE a.sz <= 2
        UNION ALL
        SELECT rep AS doc_a, doc_id AS doc_b
        FROM joined WHERE sz > 2 AND doc_id != rep
    )
"""

query(q_lsh_capped, SQL_LSH_CAPPED)


# ======================================================================
# boilerplate_strip — per-source boilerplate n-gram removal (CCNet-style
# repeated header/footer detection reduced to the relational core).
# The fixture corpus is random words with no natural boilerplate, so the
# query injects a deterministic per-source header every doc of a source
# shares; the operator must find exactly those n-grams and strip them.
# ======================================================================
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.operators.text import strip_boilerplate

    d = (
        fx.load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 600)
        .select(
            "doc_id",
            "source",
            F.concat_ws(
                " ",
                F.concat(F.lit("hdr"), F.col("source")),
                F.lit("visit our site now"),
                F.col("text"),
            ).alias("text"),
        )
    )
    return strip_boilerplate(d, group_col="source").select(
        "doc_id", "source", "n_tokens", "n_removed", "text_clean"
    )


SQL_BOILERPLATE_STRIP = """
    WITH d AS (
        SELECT doc_id, source,
               'hdr' || source || ' visit our site now ' || text AS text
        FROM documents WHERE doc_id < 600
    ),
    toks AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM d),
    sh AS (
        SELECT doc_id, source, CAST(t.i AS INT) AS pos,
               toks[t.i + 1] || ' ' || toks[t.i + 2] || ' ' || toks[t.i + 3] AS shingle
        FROM toks, UNNEST(range(GREATEST(len(toks) - 2, 0))) AS t(i)
    ),
    gs AS (SELECT source, COUNT(*) AS group_docs FROM d GROUP BY source),
    bp AS (
        SELECT f.source, f.shingle
        FROM (SELECT source, shingle, COUNT(*) AS df
              FROM (SELECT DISTINCT doc_id, source, shingle FROM sh)
              GROUP BY source, shingle) f
        JOIN gs USING (source)
        WHERE f.df >= gs.group_docs * 0.5 AND f.df >= 2
    ),
    cov AS (
        SELECT DISTINCT sh.doc_id, sh.pos + o.o AS cpos
        FROM sh JOIN bp ON sh.source = bp.source AND sh.shingle = bp.shingle,
             UNNEST(range(3)) AS o(o)
    ),
    tokpos AS (
        SELECT doc_id, CAST(t.i AS INT) AS pos, toks[t.i + 1] AS tok
        FROM toks, UNNEST(range(len(toks))) AS t(i)
    ),
    clean AS (
        SELECT tokpos.doc_id,
               string_agg(tok, ' ' ORDER BY pos)
                   FILTER (WHERE cov.cpos IS NULL) AS text_clean,
               COUNT(*) FILTER (WHERE cov.cpos IS NOT NULL) AS n_removed
        FROM tokpos
        LEFT JOIN cov ON tokpos.doc_id = cov.doc_id AND tokpos.pos = cov.cpos
        GROUP BY tokpos.doc_id
    )
    SELECT d.doc_id, d.source,
           CAST(len(toks.toks) AS INT) AS n_tokens,
           CAST(COALESCE(clean.n_removed, 0) AS INT) AS n_removed,
           COALESCE(clean.text_clean, '') AS text_clean
    FROM d
    JOIN toks USING (doc_id)
    LEFT JOIN clean ON clean.doc_id = d.doc_id
"""

query(q_boilerplate_strip, SQL_BOILERPLATE_STRIP)
