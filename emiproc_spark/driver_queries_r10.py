"""Round-10 driver queries: checkpoint-bootstrap resume for the
sharded stateful streams.

- ``stream_neardup_resume``: the full resize/upgrade flow of
  ``streaming.bootstrap`` executed end-to-end — incarnation 1 runs
  ``near_dup_stream`` over the base corpus under one shard count;
  incarnation 2 is a FRESH query under a DIFFERENT shard count whose
  first (single) micro-batch carries the bootstrap-flagged base corpus
  ahead of the live twin docs.  The union of both incarnations' pairs,
  each tagged with the incarnation that produced it, must equal the
  rank-capped banded self-join over the whole corpus with the pair's
  phase derived from its ids — which simultaneously oracles (a) result
  parity with a full replay, (b) zero re-emission of historical pairs
  (an A×A pair emitted by incarnation 2 would carry the wrong tag and
  hash-mismatch), and (c) shard-layout independence of the state
  rebuild.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx

# the oracle reuses _sql_stream_neardup, so the cap must be ITS cap
from emiproc_spark.driver_queries_r3c import _ND_MAX_BUCKET as _RESUME_MAX_BUCKET
from emiproc_spark.registry import query


def q_stream_neardup_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase A = the documents table, phase B = its id-offset twins
    (identical text, so every A doc near-dups its twin across the
    resume boundary).  Each incarnation is one availableNow micro-batch
    — arrival order is the fold's sorted-id order, and because A ids
    all precede B ids the combined processing order (bootstrap first,
    then live) is plain id order, making the single rank-capped oracle
    exact."""
    from emiproc_spark.driver_queries_text import DOUBLE_OFFSET
    from emiproc_spark.streaming.bootstrap import neardup_bootstrap_docs
    from emiproc_spark.streaming.streams import near_dup_stream, run_available_now

    docs = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    d = fx.scratch_dir("emiproc_nd_resume_")
    a_dir, b_dir = os.path.join(d, "a"), os.path.join(d, "b")
    docs.coalesce(1).write.mode("overwrite").parquet(a_dir)
    # incarnation 2's single batch: bootstrap corpus + live twins (the
    # fold admits flagged rows first, so one batch needs no file-order
    # games)
    twins = docs.select(
        (F.col("doc_id") + DOUBLE_OFFSET).alias("doc_id"), "text"
    )
    neardup_bootstrap_docs(docs).unionByName(
        twins.withColumn("__bootstrap", F.lit(False))
    ).coalesce(1).write.mode("overwrite").parquet(b_dir)

    def run(src, schema, n_shards):
        stream = spark.readStream.schema(schema).parquet(src)
        out = near_dup_stream(
            stream, n=3, k=8, bands=4, max_bucket=_RESUME_MAX_BUCKET,
            n_shards=n_shards,
        )
        # the timeout exists precisely because a ProcessingTimeTimeout
        # stream under the wrong no_data_batches setting hangs for its
        # full TTL — bound it so a regression fails THIS query instead
        # of stalling the whole driver sweep (r10 advisor)
        return run_available_now(
            out, "r10_nd_resume", "append", no_data_batches=False, timeout=300
        )

    # the two incarnations are INDEPENDENT streams (separate sources,
    # separate fresh checkpoints, separate memory sinks — incarnation 2
    # rebuilds state from the bootstrap rows in ITS OWN source, never
    # from incarnation 1's output), so overlap them: each run spends
    # most of its wall time in per-batch fixed costs (query start,
    # state-store setup/commit, WAL) that leave most cores idle
    # (guide §2.6 — submit independent jobs from a small pool)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_old = pool.submit(run, a_dir, "doc_id long, text string", 257)
        f_new = pool.submit(
            run, b_dir, "doc_id long, text string, __bootstrap boolean", 131
        )
        old, new = f_old.result(), f_new.result()
    return old.withColumn("incarn", F.lit("old")).unionByName(
        new.withColumn("incarn", F.lit("new"))
    )


def _sql_stream_neardup_resume() -> str:
    from emiproc_spark.driver_queries_r3c import _sql_stream_neardup
    from emiproc_spark.driver_queries_text import DOUBLE_OFFSET

    # the base oracle already ranks by doc_id — identical to the
    # bootstrap-first processing order because A ids < OFFSET <= B ids;
    # its cap constant matches _RESUME_MAX_BUCKET (both 8).  A pair's
    # incarnation is derivable: any B member means incarnation 2
    # (B docs exist only there), pure-A pairs only incarnation 1
    # (bootstrap suppresses their re-emission).
    return f"""
    SELECT doc_a, doc_b, bucket,
           CASE WHEN doc_b >= {DOUBLE_OFFSET} THEN 'new' ELSE 'old' END
               AS incarn
    FROM ({_sql_stream_neardup()})
    """


query(q_stream_neardup_resume, _sql_stream_neardup_resume())
