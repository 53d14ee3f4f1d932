"""Corpus → training-set assembly: decontamination, sequence packing,
shard planning.

Beyond-reference operators (SURVEY.md §7.2 M7): the last mile of a
training-data pipeline, after filtering/dedup (text.py, dedup.py,
sampling.py) and before the tokenizer.

Scale design:

- **decontamination**: the eval/benchmark set is tiny next to the
  corpus, so its n-gram set is built once and *broadcast*; the corpus
  side is a shingle-explode → broadcast semi-join — no shuffle of
  corpus data at all.  This is the GPT-3/Pile 13-gram-overlap rule.
- **sequence packing**: concat-and-chunk within deterministic shards.
  A single global cumulative sum would serialize on one task, so docs
  are first hash-bucketed into shards (map-only, stable under
  repartitioning) and the running token offset is a window *within*
  each shard — shards pack independently and in parallel, which is
  also how the files are written.
- **shard planning**: one hash-agg over the corpus producing the
  dimension-sized manifest (shard → doc/token/byte totals) that the
  trainer's data loader consumes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from emiproc_spark.localdf import collect_bounded
from emiproc_spark.operators.sampling import hash_fraction
from emiproc_spark.operators.text import shingles, tokens


def eval_ngrams(eval_docs: DataFrame, text_col: str = "text", n: int = 5) -> DataFrame:
    """Distinct word n-grams of the eval/benchmark set (the contamination
    dictionary — small, broadcast to every executor)."""
    tok = eval_docs.select(tokens(F.col(text_col)).alias("toks"))
    return tok.select(
        F.explode(shingles(F.col("toks"), n)).alias("ngram")
    ).distinct()


def _checked_id(df: DataFrame, what: str, id_col: str = "doc_id") -> DataFrame:
    """Replace ``id_col`` with a NULL-raising copy of itself.

    Decontamination joins on the id: a NULL id never equals anything,
    so a contaminated NULL-id doc would silently survive every
    anti/semi join (NULL = NULL is unknown).  Embedding the raise in
    the id column itself means the JOIN KEY evaluation fires it — keys
    are evaluated for every row regardless of downstream column
    pruning, which would silently skip a raise in a projected-only
    column.  One honest gap: a consumer that lets Catalyst ELIMINATE
    the join entirely (count() over a cardinality-preserving
    unique-key left join, as in decontaminate_spans) evaluates no keys
    and no raise — every consumer that reads the cleaned output does."""
    dtype = dict(df.dtypes)[id_col]
    return df.withColumn(
        id_col,
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit(
                    f"{what}: NULL {id_col} — a keyless doc cannot be "
                    "matched by the decontamination joins and would "
                    "silently survive them; fill or drop keyless rows"
                )
            ).cast(dtype),
        ).otherwise(F.col(id_col)),
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
    keep: bool = True,
) -> DataFrame:
    """Drop (``keep=True``) or flag-only (``keep=False`` returns the
    contaminated ids) corpus documents sharing any word ``n``-gram with
    the eval set.

    Corpus docs are exploded to (doc_id, ngram) and semi-joined against
    the **broadcast** eval n-gram set: map-only against the corpus scan,
    no corpus shuffle.  At 100 TB the eval dictionary (even 10 M
    n-grams) broadcasts in one go; if it ever didn't, the same plan
    degrades gracefully to a shuffle join on the n-gram key.

    A NULL ``doc_id`` raises (see ``_checked_id``): the anti join
    would otherwise silently KEEP a contaminated keyless doc.
    """
    corpus = _checked_id(corpus, "decontaminate")
    grams = F.broadcast(eval_ngrams(eval_docs, text_col, n))
    tok = corpus.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    doc_grams = tok.select(
        "doc_id", F.explode(shingles(F.col("toks"), n)).alias("ngram")
    )
    contaminated = doc_grams.join(grams, "ngram", "semi").select("doc_id").distinct()
    if not keep:
        return contaminated
    return corpus.join(contaminated, "doc_id", "anti")


def _bloom_layout(n_items: int, fpr: float) -> tuple[int, int]:
    """(m_bits rounded up to a 64 multiple, k hashes) for a Bloom filter
    sized to ``n_items`` at false-positive rate ``fpr``."""
    import math

    if not 0.0 < fpr < 1.0:
        # fpr >= 1 gives m = 0 and pmod(x, 0) = NULL, crashing far from
        # the cause; fpr <= 0 is a bare math domain error
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    n_items = max(n_items, 1)
    m = int(math.ceil(-n_items * math.log(fpr) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _bloom_positions(col: F.Column, m: int, k: int) -> list[F.Column]:
    """The k Bloom bit positions of a string column — plain JVM-side
    expressions (xxhash64 seeded by index), shared by build and probe so
    the two sides agree by construction."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)).cast("long")
        for i in range(k)
    ]


def decontaminate_bloom(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
    fpr: float = 1e-3,
    keep: bool = True,
) -> DataFrame:
    """:func:`decontaminate` for eval sets too large to broadcast raw:
    a Bloom filter over the eval n-grams prefilters the corpus map-side,
    and only the surviving candidates take the exact (shuffle) join.

    Same result as ``decontaminate`` — the Bloom stage only admits
    false *positives* (rate ``fpr``), never false negatives, and every
    candidate is exactly confirmed — but the corpus-side cost changes
    shape: the full corpus n-gram stream is reduced by ~(1 - fpr) in
    the scan stage (an Arrow-batched vectorized bit test against the
    broadcast bitset, ~m/8 bytes for m bits), so the exact join
    shuffles only true hits + fpr·|corpus n-grams| rows instead of
    everything.  At 13-gram GPT-3-style decontamination of a 100 TB
    corpus against a 10 M-n-gram eval suite, the bitset is ~17 MB and
    the shuffle shrinks by ~1000×.

    The bitset itself is built distributed (explode n-grams × k seeds →
    bit positions → per-word ``bit_or``) — only the m/64-row word table
    is collected.  NULL ``doc_id`` raises (see ``_checked_id``).
    """
    from pyspark.sql.functions import pandas_udf

    corpus = _checked_id(corpus, "decontaminate_bloom")
    spark = corpus.sparkSession
    grams = eval_ngrams(eval_docs, text_col, n).localCheckpoint(eager=False)
    n_grams = grams.count()
    m, k = _bloom_layout(n_grams, fpr)

    # build: k positions per eval n-gram → word index (pos // 64) →
    # bit_or of the single-bit masks; one shuffle of k·|eval n-grams|
    # tiny rows, result is dimension-sized (m/64 longs)
    pos = grams.select(
        F.explode(F.array(*_bloom_positions(F.col("ngram"), m, k))).alias("p")
    )
    words = (
        pos.groupBy((F.col("p") / 64).cast("long").alias("w"))
        # shiftleft() the builtin wants a literal shift count; the SQL
        # form takes a column
        .agg(F.expr("bit_or(shiftleft(1L, CAST(pmod(p, 64) AS INT)))").alias("bits"))
    )
    bitset = np.zeros(m // 64, dtype=np.int64)
    for r in collect_bounded(words, "decontaminate_bloom bitset", limit=bitset.size):
        bitset[r["w"]] = r["bits"]
    bc = spark.sparkContext.broadcast(bitset)

    @pandas_udf("boolean")
    def bloom_hit(pos: pd.Series) -> pd.Series:
        bits = bc.value
        if len(pos) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        p = np.array(pos.tolist(), dtype=np.int64)  # (rows, k)
        hit = ((bits[p >> 6] >> (p & 63)) & 1).all(axis=1)
        return pd.Series(hit)

    tok = corpus.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    doc_grams = tok.select(
        "doc_id", F.explode(shingles(F.col("toks"), n)).alias("ngram")
    )
    candidates = doc_grams.where(
        bloom_hit(F.array(*_bloom_positions(F.col("ngram"), m, k)))
    )
    # exact confirm WITHOUT broadcasting the eval set (that's the
    # point): shuffle semi-join on the n-gram key over the tiny
    # candidate stream
    contaminated = (
        candidates.hint("shuffle_hash")
        .join(grams, "ngram", "semi")
        .select("doc_id")
        .distinct()
    )
    if not keep:
        return contaminated
    return corpus.join(contaminated, "doc_id", "anti")


def assign_shards(
    docs: DataFrame, n_shards: int, key_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic shard id in [0, n_shards) from the stable key —
    map-only, reproducible across runs/engines (md5-derived, not
    ``spark_partition_id`` which depends on physical layout).

    The coin is SALTED (default ``"shard"``): the samplers'
    default-salt filters (``sample_fraction``/``stratified_sample``/
    ``weighted_sample``) keep exactly the rows whose UNSALTED fraction
    is small, so an unsalted shard id computed from the same fraction
    would collapse every sampled survivor into the lowest shards
    (sample 10% → 16 shards → everything in shards 0-1).  An
    independent salt decorrelates the two decisions, per
    ``hash_fraction``'s own contract.
    """
    return docs.withColumn(
        "shard_id",
        F.floor(hash_fraction(F.col(key_col), salt) * n_shards).cast("int"),
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int,
    n_shards: int = 16,
    size_col: str = "n_tokens",
    key_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Concat-and-chunk packing plan: each document's placement when the
    shard's documents are concatenated in deterministic order and cut
    into ``ctx_len``-token training sequences.

    Returns ``(doc_id, shard_id, start_offset, seq_first, seq_last)``:
    the token offset where the doc starts within its shard stream and
    the first/last sequence index it lands in (docs spanning a cut
    appear in both — the trainer's loader handles the split).

    Order within a shard is (hash, key) — a deterministic shuffle, so
    adjacent source docs don't end up in the same context window.  The
    window cumsum runs per shard: parallelism = ``n_shards``, pick it
    ≥ cluster cores for full occupancy (each shard's windowed sort is
    one task over corpus/n_shards rows).

    The shard coin is salted (``"shard"``, matching
    :func:`assign_shards` — see its docstring for why an unsalted coin
    collapses sampled corpora into the lowest shards).  A NULL
    ``size_col`` raises: the window sum would silently skip it,
    shifting every later doc's offsets off the real token stream — a
    packing plan that no longer lines up with the data is silent
    corruption, not a recoverable default.
    """
    if ctx_len < 1 or n_shards < 1:
        raise ValueError(
            f"ctx_len and n_shards must be >= 1, got ctx_len={ctx_len}, "
            f"n_shards={n_shards}"
        )
    size = F.when(
        F.col(size_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"pack_sequences: NULL {size_col} for {key_col}="),
                F.col(key_col).cast("string"),
                F.lit(" — compute sizes first; a skipped NULL would "
                      "silently misalign every later offset"),
            )
        ).cast("long"),
    ).otherwise(F.col(size_col).cast("long"))
    # ONE hash evaluation per row: shard_id derives from the same
    # fraction (identical to assign_shards' formula) instead of paying
    # a second md5 pass over the corpus
    sharded = docs.withColumn(
        "_h", hash_fraction(F.col(key_col), salt)
    ).withColumn(
        "shard_id", F.floor(F.col("_h") * n_shards).cast("int")
    ).withColumn("__sz", size)
    w = (
        Window.partitionBy("shard_id")
        .orderBy("_h", key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sharded.withColumn(
            "start_offset", F.coalesce(F.sum("__sz").over(w), F.lit(0)).cast("long")
        )
        .withColumn("seq_first", F.floor(F.col("start_offset") / ctx_len).cast("int"))
        .withColumn(
            "seq_last",
            # a zero-token doc would get seq_last = seq_first - 1 from
            # the (offset + size - 1) formula; clamp so the range is
            # always well-formed (empty docs occupy their start sequence)
            F.greatest(
                F.col("seq_first"),
                F.floor(
                    (F.col("start_offset") + F.col("__sz") - 1) / ctx_len
                ).cast("int"),
            ),
        )
        .select(key_col, "shard_id", "start_offset", "seq_first", "seq_last")
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int,
    size_col: str = "n_tokens",
    key_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Per-shard manifest: ``(shard_id, n_docs, total_tokens)`` — the
    dimension-sized table a data loader uses to schedule epochs.  One
    hash-agg with map-side partials; the hash sharding keeps shard sizes
    balanced to ~±sqrt tolerance without a sort.  A NULL ``size_col``
    raises (a skipped NULL silently under-reports the shard's tokens —
    the :func:`pack_sequences` contract).  ``salt`` must match the one
    the docs were packed with (:func:`assign_shards` /
    :func:`pack_sequences`) — before it was forwarded here, a manifest
    for a non-default-salt packing silently described a DIFFERENT shard
    assignment."""
    size = F.when(
        F.col(size_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"shard_manifest: NULL {size_col} for {key_col}="),
                F.col(key_col).cast("string"),
                F.lit(" — compute sizes first"),
            )
        ).cast("long"),
    ).otherwise(F.col(size_col).cast("long"))
    return (
        assign_shards(docs, n_shards, key_col, salt)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(size).cast("long").alias("total_tokens"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunks — retrieval/RAG indexing prep.

    Each document becomes ⌈n/stride⌉ chunks of up to ``size`` tokens
    starting every ``stride`` tokens (``stride < size`` ⇒ overlap of
    ``size - stride``).  The tail chunk is shorter, never dropped.

    Map-only: ``sequence``/``slice``/``array_join`` on the token array,
    no shuffle, no UDF — a 100 TB corpus chunks at scan speed and the
    output inherits the input partitioning (good for writing alongside
    the source shards).

    NULL- and empty-text docs emit NO chunks (the family convention —
    they previously emitted one junk row with NULL chunk_text that
    would flow into a RAG index as a null document).
    """
    if stride < 1 or size < 1:
        raise ValueError("size and stride must be >= 1")
    toks = docs.where(
        F.col(text_col).isNotNull() & (F.col(text_col) != "")
    ).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        toks.select(
            F.col(id_col),
            F.col("__toks"),
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .withColumn("chunk", F.slice("__toks", F.col("start") + 1, size))
        .select(
            id_col,
            "chunk_idx",
            "start",
            F.size("chunk").alias("chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


def decontaminate_spans(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Span-level decontamination: instead of dropping whole documents
    (:func:`decontaminate`), remove only the tokens covered by an
    eval-set n-gram match — the C4-style surgical variant that keeps the
    clean remainder of a long document.

    A match at token position p removes positions [p, p+n-1]; runs of
    overlapping matches merge naturally because removal is evaluated
    per token.  Returns (doc_id, clean_text, n_hits, n_tokens_removed);
    untouched docs pass through with n_hits = 0.

    Plan: corpus n-grams (map-only explode) semi-join the broadcast
    eval dictionary → per-doc hit-position list (one shuffle, hits only
    — clean docs never shuffle) → broadcast-size join back onto the
    corpus scan → token filtering as array expressions.  No UDF.
    NULL ``doc_id`` raises (see ``_checked_id``): the hits would never
    join back onto a keyless doc, which would pass through uncleaned
    with n_hits = 0.
    """
    corpus = _checked_id(corpus, "decontaminate_spans")
    grams = F.broadcast(eval_ngrams(eval_docs, text_col, n))
    tok = corpus.select("doc_id", tokens(F.col(text_col)).alias("__toks"))
    hits = (
        tok.select(
            "doc_id",
            F.posexplode(shingles(F.col("__toks"), n)).alias("pos", "ngram"),
        )
        .join(grams, "ngram", "semi")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("__hits"))
    )
    joined = tok.join(hits, "doc_id", "left").withColumn(
        "__hits", F.coalesce("__hits", F.array())
    )
    covered = lambda i: F.exists(  # noqa: E731
        "__hits", lambda h: (i >= h) & (i <= h + F.lit(n - 1))
    )
    kept = F.filter(
        F.transform("__toks", lambda x, i: F.struct(x.alias("t"), i.alias("i"))),
        lambda s: ~covered(s["i"]),
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
        F.size("__hits").alias("n_hits"),
        (F.size("__toks") - F.size(kept)).alias("n_tokens_removed"),
    )
