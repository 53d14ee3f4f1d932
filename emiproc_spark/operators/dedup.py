"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design:

- **exact**: hash-groupBy on a content digest — one shuffle on the
  digest, arbitrarily wide.
- **n-gram Jaccard**: shingle-explode → self-equi-join on shingle →
  pair-count agg.  The join key is the shingle, so hot shingles are the
  skew risk — ``max_shingle_freq`` drops stop-shingles (appearing in
  more than N docs) before the join, the standard web-dedup guard.
- **MinHash-LSH**: k independent hash functions realized as
  lexicographic min of md5(shingle ⊕ seed); signatures banded so only
  same-band docs join — candidate generation never goes quadratic.
- **SimHash**: 64-bit fingerprint from per-token md5 bits; near-dup =
  small Hamming distance on the fingerprint (cheap bit ops).

All hashing is md5-based so results are engine-independent and
oracle-checkable (no JVM-specific hash functions in semantics-bearing
positions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emiproc_spark.localdf import collect_bounded
from emiproc_spark.operators.text import shingles, tokens
from emiproc_spark.qhelpers import widen_for_fanout


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs,
    keep_doc_id) for groups with n_docs > 1.

    NULL-text docs are excluded: ``md5(NULL)`` is NULL and groupBy
    collects NULL keys, so unfetched/failed rows would otherwise form
    one giant fake "byte-identical" group whose members a curation pass
    would then drop as duplicates of unknown content."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) pairs.

    Tokenization is materialized into a column in its own projection so
    the split runs once per document — inlining it into the shingle
    lambda re-evaluates it per array element (~6× slower end-to-end).
    The input is widened to default parallelism first: the shingle
    explode (and the md5 hashing layered on it downstream) is the
    family's dominant map cost and must not inherit a compacted
    input's 1-3 scan partitions.

    Dedup happens per row (``array_distinct`` before the explode), not
    as a relation-wide ``.distinct()``: the set lives entirely within
    one document, so deduplicating it needs no corpus-wide
    (doc_id, shingle) exchange — the whole relation is map-side.  That
    also keeps every document's shingles inside one partition, so a
    downstream groupBy(doc_id) partial-aggregates to ONE row per doc
    before its exchange.
    """
    tok = widen_for_fanout(docs).select(
        "doc_id", tokens(F.col(text_col)).alias("toks")
    )
    return tok.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("toks"), n))).alias("shingle"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by shingle-set Jaccard ≥ threshold.

    |A∩B| from the shingle self-join; |A∪B| = |A|+|B|−|A∩B| from the
    per-doc set sizes — no second pass over pairs.
    """
    if not 0.0 < threshold <= 1.0:
        # the family contract (verify_candidate_pairs/setsim_join):
        # threshold 0 would emit every shingle-sharing pair — a silent
        # near-quadratic explosion instead of a loud error
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # lazy localCheckpoint, not cache(): same multi-reference reuse, but
    # the blocks free when the plan is GC'd instead of pinning executor
    # storage until an explicit unpersist (band_signatures' pattern)
    sh = doc_shingles(docs, text_col, n).localCheckpoint(eager=False)
    joinable = sh
    if max_shingle_freq is not None:
        # drop stop-shingles BEFORE the self-join (skew guard at scale);
        # Jaccard is then over the discriminative shingle sets, so sizes
        # come from the filtered relation too (identical twins keep 1.0)
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        joinable = sh.join(
            freq.where(F.col("df") <= max_shingle_freq).select("shingle"), "shingle", "semi"
        ).localCheckpoint(eager=False)
    sizes = joinable.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def minhash_signature_array(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per document as ONE array column,
    computed without any aggregation — the *stateless* form for
    Structured Streaming stages (usable before applyInPandasWithState,
    where a groupBy would force an extra stateful aggregation).

    Batch callers should prefer :func:`minhash_signatures`: its
    explode→groupBy(doc_id) LOOKS like a shuffle of all shingles but is
    not — every doc's shingles are generated inside one partition, so
    map-side partial aggregation collapses them to one row per doc
    before the exchange, and the codegen'd hash-agg measures ~1.8×
    faster than this interpreted higher-order fold.

    Returns (doc_id, sig ARRAY<STRING>[k]) — identical mins to
    :func:`minhash_signatures`, deterministic across engines.
    ``carry_cols`` names extra input columns to ride through unchanged
    (every stage here is a stateless select, so streaming metadata like
    a bootstrap flag carries for free).
    """
    carry = list(carry_cols or [])
    n_digests = (k + 3) // 4
    tok = (
        docs.select("doc_id", *carry, tokens(F.col(text_col)).alias("__toks"))
        .select("doc_id", *carry, shingles(F.col("__toks"), n).alias("__sh"))
        # docs too short for any shingle had no rows in the explode
        # formulation; keep that contract (an all-null sig would bucket
        # every short doc together downstream)
        .where(F.size("__sh") > 0)
    )
    hashed = tok.select(
        "doc_id",
        *carry,
        F.transform(
            "__sh",
            lambda s: F.concat(
                *[F.md5(F.concat(s, F.lit(f"#{i}"))) for i in range(n_digests)]
            ),
        ).alias("__h"),
    )
    # all k mins in ONE fold over the hash array: k separate
    # array_min(transform(...)) expressions would re-evaluate the md5
    # column k times after Catalyst's projection collapse (~k× the hash
    # work); the aggregate walks the array once, zip_with/least updates
    # every chunk's running min per element.  "~" sorts after any hex
    # digit, so it is the fold's +∞.  (NB: keep higher-order lambdas
    # single-argument — a second parameter binds the array index.)
    sig = F.aggregate(
        F.col("__h"),
        F.array(*[F.lit("~") for _ in range(k)]),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.substring(h, i * 8 + 1, 8) for i in range(k)]),
            lambda a, b: F.least(a, b),
        ),
    )
    return hashed.select("doc_id", *carry, sig.alias("sig"))


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n: int = 3, k: int = 8
) -> DataFrame:
    """k-permutation MinHash signature per document.

    The k permutations come from 8-hex-digit (32-bit) chunks of
    ⌈k/4⌉ md5 digests per shingle — ~k/4 hash invocations and ONE
    aggregation row per (doc, shingle) instead of a k-way seed explode;
    the k mins are map-side partial-agg columns (each doc's shingles
    live in one partition, so the exchange carries one row per doc),
    unpivoted JVM-side.  Returns (doc_id, seed, minhash) —
    deterministic across engines.
    """
    sh = doc_shingles(docs, text_col, n)
    n_digests = (k + 3) // 4
    full = F.concat(
        *[
            F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))
            for i in range(n_digests)
        ]
    )
    mins = sh.withColumn("h", full).groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", i * 8 + 1, 8)).alias(f"m{i}")
            for i in range(k)
        ]
    )
    stack = ", ".join(f"{i}, m{i}" for i in range(k))
    return mins.selectExpr(
        "doc_id", f"stack({k}, {stack}) AS (seed, minhash)"
    ).withColumn("seed", F.col("seed").cast("int"))


def band_signatures(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """Collapse a long (doc_id, seed, minhash) signature to one hashed
    row per (doc_id, band) — the LSH bucket key.

    Banding derives from seed // rows_per_band, so the signature width
    must equal bands·rows_per_band — a mismatched k would silently band
    differently than the caller asked (looser/weaker buckets).
    Validated lazily at execution: a short band or a band index past
    ``bands`` raises per (doc, band), and a per-doc band COUNT check
    catches the remaining case (k a whole-band multiple short, e.g.
    k=6 for 4×2 — every group individually valid but a band missing,
    which would silently lower recall).  Same contract the streaming
    counterpart enforces up-front on k (streams.py).

    The result is lazily localCheckpointed: every caller self-joins it,
    and truncating the lineage makes the banded aggregation (and the
    whole signature plan under it) materialize once, not once per join
    side (exchange reuse does not survive AQE broadcasting).
    """
    band_ok = (F.count("*") == rows_per_band) & (F.first("band") < bands)
    banded = (
        signatures.withColumn("band", (F.col("seed") / F.lit(rows_per_band)).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.when(
                band_ok,
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                            lambda s: s["minhash"],
                        ),
                    )
                ),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        f"lsh_candidate_pairs: signatures do not band into "
                        f"{bands} bands of {rows_per_band} rows — pass "
                        "signatures with k = bands * rows_per_band seeds"
                    )
                ).cast("string")
            )
            .alias("band_hash")
        )
    )
    from pyspark.sql import Window

    n_bands = F.count("*").over(Window.partitionBy("doc_id"))
    banded = banded.withColumn(
        "band_hash",
        F.when(n_bands == bands, F.col("band_hash")).otherwise(
            F.raise_error(
                F.lit(
                    f"lsh_candidate_pairs: signature bands missing — expected "
                    f"{bands} bands per doc (k = bands * rows_per_band seeds)"
                )
            ).cast("string")
        ),
    )
    return banded.localCheckpoint(eager=False)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
    oversize_policy: str = "star",
) -> DataFrame:
    """Band the signature and emit distinct candidate pairs sharing at
    least one band — the LSH bucket join.  ``signatures`` is the long
    (doc_id, seed, minhash) form with bands·rows_per_band seeds.

    ``max_bucket_size`` is the skew guard for 100 TB corpora: a bucket
    dominated by a stop-shingle (thousands of docs sharing one band
    hash) would go quadratic in the self-join.  Buckets larger than the
    cap are handled per ``oversize_policy``:

    - ``"star"`` (default): link every member to the bucket's min
      doc_id instead of all-pairs — the connected components (and thus
      any CC-based dedup collapse) are IDENTICAL, with linear output.
      CAUTION: star pairs are only safe when they feed connected
      components directly.  The emitted edges pair the representative
      with members it may not actually resemble, and omit real
      member–member pairs — so a downstream stage that verifies each
      candidate pair by true similarity (e.g. Jaccard on the shingle
      sets) before clustering will both waste verification on synthetic
      edges and lose true duplicates whose only shared bucket was
      oversize.  For verify-then-cluster pipelines use
      ``oversize_policy="drop"`` (accepting lost candidates) or no cap;
    - ``"drop"``: skip the bucket entirely (candidates may be lost).
    """
    if oversize_policy not in ("star", "drop"):
        raise ValueError(f"oversize_policy must be star or drop, got {oversize_policy!r}")
    banded = band_signatures(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        stats = banded.groupBy("band", "band_hash").agg(
            F.count("*").alias("__sz"), F.min("doc_id").alias("__rep")
        )
        banded = banded.join(stats, ["band", "band_hash"])
        small = banded.where(F.col("__sz") <= max_bucket_size).drop("__sz", "__rep")
        a, b = small.alias("a"), small.alias("b")
        pairs = (
            a.join(b, ["band", "band_hash"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        )
        if oversize_policy == "star":
            star = (
                banded.where(
                    (F.col("__sz") > max_bucket_size)
                    & (F.col("doc_id") != F.col("__rep"))
                )
                .select(
                    F.col("__rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
                )
            )
            pairs = pairs.unionByName(star)
        return pairs.distinct()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs_incremental(
    signatures: DataFrame,
    new_docs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    validate_new_docs: bool = True,
) -> DataFrame:
    """Candidate pairs of an *incremental* dedup batch: every LSH pair
    with at least one side in ``new_docs`` (a one-column doc_id frame);
    existing-corpus pairs (old × old) are never generated.

    This is the production shape for a growing corpus: the historical
    band table is computed once (in practice: stored, partitioned by
    (band, band_hash)) and each ingest batch joins only its OWN bands
    against it — per-batch cost is |batch| × bucket occupancy, not a
    full-corpus self-join re-run.  Output matches
    ``lsh_candidate_pairs(...)`` filtered to pairs touching a new doc
    (pair order doc_a < doc_b), so verify-then-cluster pipelines
    compose unchanged.

    ``validate_new_docs``: a ``new_docs`` id with NO signature row
    (stale signature table, or the doc was dropped by the signature
    build) would silently contribute zero candidates and read as "not
    a duplicate" — by default such ids raise inside the returned plan
    (the ``minhash_agreement`` loud-failure convention).  The check is
    one extra pass over the signature ids per batch; pass ``False`` if
    the caller has already reconciled the batch against the store.
    """
    banded = band_signatures(signatures, bands, rows_per_band)
    flagged = banded.join(
        F.broadcast(new_docs.select("doc_id").distinct().withColumn("__new", F.lit(True))),
        "doc_id",
        "left",
    ).withColumn("__new", F.coalesce("__new", F.lit(False)))
    a = flagged.where("__new").alias("a")
    b = flagged.alias("b")
    # new×old pairs pass unconditionally (canonicalized via least/
    # greatest); new×new needs a.doc_id < b.doc_id so each unordered
    # pair is generated once, not twice
    out = (
        a.join(b, ["band", "band_hash"])
        .where((~F.col("b.__new")) | (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    if validate_new_docs:
        # eager check at build: a lazy raise_error embedded in the
        # returned plan is optimizer-fragile (a projected raise gets
        # column-pruned by count(); a filtered raise gets predicate-
        # pushed below the anti join and fires on VALID ids).  The
        # anti-join is the documented extra pass; limit(1) keeps the
        # driver transfer to one row.
        orphans = (
            new_docs.select("doc_id")
            .distinct()
            .join(signatures.select("doc_id").distinct(), "doc_id", "left_anti")
            .limit(1)
        )
        missing = collect_bounded(orphans, "lsh_candidate_pairs_incremental")
        if missing:
            raise ValueError(
                f"lsh_candidate_pairs_incremental: new_docs id "
                f"{missing[0]['doc_id']} has no signature rows — stale "
                "signature table, or the doc was dropped by the "
                "signature build (pass validate_new_docs=False if the "
                "batch is already reconciled against the store)"
            )
    return out


def verify_candidate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard confirmation of candidate pairs — the
    verify stage of a verify-then-cluster dedup pipeline (LSH recalls
    candidates, this removes its false positives; use with
    ``lsh_candidate_pairs(..., oversize_policy="drop")`` or no cap, per
    that function's star-policy caveat).

    Scale shape: shingles are semi-filtered to docs that actually
    appear in a candidate pair before any join, so cost is
    O(|pairs| × avg shingles/doc), not corpus-sized; the pair relation
    drives both joins (no shingle×shingle self-join here).  Returns
    (doc_a, doc_b, n_common, jaccard) for pairs with jaccard ≥
    threshold; candidates with no common shingle drop out.

    ``shingles``: an optional precomputed distinct (doc_id, shingle)
    relation for ``docs`` (same ``n``, same tokenizer — i.e.
    :func:`doc_shingles` output, ideally already checkpointed by the
    caller).  A caller that built the shingle relation for candidate
    generation (``setsim_join``) passes it here so the verify stage
    semi-filters it instead of re-tokenizing and re-shingling the
    corpus a second time.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # canonicalize BEFORE distinct: a duplicated input pair would
    # double-count every common shingle (jaccard > 1), and a REVERSED
    # duplicate (1,2)+(2,1) would survive a plain distinct as two
    # output rows — dedup_keep_first would then drop BOTH docs.
    # Self-pairs carry no information and are dropped.
    cand = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # semi-filter BEFORE shingling: Catalyst won't push a semi join
    # below the explode, and at scale candidates are a small fraction
    # of the corpus — non-candidate docs must never explode.  Lazy
    # localCheckpoint (not cache): reused thrice below, blocks free on
    # GC instead of pinning storage
    if shingles is None:
        sh = doc_shingles(
            docs.join(cand_docs, "doc_id", "semi"), text_col, n
        ).localCheckpoint(eager=False)
    else:
        sh = shingles.join(cand_docs, "doc_id", "semi").localCheckpoint(
            eager=False
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def edit1_pairs(
    keys: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Pairs of rows whose string keys are within Levenshtein distance
    1 — fuzzy key matching (near-identical URLs, titles, codes) without
    a quadratic self-join.

    SymSpell-style deletion blocking: each key emits itself plus every
    single-character deletion; two keys with true distance ≤ 1 are
    GUARANTEED to share a variant (substitution → both delete the
    differing position; insertion → the longer key's deletion equals
    the shorter; equality → the keys themselves), so the variant
    equi-join recalls every pair and the built-in ``levenshtein``
    confirms exactly.  Cost: (len+1) variants per key into one
    equi-join — O(n·len), never O(n²).

    ``max_bucket_size`` mirrors the LSH stop-shingle guard: a variant
    shared by more rows than the cap (a hot common prefix pattern) is
    dropped, trading those candidates for bounded bucket joins (policy
    "drop" only — verification follows, so star edges would be wrong;
    see lsh_candidate_pairs).  NULL keys are excluded (levenshtein on
    NULL is undefined); distance 0 pairs (identical keys) are included.
    Returns (doc_a, doc_b, dist).
    """
    s = F.col(key_col)
    # backtick-quote: a key_col like "url-key" or "a.b" would otherwise
    # parse as arithmetic / a struct-field reference inside the expr
    q = "`" + key_col.replace("`", "``") + "`"
    dels = F.when(
        F.length(s) > 0,
        F.expr(
            f"transform(sequence(1, length({q})), i -> "
            f"concat(substring({q}, 1, i-1), "
            f"substring({q}, i+1, length({q}))))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    var = keys.where(s.isNotNull()).select(
        F.col(id_col).alias("__id"),
        s.alias("__k"),
        F.explode(F.array_distinct(F.concat(F.array(s), dels))).alias("__v"),
    )
    if max_bucket_size is not None:
        if max_bucket_size < 1:
            raise ValueError(f"max_bucket_size must be >= 1, got {max_bucket_size}")
        sizes = var.groupBy("__v").agg(F.count("*").alias("__sz"))
        var = var.join(
            sizes.where(F.col("__sz") <= max_bucket_size).select("__v"),
            "__v",
            "semi",
        )
    a, b = var.alias("a"), var.alias("b")
    cand = (
        a.join(b, "__v")
        .where(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("a.__k").alias("__ka"),
            F.col("b.__id").alias("doc_b"),
            F.col("b.__k").alias("__kb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("__ka", "__kb"))
        .where(F.col("dist") <= 1)
        .select("doc_a", "doc_b", "dist")
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint as a bit-string column.

    Each distinct token hashes to md5; the first 16 hex digits carry the
    64 bits.  Per bit position, tokens vote ±1; the fingerprint bit is 1
    where the vote is positive.  Returns (doc_id, simhash_bits).

    The bits are extracted JVM-side — ``conv`` turns each 8-hex-digit
    half into a 32-bit int, ``shiftright``+mask reads each position — so
    the aggregation input is ONE row per (doc, distinct token), not a
    64-way row explode.  The per-position one-counts are packed three
    to a long in 16-bit lanes, so the shuffle/agg carries 22 long
    columns (+ the token count) instead of 64: lane l of column c
    accumulates ones at position ``3c + l``; the vote at p is positive
    iff ``2·ones(p) > n_tokens``.  Three lanes (not four) keep the
    highest lane at bit 32, so the int64 sum cannot overflow for any
    document the 65 536-distinct-token guard admits (a fourth lane at
    bit 48 would overflow the signed sum at 32 768 tokens *before* the
    guard could fire); above the guard, lane carries corrupt the counts
    and the execution-time error fires (truncate/shingle such documents
    first).

    Bit-string (not BIGINT) output keeps it engine-portable; Hamming
    distance is a cheap zip-count on the string or a later cast.
    """
    if bits != 64:
        raise ValueError("md5-based simhash is 64-bit (16 hex digits)")
    # per-doc token dedup happens map-side (array_distinct) — no extra
    # distinct shuffle; the groupBy below is then the only exchange.
    # The md5+vote map work runs at input-partition parallelism (a real
    # corpus has many scan partitions; tiny single-file test inputs pay
    # a serial map stage, which is the right trade at scale).
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        )
        .withColumn("h", F.md5("tok"))
        .withColumn("hi", F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))
        .withColumn("lo", F.conv(F.substring("h", 9, 8), 16, 10).cast("long"))
    )

    def bit(pos: int):
        half, shift = ("hi", 31 - pos) if pos < 32 else ("lo", 63 - pos)
        return F.shiftright(F.col(half), shift).bitwiseAND(F.lit(1))

    def lane_pack(col: int):
        packed = bit(3 * col)
        for lane in range(1, 3):
            if 3 * col + lane < 64:
                packed = packed + F.shiftleft(bit(3 * col + lane), 16 * lane)
        return F.sum(packed).alias(f"c{col}")

    n_cols = 22  # ceil(64 / 3)
    counts = tok.groupBy("doc_id").agg(
        F.count("*").alias("__n"), *[lane_pack(c) for c in range(n_cols)]
    )
    guard = F.when(
        F.col("__n") >= 65536,
        F.raise_error(
            F.concat(
                F.lit("simhash: doc "),
                F.col("doc_id").cast("string"),
                F.lit(" has >= 65536 distinct tokens — lane counters "
                      "would overflow; truncate or shingle first"),
            )
        ).cast("long"),
    ).otherwise(F.col("__n"))

    def ones(pos: int):
        return F.shiftright(F.col(f"c{pos // 3}"), 16 * (pos % 3)).bitwiseAND(
            F.lit(0xFFFF)
        )

    return counts.select(
        "doc_id",
        F.concat(
            *[
                F.when(ones(p) * 2 > guard, F.lit("1")).otherwise(F.lit("0"))
                for p in range(64)
            ]
        ).alias("simhash_bits"),
    )


def hamming_pairs(
    fingerprints: DataFrame,
    max_distance: int = 3,
    reuse_fingerprints: bool = True,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over simhash bit-strings,
    LSH-blocked on 16-bit quarters: two 64-bit hashes within distance 3
    must agree on at least one quarter — only same-quarter docs join.

    ``reuse_fingerprints`` truncates the input lineage with a lazy
    ``localCheckpoint`` so the (usually expensive) fingerprint plan —
    e.g. a full :func:`simhash` aggregation — materializes ONCE instead
    of once per self-join side (Catalyst does not reuse the exchange
    when AQE broadcasts one side).  Costs one fingerprint-table copy in
    executor block storage; pass ``False`` if the input is already a
    materialized table.
    """
    if not 0 <= max_distance <= 3:
        raise ValueError(
            f"max_distance={max_distance}: 16-bit-quarter blocking is only "
            "complete for distances <= 3 (4 blocks; d+1 blocks must agree "
            "by pigeonhole) — larger thresholds would silently lose pairs"
        )
    # pack the 64-char bit-string into two 32-bit halves ONCE per doc
    # (inside the checkpointed relation, so the conversion — like the
    # fingerprint plan — runs once, not per join side): the quarter
    # blocking key becomes a 16-bit integer lane instead of a 16-char
    # substring, the candidate shuffle carries 4 longs instead of two
    # 64-char strings, and the per-pair Hamming distance is two
    # XOR+bit_count ops instead of splitting both strings into 64-char
    # arrays and zip-counting them
    packed = fingerprints.select(
        "doc_id",
        F.conv(F.substring("simhash_bits", 1, 32), 2, 10)
        .cast("long")
        .alias("__hi"),
        F.conv(F.substring("simhash_bits", 33, 32), 2, 10)
        .cast("long")
        .alias("__lo"),
    )
    if reuse_fingerprints:
        packed = packed.localCheckpoint(eager=False)
    quarters = packed.select(
        "doc_id",
        "__hi",
        "__lo",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("q"),
    ).withColumn(
        "qval",
        # q 0/2 take the high 16 bits of their half, q 1/3 the low
        F.when(F.col("q") == 0, F.shiftright(F.col("__hi"), 16))
        .when(F.col("q") == 1, F.col("__hi"))
        .when(F.col("q") == 2, F.shiftright(F.col("__lo"), 16))
        .otherwise(F.col("__lo"))
        .bitwiseAND(F.lit(0xFFFF)),
    )
    a, b = quarters.alias("a"), quarters.alias("b")
    cand = (
        a.join(b, ["q", "qval"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.__hi").alias("__hi_a"),
            F.col("a.__lo").alias("__lo_a"),
            F.col("b.__hi").alias("__hi_b"),
            F.col("b.__lo").alias("__lo_b"),
        )
        .distinct()
    )
    dist = F.bit_count(
        F.col("__hi_a").bitwiseXOR(F.col("__hi_b"))
    ) + F.bit_count(F.col("__lo_a").bitwiseXOR(F.col("__lo_b")))
    return cand.withColumn("hamming", dist).where(F.col("hamming") <= max_distance).select(
        "doc_a", "doc_b", "hamming"
    )


def dedup_keep_first(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Materialize a deduplicated corpus: drop every doc that appears as
    the larger id of a near-dup pair (connected-component-free greedy
    keep-lowest, the common single-pass policy)."""
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(drop, "doc_id", "anti")


def passage_spans(
    docs: DataFrame, text_col: str = "text", win: int = 20, id_col: str = "doc_id"
) -> DataFrame:
    """Fixed-size token windows per document with a content hash —
    the span granularity for sub-document (C4 / "Deduplicating
    Training Data" style) exact dedup.

    One generator + projection per doc (map-only): spans =
    max(1, ⌊n_tokens/win⌋), each hashed md5 over its space-joined
    tokens.  The sub-window tail is folded into the LAST span (it runs
    to the end of the document) rather than emitted on its own — a bare
    few-token tail span would hash-collide across unrelated documents
    ending in the same short token run, inflating false-positive
    duplicates.  Returns (id, p_idx, passage_hash).

    NULL- and empty-text docs emit NO spans (the family convention):
    they would otherwise all hash to md5('') and be reported as one
    giant cross-corpus duplicated span, and a span-removal pass would
    treat every empty doc as duplicated boilerplate.
    """
    # NOT widened: one md5 per win-token span is too cheap to pay an
    # exchange for (A/B measured 0.40 s -> 0.76 s with the widen)
    tok = docs.where(
        F.col(text_col).isNotNull() & (F.col(text_col) != "")
    ).select(id_col, tokens(F.col(text_col)).alias("__toks"))
    n_spans = F.greatest(
        F.lit(1), F.floor(F.size("__toks") / F.lit(float(win))).cast("int")
    )
    spans = tok.select(
        id_col,
        "__toks",
        n_spans.alias("__n_spans"),
        F.explode(F.sequence(F.lit(0), n_spans - 1)).alias("p_idx"),
    )
    # last span absorbs the tail: slice length win + (win - 1) covers it
    # (slice truncates at the array end)
    span_len = F.when(
        F.col("p_idx") == F.col("__n_spans") - 1, F.lit(2 * win - 1)
    ).otherwise(F.lit(win))
    return spans.select(
        id_col,
        "p_idx",
        F.md5(
            F.concat_ws(" ", F.slice("__toks", F.col("p_idx") * win + 1, span_len))
        ).alias("passage_hash"),
    )


def passage_duplicates(
    docs: DataFrame, text_col: str = "text", win: int = 20, id_col: str = "doc_id"
) -> DataFrame:
    """Cross-corpus duplicated spans: (passage_hash, n_copies, keep_doc)
    for spans occurring more than once — one hash-shuffle on the span
    digest (the scale shape of exact span dedup; removal is a semi-join
    of (doc, p_idx) against the losers)."""
    return (
        passage_spans(docs, text_col, win, id_col)
        .groupBy("passage_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_doc"),
        )
        .where(F.col("n_copies") > 1)
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    scheme): hash every k-gram, slide a w-wide window, keep each
    window's minimal hash — guarantees any shared substring of
    ``w + k - 1`` tokens contributes at least one common fingerprint,
    with ~2/(w+1) selection density.

    Ties break to the LEFTMOST minimal hash (deterministic across
    engines: the (hash, pos) struct ordering).  Docs with fewer than w
    k-grams get one window over all of them; docs shorter than k tokens
    produce no fingerprints.

    Plan: map-only array expressions (shingle → md5 → windowed
    struct-min) then ONE shuffle for the distinct fingerprint set —
    no self-join, no UDF; output is the join key for plagiarism-style
    overlap detection at corpus scale.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    # widen before the shingle/md5/window-min pipeline (same gate as
    # doc_shingles — no-op at scale): a compacted corpus presents 1-2
    # scan splits and serializes the O(n·w) fingerprint build
    toks = widen_for_fanout(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    sh = toks.select(id_col, shingles(F.col("__toks"), k).alias("__sh"))
    hs = sh.select(
        F.col(id_col),
        F.transform(
            "__sh", lambda x, i: F.struct(F.md5(x).alias("h"), i.alias("pos"))
        ).alias("__hs"),
    )
    n = F.size("__hs")
    n_win = F.when(n >= w, n - w + 1).otherwise(F.least(n, F.lit(1)))
    return (
        hs.where(n > 0)
        .select(F.col(id_col), F.col("__hs"), F.explode(F.sequence(F.lit(0), n_win - 1)).alias("s"))
        .select(
            id_col,
            F.array_min(F.slice("__hs", F.col("s") + 1, w)).alias("fp"),
        )
        .select(id_col, F.col("fp.h").alias("fingerprint"), F.col("fp.pos").alias("pos"))
        .distinct()
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    the MOSS overlap detector: robust to reordering/insertion because a
    common run of ``w + k − 1`` tokens always contributes a shared
    fingerprint, and far cheaper than a shingle self-join because only
    the ~2/(w+1)-dense fingerprint set joins.

    ``max_fp_freq`` drops fingerprints present in more than N docs
    before the self-join (the same stop-shingle skew guard as
    ``ngram_jaccard_pairs`` — a boilerplate-header fingerprint shared by
    a million docs must not fan out a 10¹²-row join).
    """
    fp = winnow_fingerprints(docs, k, w, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), "fingerprint"
    ).distinct()
    # one self-join input, materialized once (same rationale as the
    # other near-dup kernels: both join sides share the lineage)
    fp = fp.localCheckpoint(eager=False)
    joinable = fp
    if max_fp_freq is not None:
        freq = fp.groupBy("fingerprint").agg(F.count("*").alias("df"))
        joinable = fp.join(
            F.broadcast(freq.where(F.col("df") > max_fp_freq)),
            "fingerprint",
            "anti",
        )
    a, b = joinable.alias("a"), joinable.alias("b")
    return (
        a.join(b, "fingerprint")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated token spans — the sliding-window form of
    exact-substring dedup ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2022): every n-token shingle occurring in
    >= ``min_docs`` DISTINCT documents is duplicated text; per document,
    overlapping or adjacent duplicated shingles merge into maximal
    spans.  The output is what a span-removal pass cuts (contrast
    :func:`passage_spans`, which dedups FIXED non-overlapping windows
    and so misses duplicates straddling a window boundary).

    Returns (id, span_start, span_end): 0-based inclusive token
    indices of each maximal duplicated span.

    Scale shape: shingle (position, hash) pairs are built inside ONE
    ``transform`` over the token array and exploded (no O(len²) token
    array duplication per shingle row); hot-shingle discovery is a hash
    aggregate on the digest; membership is a shuffle semi-join (the
    duplicated-shingle set scales with the corpus — NOT broadcast); the
    island merge is a per-document sort window.  Shingles of equal
    length merge iff gap <= n, so the running-max-end island test
    reduces to ``p - lag(p) > n`` starts.
    """
    if n < 1:
        raise ValueError(f"shingle length must be >= 1, got {n}")
    from pyspark.sql import Window

    # widen before the per-token shingle transform (no-op at scale)
    tok = widen_for_fanout(docs).select(id_col, tokens(F.col(text_col)).alias("__toks"))
    ph = tok.where(F.size("__toks") >= n).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - n),
                lambda p: F.struct(
                    p.alias("p"),
                    F.md5(
                        F.concat_ws(" ", F.slice("__toks", p + 1, F.lit(n)))
                    ).alias("h"),
                ),
            )
        ).alias("s"),
    ).select(id_col, F.col("s.p").alias("p"), F.col("s.h").alias("h"))
    # hot-discovery and the membership semi-join both consume ph with
    # DIFFERENT partitionings (agg vs join exchange), so ReusedExchange
    # can't kick in — checkpoint to explode each token array once
    ph = ph.localCheckpoint(eager=False)
    hot = (
        ph.groupBy("h")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("h")
    )
    dup_pos = ph.join(hot, "h", "semi")
    w = Window.partitionBy(id_col).orderBy("p")
    flagged = dup_pos.withColumn(
        "__new",
        F.when(
            F.lag("p").over(w).isNull() | (F.col("p") - F.lag("p").over(w) > n),
            1,
        ).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "__island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(n - 1)).alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def minhash_agreement(
    signatures: DataFrame, pairs: DataFrame, k: int = 8
) -> DataFrame:
    """Per-pair MinHash signature agreement — the sketch's Jaccard
    ESTIMATE: matching components / k (each component matches with
    probability J, so the mean is an unbiased Jaccard estimator; pair
    with :func:`verify_candidate_pairs` to measure the sketch's error
    against exact shingle Jaccard).

    ``signatures`` is the long (doc_id, seed, minhash) form of
    :func:`minhash_signatures`; ``pairs`` is (doc_a, doc_b).  The pair
    relation drives both joins (k rows per pair side — never a
    signature self-join), so cost is O(|pairs|·k).

    A pair referencing a doc with NO signature rows (e.g. text shorter
    than the shingle width) RAISES — an inner join would silently drop
    the pair, inconsistent with the loud width check below.

    Returns (doc_a, doc_b, est_jaccard) with est an exact multiple of
    1/k (integer count / k — engine-reproducible by construction).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sa = signatures.select(
        F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("__ma")
    )
    sb = signatures.select(
        F.col("doc_id").alias("__doc_b"),
        F.col("seed").alias("__seed_b"),
        F.col("minhash").alias("__mb"),
    )
    est = F.sum(
        F.when(F.col("__ma") == F.col("__mb"), 1).otherwise(0)
    ) / F.lit(float(k))
    # LEFT joins so a pair whose doc has no signature rows survives to
    # the aggregate (count(__ma)=0 or count(__mb)=0) and raises there;
    # a k that disagrees with the actual signature width would silently
    # mis-scale the estimate (values > 1 or < the true mean) — the
    # per-pair seed-row count is already in the aggregate, so check it
    missing = (F.count("__ma") == 0) | (F.count("__mb") == 0)
    width_ok = F.count("*") == k
    return (
        pairs.select("doc_a", "doc_b")
        .distinct()
        .join(sa, "doc_a", "left")
        .join(
            sb,
            (F.col("doc_b") == F.col("__doc_b"))
            & (F.col("seed") == F.col("__seed_b")),
            "left",
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.when(
                missing,
                F.raise_error(
                    F.concat(
                        F.lit("minhash_agreement: pair ("),
                        F.col("doc_a").cast("string"),
                        F.lit(", "),
                        F.col("doc_b").cast("string"),
                        F.lit(") references a doc with no signature rows"),
                    )
                ).cast("double"),
            )
            .when(
                ~width_ok,
                F.raise_error(
                    F.concat(
                        F.lit("minhash_agreement: signature width "),
                        F.count("*").cast("string"),
                        F.lit(f" != k={k}"),
                    )
                ).cast("double"),
            )
            .otherwise(est)
            .alias("est_jaccard")
        )
    )


def dup_token_fraction(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-text budget: how many of a document's
    tokens sit inside a maximal duplicated span
    (:func:`duplicated_spans`) and what fraction of the document that
    is — the quantity a curation pipeline thresholds on ("drop
    documents that are > x% boilerplate/copy").

    Returns (id, n_tokens, dup_tokens, dup_frac) for EVERY input
    document (0 / 0.0 when nothing is duplicated).  Spans never overlap
    (islands are maximal by construction), so the token sum needs no
    interval arithmetic.
    """
    spans = duplicated_spans(docs, n, min_docs, text_col, id_col)
    lens = docs.select(
        id_col, F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens")
    )
    per = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("__dup")
    )
    return lens.join(per, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce(
            F.col("__dup") / F.col("n_tokens"), F.lit(0.0)
        ).alias("dup_frac"),
    )


def setsim_join(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT all-pairs set-similarity join: every pair of documents
    whose shingle-set Jaccard is ≥ ``threshold`` — the SSJoin/PPJoin
    prefix-filtering family (Chaudhuri et al. 2006; Xiao et al. 2008),
    the third point in the near-dup design space: recall-COMPLETE and
    exact, where ``lsh_candidate_pairs`` is probabilistic and
    ``ngram_jaccard_pairs``'s ``max_shingle_freq`` guard is lossy.

    Prefix filter: order every document's shingles globally-rarest
    first; a document of size s keeps a prefix of its first
    s − ceil(t·s) + 1 shingles.  Two sets with Jaccard ≥ t share
    ≥ ceil(t·s) elements, which cannot all hide in either side's
    excluded ceil(t·s) − 1 tail — so qualifying pairs ALWAYS collide
    in the prefix join (the ceil takes a −1e-9 epsilon so float fuzz
    can only lengthen a prefix, never shorten it: extra candidates are
    verified away, lost candidates would be unsound).  Rarest-first
    ordering keeps stop-shingles out of prefixes, so the candidate
    join is driven by discriminative shingles — the skew resistance
    the LSH bucket cap provides, without dropping anything.

    Scale shape: one shingle-frequency aggregate + join (AQE handles
    the stop-shingle skew — it's a join, not a pair explosion), one
    per-doc window for the prefix ranks, the prefix self-join (bounded
    by rare-shingle collisions), then the standard semi-filtered exact
    verify.  Returns (doc_a, doc_b, n_common, jaccard ≥ threshold).
    """
    from pyspark.sql import Window

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # normalize the id ONCE up front via select, which also prunes
    # unrelated wide columns: doc_shingles (and everything below) works
    # in doc_id space, and the output columns are doc_a/doc_b anyway —
    # a rename raised AnalysisException for any non-default id_col (r6
    # advisor), and withColumnRenamed produced an AMBIGUOUS doc_id when
    # the frame already carried one next to a different id_col
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    # the shingle relation feeds the frequency agg, the prefix ranks
    # and the verify — lazy localCheckpoint, not cache() (blocks free
    # on GC instead of pinning executor storage).  The per-doc set size
    # is the array size BEFORE the explode, carried through as a plain
    # column — no count(*) window over the corpus-sized relation.
    tok = widen_for_fanout(d).select(
        "doc_id", tokens(F.col(text_col)).alias("__toks")
    )
    sh = (
        tok.select(
            "doc_id", F.array_distinct(shingles(F.col("__toks"), n)).alias("__set")
        )
        .select(
            "doc_id",
            F.size("__set").alias("__sz"),
            F.explode("__set").alias("shingle"),
        )
        .localCheckpoint(eager=False)
    )
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    sized = sh.join(freq, "shingle")
    w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    pre = (
        sized.withColumn("__pos", F.row_number().over(w))
        .where(
            F.col("__pos")
            <= F.col("__sz")
            - F.ceil(F.lit(float(threshold)) * F.col("__sz") - F.lit(1e-9))
            + 1
        )
    )
    pa = pre.select(
        F.col("doc_id").alias("doc_a"), "shingle",
        F.col("__pos").alias("__pa"), F.col("__sz").alias("__sa"),
    )
    pb = pre.select(
        F.col("doc_id").alias("doc_b"), "shingle",
        F.col("__pos").alias("__pb"), F.col("__sz").alias("__sb"),
    )
    t = float(threshold)
    # size filter inside the join: J >= t forces t*max(|a|,|b|) <= min
    raw = pa.join(pb, "shingle").where(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.col("__sb") >= F.lit(t) * F.col("__sa") - F.lit(1e-9))
        & (F.col("__sa") >= F.lit(t) * F.col("__sb") - F.lit(1e-9))
    )
    # positional filter (PPJoin): from a collision at (pos_a, pos_b) at
    # most 1 + min(|a|-pos_a, |b|-pos_b) common elements are still
    # possible; J >= t needs overlap >= ceil(t/(1+t)*(|a|+|b|)), so a
    # pair none of whose collisions can reach that bound is dead before
    # the (much costlier) exact verify — epsilons again only ever RELAX
    # a bound, keeping the filter recall-safe
    ub = F.lit(1) + F.least(
        F.col("__sa") - F.col("__pa"), F.col("__sb") - F.col("__pb")
    )
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("__sa") + F.col("__sb")) - F.lit(1e-9)
    )
    cand = (
        raw.groupBy("doc_a", "doc_b")
        .agg(F.max(ub).alias("__ub"), F.first(alpha).alias("__alpha"))
        .where(F.col("__ub") >= F.col("__alpha"))
        .select("doc_a", "doc_b")
        # verify_candidate_pairs references the pair relation three
        # times (both cand_docs arms + the intersection join); without
        # truncating lineage the whole prefix pipeline re-executes per
        # reference (~4x the query cost in a vanilla session)
        .localCheckpoint(eager=False)
    )
    # the verify stage reuses the checkpointed shingle relation — the
    # corpus is tokenized and shingled ONCE for the whole join
    return verify_candidate_pairs(
        d, cand, text_col, n, threshold, shingles=sh.select("doc_id", "shingle")
    )
