"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline — one pass over
  the vectors, JVM-side ``zip_with``/``aggregate`` arithmetic, global
  top-k via orderBy+limit (Spark runs distributed partial top-k).
- random-hyperplane LSH buckets: the scale path — deterministic
  md5-seeded hyperplanes, bucket key = sign-bit string; candidate
  generation is an equi-join on the bucket, then exact re-rank.

For a 100 TB corpus the bucket join replaces the O(N) scan per query
with a per-bucket scan (~N / 2^planes), and the same signatures serve
the all-pairs near-dup case (bucket self-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from emiproc_spark.localdf import collect_bounded


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL when undefined.

    A NaN component would otherwise make the row rank FIRST in every
    descending top-k (Spark orders NaN above all doubles), and a
    zero-norm vector is a DIVIDE_BY_ZERO under ANSI — both yield NULL
    here (cosine-undefined, the same convention as
    ``embedding_dup_pairs`` / ``semdedup_flags``), and every top-k
    caller filters NULL scores out.  NOTE: ``denom > 0`` alone is NOT a
    NaN guard — Spark's NaN compares greater than every double — hence
    the explicit ``isnan`` checks.

    PERF: this single-Column form re-evaluates its O(dim) aggregates
    per REFERENCE (``d`` twice, ``denom`` twice — no CSE inside an
    expression tree), so hot paths use :func:`_with_cosine`, which
    hoists each aggregate into a projected column evaluated once.
    """
    d = dot(a, b)
    denom = norm(a) * norm(b)
    return F.when((denom > 0) & ~F.isnan(denom) & ~F.isnan(d), d / denom)


def _cosine_from(d: Column, denom: Column) -> Column:
    """:func:`cosine`'s NULL-when-undefined guard over already-computed
    dot/denominator columns (cheap references, so the repeated mentions
    cost nothing)."""
    return F.when((denom > 0) & ~F.isnan(denom) & ~F.isnan(d), d / denom)


def _with_cosine(df: DataFrame, a: Column, b: Column, out: str = "cos") -> DataFrame:
    """Add ``cosine(a, b)`` as column ``out`` with each O(dim) aggregate
    evaluated exactly ONCE per row.

    ``cosine()`` inlined into a projection evaluates dot twice and each
    norm twice (6 O(dim) passes — expression trees get no CSE), and a
    subsequent ``.where(out IS NOT NULL)`` is pushed below the
    projection by alias substitution, duplicating all of it again (12
    passes).  Here the three aggregates land in their own projection and
    the guard references them as plain columns; the multiple references
    keep CollapseProject from re-inlining (same mechanism as
    ``_unit_normalized``).  Callers must keep NULL-score filters ABOVE a
    pushdown barrier (limit / window), never directly above this
    projection.
    """
    staged = (
        df.withColumn("__cos_d", dot(a, b))
        .withColumn("__cos_na", norm(a))
        .withColumn("__cos_nb", norm(b))
    )
    denom = F.col("__cos_na") * F.col("__cos_nb")
    cos = _cosine_from(F.col("__cos_d"), denom)
    return staged.withColumn(out, cos).drop("__cos_d", "__cos_na", "__cos_nb")


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against one query vector.

    The per-partition top-k + driver merge is what orderBy+limit compiles
    to (TakeOrderedAndProject) — no full sort, no global shuffle.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        _with_cosine(embeddings.select(id_col, vec_col), F.col(vec_col), q)
        .select(id_col, "cos")
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
        # cosine-undefined rows are not hits: DESC orders NULLs LAST, so
        # the k kept rows are exactly the pre-filter top-k — and above
        # the limit the filter cannot be pushed back into (and thereby
        # duplicate) the cosine projection
        .where(F.col("cos").isNotNull())
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact k-NN join (small query side × large corpus): broadcast the
    queries, window-rank per query.  For large query sides, LSH-bucket
    both sides first (``lsh_buckets``) and re-rank within buckets.

    ``carry_cols``: extra corpus columns to carry onto the neighbor rows
    inside the single scoring scan (so callers don't rescan the corpus
    to re-attach metadata like labels).

    PERF shape: each side's norm is computed ONCE PER ROW before the
    join (corpus: N aggregates, queries: Q — on the broadcast side, so
    it ships pre-computed), and each candidate pair pays exactly one
    O(dim) pass (the dot) instead of re-deriving both norms per pair —
    a 3× flop cut that grows with the guard's re-evaluations (the
    inlined guarded cosine was 6 passes/pair).  The NULL-score filter
    sits ABOVE the window: predicates on non-partition columns cannot
    cross a window, so the cosine projection is never duplicated by
    pushdown; DESC ranks NULLs last, so surviving ranks are identical
    to pre-filter ranks."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("__qn", norm(F.col("qvec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"), *carry_cols
    ).withColumn("__cn", norm(F.col("__cvec")))
    staged = c.crossJoin(F.broadcast(q)).withColumn(
        "__d", dot(F.col("__cvec"), F.col("qvec"))
    )
    scored = staged.select(
        "query_id",
        "neighbor_id",
        _cosine_from(F.col("__d"), F.col("__cn") * F.col("__qn")).alias("cos"),
        *carry_cols,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        # cosine-undefined corpus rows (NaN / zero-norm → NULL cos) are
        # not neighbors — they rank after every real score (NULLS LAST),
        # so dropping them here never shifts a real neighbor's rank
        .where((F.col("rank") <= k) & F.col("cos").isNotNull())
        .drop("rank")
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Majority-vote k-NN classification over an embedding corpus:
    :func:`knn_join` for the neighbors, then per-query argmax of
    neighbor-label counts (ties break to the smaller label).  Returns
    (query_id, pred_label, votes).

    Scale shape inherits from knn_join — broadcast query side, map-only
    scoring with the label carried in the same scan (no second corpus
    scan), per-query window rank; the vote aggregation is one hash agg
    over (query, label) (k rows per query).

    Unlabeled corpus rows (NULL ``label_col``) are excluded BEFORE the
    neighbor search: a NULL-label vote group would otherwise win ties
    NULLS-FIRST and emit a NULL ``pred_label`` — so the k neighbors are
    the k nearest *labeled* vectors."""
    from pyspark.sql import Window

    nn = knn_join(
        queries,
        corpus.where(F.col(label_col).isNotNull()),
        k,
        id_col,
        vec_col,
        carry_cols=(label_col,),
    )
    labeled = nn.withColumnRenamed(label_col, "__lab")
    votes = labeled.groupBy("query_id", "__lab").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("__lab").asc()
    )
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("query_id", F.col("__lab").alias("pred_label"), "votes")
    )


def hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component d is ±1 by the
    parity of a hex digit of md5('p{plane}d{d}') — engine-portable, no
    RNG state."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"p{plane}d{d}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
    return out


def lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    planes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string over ``planes``
    deterministic hyperplanes.  Adds a ``bucket`` column.

    Every vector must have exactly ``dim`` components: ``zip_with``
    NULL-pads a short vector, which silently turned every short (or
    NULL) vector's dot products into NULL → an all-'0' bucket — one
    giant collision bucket instead of an error.  A length mismatch (or
    NULL vector) now raises a named error.
    """
    v = F.col(vec_col)
    checked = F.when(F.size(v) == dim, v).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"lsh_buckets: {vec_col} must have exactly dim={dim} "
                    "components, got length "
                ),
                F.coalesce(F.size(v).cast("string"), F.lit("NULL")),
            )
        ).cast("array<double>")
    )
    # the validated vector is hoisted into its own projection: inlining
    # ``checked`` into every plane's dot re-evaluates the guard (and
    # carries the raise_error branch) ``planes`` times per row; the
    # multiple references keep CollapseProject from re-inlining it
    staged = embeddings.withColumn("__lsh_v", checked)
    bits = []
    for p in range(planes):
        hp = F.array(*[F.lit(v) for v in hyperplane(dim, p)])
        bits.append(F.when(dot(F.col("__lsh_v"), hp) > 0, "1").otherwise("0"))
    return staged.withColumn("bucket", F.concat(*bits)).drop("__lsh_v")


def ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_bits: int = 0,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Approximate top-k: scan the query's LSH bucket (plus, with
    ``probe_bits=1``, every bucket at Hamming distance 1 — multi-probe,
    which recovers most of the recall single-probe loses to near-zero
    dot products flipping a sign bit) and exact-re-rank inside.  The
    probe set is tiny (1 + planes bucket strings) and pushes down as an
    IN filter on the bucket column.

    A stored ``bucket_col`` is REUSED (the same branch ``ivf_topk`` has
    for ``cell``): recomputing would overwrite the column a
    bucket-partitioned store was written by, and the IN filter could
    then never prune partitions.  The stored assignment must have been
    produced by :func:`lsh_buckets` with the same (dim, planes).
    """
    if probe_bits not in (0, 1):
        raise ValueError(f"probe_bits must be 0 or 1, got {probe_bits}")
    if len(query_vec) != dim:
        # the corpus side raises on a length mismatch (lsh_buckets);
        # the Python-side query bits would instead silently truncate
        # and return zero rows
        raise ValueError(
            f"ann_topk: query_vec must have exactly dim={dim} components, "
            f"got {len(query_vec)}"
        )
    if bucket_col in embeddings.columns:
        bucketed = embeddings
    else:
        bucketed = lsh_buckets(embeddings, dim, planes, vec_col).withColumnRenamed(
            "bucket", bucket_col
        )
    qbits = "".join(
        "1" if sum(a * b for a, b in zip(query_vec, hyperplane(dim, p))) > 0 else "0"
        for p in range(planes)
    )
    probes = [qbits]
    if probe_bits == 1:
        probes += [
            qbits[:i] + ("0" if qbits[i] == "1" else "1") + qbits[i + 1:]
            for i in range(planes)
        ]
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    probed = bucketed.where(F.col(bucket_col).isin(probes)).select(id_col, vec_col)
    return (
        _with_cosine(probed, F.col(vec_col), q)
        .select(id_col, "cos")
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
        # NULL (cosine-undefined) scores rank last under DESC, so
        # filtering above the limit keeps exactly the pre-filter top-k
        # without letting pushdown duplicate the cosine projection
        .where(F.col("cos").isNotNull())
    )


def ivf_seed_centroids(
    embeddings: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF seed centroids: the ``k`` vectors with the
    smallest ids.  k×dim floats — driver-side by design (the centroid
    table is broadcast state, like a dimension table).  Refine with
    :func:`ivf_refine` (Lloyd steps) when cluster quality matters."""
    first_k = embeddings.select(id_col, vec_col).orderBy(id_col).limit(k)
    rows = collect_bounded(first_k, "ivf_seed_centroids", limit=k)
    return [(i, [float(v) for v in r[1]]) for i, r in enumerate(rows)]


def _moved_centroids(
    means: DataFrame, key: str, centroids: list[tuple[int, list[float]]], what: str
) -> list[tuple[int, list[float]]]:
    """One Lloyd update: fold the per-(``key``, dim ``i``) means ``m``
    into one vector per centroid and pull the k×dim matrix to the
    driver.  A centroid that lost all members keeps its vector."""
    vecs = means.groupBy(key).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))),
            lambda s: s["m"],
        ).alias("cvec")
    )
    rows = collect_bounded(vecs, what, limit=len(centroids))
    new = {int(r[key]): [float(v) for v in r["cvec"]] for r in rows}
    return [(cid, new.get(cid, cvec)) for cid, cvec in centroids]


def _py_norm(vec: list[float]) -> float:
    """Driver-side mirror of :func:`norm` over a literal vector: the
    same left-to-right ``acc + x·x`` fold over the same doubles and a
    correctly-rounded sqrt, so the result is BIT-IDENTICAL to what the
    JVM aggregate computes over ``F.array(*map(F.lit, vec))`` (higher-
    order functions never constant-fold, so keeping ``norm(literal)``
    in-plan would re-evaluate an O(dim) pass per row per centroid)."""
    acc = 0.0
    for v in vec:
        x = float(v)
        acc += x * x
    return acc**0.5


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF cell assignment: nearest-centroid by cosine.

    Map-only — the centroid matrix rides along as literals inside one
    whole-stage-codegen projection, so assignment of 100 TB of vectors
    is a scan with zero shuffle.  Write the result partitioned by
    ``cell`` and every probe becomes partition pruning.

    PERF shape: the row vector's norm and its dot with each centroid
    are hoisted into their own projection (1 + k O(dim) passes per
    row); centroid norms are driver-computed constants (bit-identical
    to the in-plan aggregate — see :func:`_py_norm`).  The inlined
    guarded ``cosine()`` per struct field used to cost ~5 O(dim)
    passes per centroid per row.

    A degenerate vector (NaN component / zero norm) has NULL cosine to
    every centroid; struct ordering ranks a NULL ``cos`` below every
    real score, so ``array_max`` falls back to the largest ``neg_cid``
    = the smallest centroid id — deterministic, and a NaN can no longer
    hijack the assignment (Spark orders NaN above all doubles).
    """
    staged = embeddings.withColumn("__ivf_nv", norm(F.col(vec_col)))
    dcols = []
    for cid, cvec in centroids:
        c_lit = F.array(*[F.lit(float(v)) for v in cvec])
        dcols.append(f"__ivf_d{cid}")
        staged = staged.withColumn(dcols[-1], dot(F.col(vec_col), c_lit))
    scores = [
        F.struct(
            _cosine_from(
                F.col(f"__ivf_d{cid}"),
                F.col("__ivf_nv") * F.lit(_py_norm(cvec)),
            ).alias("cos"),
            F.lit(-cid).alias("neg_cid"),
        )
        for cid, cvec in centroids
    ]
    best = F.array_max(F.array(*scores))
    return staged.withColumn(cell_col, (-best["neg_cid"]).cast("int")).drop(
        "__ivf_nv", *dcols
    )


def ivf_refine(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    steps: int = 1,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement: ``steps`` rounds of assign → per-cell mean.

    The mean is a distributed posexplode + hash agg over (cell, dim);
    only the k×dim centroid matrix ever reaches the driver.  Cells that
    lose all members keep their previous centroid.
    """
    for _ in range(steps):
        assigned = ivf_assign(embeddings, centroids, vec_col)
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("i", "v"))
            .groupBy("cell", "i")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
        )
        centroids = _moved_centroids(means, "cell", centroids, "ivf_refine")
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` cells whose centroids
    are closest to the query, exact cosine re-rank inside.

    Probe selection is O(k·dim) driver arithmetic; the scan touches
    ~nprobe/k of the corpus (partition-pruned when the index is written
    partitioned by cell).  Recall/latency trades on ``nprobe``.
    """

    def _cos(a: list[float], b: list[float]) -> float:
        dp = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return dp / (na * nb) if na and nb else 0.0

    probes = [
        cid
        for cid, _ in sorted(
            centroids, key=lambda c: (-_cos(query_vec, c[1]), c[0])
        )[:nprobe]
    ]
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    # reuse a stored assignment: recomputing would overwrite the cell
    # column the index was PARTITIONED by and defeat partition pruning
    # (the probe filter must reach the file scan)
    if cell_col in embeddings.columns:
        assigned = embeddings
    else:
        assigned = ivf_assign(embeddings, centroids, vec_col, cell_col)
    probed = assigned.where(F.col(cell_col).isin(probes)).select(id_col, vec_col)
    return (
        _with_cosine(probed, F.col(vec_col), q)
        .select(id_col, "cos")
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
        # same barrier placement as ann_topk/cosine_topk: NULLs rank
        # last, filter above the limit
        .where(F.col("cos").isNotNull())
    )


def _unit_normalized(
    df: DataFrame, vec_col: str, keep_cols: list[str]
) -> DataFrame:
    """Project ``(keep_cols..., __unit)`` with vectors unit-normalized.

    The norm is computed in a SEPARATE stacked projection and the
    transform() lambda references it as a plain column: higher-order
    functions get no whole-stage codegen and no common-subexpression
    elimination, so inlining the O(dim) norm aggregate into the lambda
    body re-evaluates it per ELEMENT — O(dim²) per row (~768× the flops
    at embedding dims).  The double reference (guard condition + lambda
    body) keeps CollapseProject from merging the projections and
    re-inlining the aggregate.

    Zero-norm AND NaN vectors normalize to NULL ``__unit`` (a bare
    ``nrm > 0`` is no NaN guard — Spark orders NaN above all doubles —
    and NaN unit components would make every ``>= threshold`` pair
    check spuriously TRUE).
    """
    staged = df.withColumn("__nrm", norm(F.col(vec_col)))
    unit = F.when(
        (F.col("__nrm") > 0) & ~F.isnan(F.col("__nrm")),
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") / F.col("__nrm")
        ),
    ).alias("__unit")
    return staged.select(*keep_cols, unit)


def embedding_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: same-LSH-bucket candidate
    generation, exact cosine re-rank, keep pairs ≥ ``threshold``.

    The self-join is bucketed (~N²/2^planes candidate pairs instead of
    all-pairs) — the same scale shape as the MinHash band join; recall
    improves with fewer planes or multi-probe.  Returns
    (id_a, id_b, cos).
    """
    b = lsh_buckets(embeddings, dim, planes, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "bucket"
    )
    # normalize once per vector, not twice per candidate pair (the pair
    # side dominates at scale); zero vectors -> NULL unit -> no match.
    # vec is dropped BEFORE the checkpoint: pruning can't push through
    # the barrier and the join reads only (id, bucket, __unit)
    b = _unit_normalized(b, "vec", ["id", "bucket"]).localCheckpoint(eager=False)
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dot(F.col("a.__unit"), F.col("b.__unit")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the production trick
    that cuts an embedding store's memory 4x and turns similarity
    scoring into integer arithmetic: q_i = floor(v_i * 127 / max|v| +
    0.5), so q spans [-127, 127] with the sign structure preserved.

    Deterministic across engines by construction: float32 -> double
    widening is exact, and the single multiply/divide/round chain is
    the documented formula an oracle reproduces literally.  An all-zero
    vector (max|v| = 0) quantizes to all zeros.  Returns
    (id, qvec array<int>, max_abs double) — max_abs is the per-vector
    dequantization scale.
    """
    # max|v| is hoisted into its own projection and referenced as a
    # plain column from the quantization lambda: higher-order functions
    # get no codegen/CSE, so the inlined O(dim) array_max used to
    # re-evaluate per element — O(dim²) per row.  The multiple
    # references (guard + lambda + output) keep CollapseProject from
    # re-inlining it.
    v = F.col(vec_col)
    staged = embeddings.select(
        F.col(id_col),
        v.alias("__v"),
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))).alias(
            "max_abs"
        ),
    )
    m = F.col("max_abs")
    q = F.when(
        m > 0,
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x.cast("double") * F.lit(127.0) / m + F.lit(0.5))
            .cast("int"),
        ),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    return staged.select(F.col(id_col), q.alias("qvec"), "max_abs")


def int8_topk(
    embeddings: DataFrame,
    query_q: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by INTEGER dot product between the int8-quantized store
    and an already-quantized query vector — exact int64 scores, so
    ranking is engine-reproducible with no float tie ambiguity.  Plans
    as TakeOrderedAndProject (per-partition top-k + driver merge), same
    shape as cosine_topk.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qdb = quantize_int8(embeddings, id_col, vec_col)
    if not query_q:
        raise ValueError("query_q must be non-empty")
    qq = F.array(*[F.lit(int(x)) for x in query_q])
    score = F.aggregate(
        F.zip_with(F.col("qvec"), qq, lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        qdb.select(id_col, score.alias("score"))
        .orderBy(F.col("score").desc(), id_col)
        .limit(k)
    )


def semdedup(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and pruning
    near-identical vectors WITHIN each cluster only.

    A vector is a duplicate when some lower-id vector in the same
    cluster has cosine similarity >= ``threshold`` (keep-lowest-id, the
    same deterministic keep policy as the MinHash family).  Clustering
    bounds the candidate set: the self-join is per-cluster, never
    corpus-wide all-pairs.

    Scale shape: cluster assignment is the map-only
    :func:`ivf_assign` (centroids ride as a literal inside one
    codegen projection); the within-cluster join shuffles on ``cell``
    and AQE's skew-join splits an oversized cluster.  For very skewed
    clusterings pass more/refined centroids (``ivf_refine``) — cluster
    granularity IS the cost knob, exactly as in the paper.

    Returns (id, cell, is_dup) for every input vector.
    """
    assigned = ivf_assign(embeddings, centroids, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "cell"
    )
    return semdedup_flags(assigned, threshold)


def semdedup_flags(assigned: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Within-cluster pruning stage of :func:`semdedup`: ``assigned``
    is (id, vec, cell); flags every vector with a >= ``threshold``
    cosine match to a LOWER id in the same cell.  Split out so callers
    with their own cluster assignment (k-means, product quantizer,
    category partitions) reuse the pruning join unchanged.

    Vectors are unit-normalized ONCE before the self-join (and the
    normalized frame localCheckpointed so both join sides share it), so
    each candidate pair costs one dot product instead of a dot plus two
    re-derived norms — at 100 TB the pair side dominates and this is a
    ~3× flop cut.  A zero vector normalizes to NULL components, never
    matches the threshold, and is therefore kept (not a dup of
    anything), matching the cosine-undefined convention."""
    # drop the raw vec BEFORE the checkpoint: pruning can't push
    # through the checkpoint barrier, and nothing downstream reads it
    unit = _unit_normalized(assigned, "vec", ["id", "cell"]).localCheckpoint(
        eager=False
    )
    a, b = unit.alias("a"), unit.alias("b")
    dups = (
        a.join(b, "cell")
        .where(F.col("a.id") > F.col("b.id"))
        .where(dot(F.col("a.__unit"), F.col("b.__unit")) >= threshold)
        .select(F.col("a.id").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return unit.select("id", "cell").join(dups, "id", "left").select(
        "id", "cell", F.coalesce("__dup", F.lit(False)).alias("is_dup")
    )


def _sq_dist_q12(vec_col: str, cvec: list[float]) -> Column:
    """Int64-quantized squared L2 distance to a literal centroid:
    each (x−c)² term rounds to 1e-12 and the terms sum as exact longs,
    so the distance — and every argmin on it — is addition-order-free
    and engine-reproducible (the distance analogue of the cosine
    kernels' ``qhelpers.dotq`` convention)."""
    terms = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(v)) for v in cvec]),
        lambda x, c: F.floor(
            (x.cast("double") - c) * (x.cast("double") - c) * F.lit(1e12)
            + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def kmeans_assign_q(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only nearest-centroid assignment on the quantized squared
    distance (ties → smaller cluster id): the engine-reproducible
    k-means assignment step.  Like :func:`ivf_assign`, the centroid
    matrix rides along as literals inside one whole-stage-codegen
    projection — assigning 100 TB of vectors is a scan with zero
    shuffle.  Adds (cluster, dist_q12) to the input."""
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _sq_dist_q12(vec_col, cvec).alias("dist_q12"),
                    F.lit(cid).alias("cluster"),
                )
                for cid, cvec in centroids
            ]
        )
    )
    # hoist the argmin struct: extracting cluster and dist_q12 from two
    # separate copies of ``best`` would evaluate all k O(dim) distance
    # aggregates twice per row (no CSE across projection expressions);
    # the double reference below keeps CollapseProject from re-inlining
    staged = embeddings.withColumn("__km_best", best)
    return (
        staged.withColumn("cluster", F.col("__km_best.cluster"))
        .withColumn("dist_q12", F.col("__km_best.dist_q12"))
        .drop("__km_best")
    )


def kmeans_iterations(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means, fully engine-reproducible — the
    parity-safe sibling of :func:`ivf_refine` (which uses plain
    ``avg`` and is cheaper when bit-reproducibility doesn't matter).

    Seeds are the ``k`` lowest-id vectors (cluster ``i`` = the i-th
    such vector).  ``n_iter`` counts ASSIGNMENTS: each of the first
    ``n_iter − 1`` assignments is followed by a centroid update (per-
    dim µ-quantized mean — exact int64 sums, so means are addition-
    order-free); the final assignment is returned.  A cluster that
    loses every member keeps its previous centroid.

    Scale shape per iteration: one map-only assignment scan (centroids
    as literals, zero shuffle) + one posexplode hash-agg bounded by
    k × dim with map-side combine; only the k×dim centroid matrix ever
    reaches the driver — the classic Spark iterative-ML loop, with the
    lineage reset that a 100-iteration run would need left to the
    caller (n_iter here is small and each step re-derives from the
    source scan).

    Returns the input with (cluster, dist_q12) from the FINAL
    assignment.
    """
    if k < 1 or n_iter < 1:
        raise ValueError(f"k and n_iter must be >= 1, got {k}, {n_iter}")
    centroids = ivf_seed_centroids(embeddings, k, id_col, vec_col)
    if len(centroids) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(centroids)}")
    for _ in range(n_iter - 1):
        assigned = kmeans_assign_q(embeddings, centroids, vec_col)
        means = (
            assigned.select("cluster", F.posexplode(vec_col).alias("i", "v"))
            .groupBy("cluster", "i")
            .agg(
                F.sum(
                    F.floor(
                        F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)
                    ).cast("long")
                ).alias("sq"),
                F.count("*").alias("n"),
            )
            .select(
                "cluster",
                "i",
                (
                    (F.col("sq").cast("double") / F.lit(1e6)) / F.col("n")
                ).alias("m"),
            )
        )
        centroids = _moved_centroids(means, "cluster", centroids, "kmeans_iterations")
    return kmeans_assign_q(embeddings, centroids, vec_col)
