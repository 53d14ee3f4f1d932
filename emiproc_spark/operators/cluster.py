"""Connected components over candidate-duplicate pairs.

LSH / Hamming / embedding near-dup operators emit candidate *pairs*
(dedup.py, similarity.py); materializing duplicate *groups* — so a
whole cluster collapses to one representative instead of greedy
pair-at-a-time drops — needs connected components over the pair graph.

One round algorithm, two executions of it: min-label propagation over
the closed neighbourhood plus pointer jumping (path compression), the
map-reduce CC family of Kiveris et al. ("Connected Components in
MapReduce and Beyond", hash-to-min), converging in O(log n) rounds on
typical dup graphs.

- Small graphs (at most ``spark.sql.autoBroadcastJoinThreshold // 16``
  edges, 16 bytes per int64 edge — the size the engine already lets
  through the driver for a broadcast): the guarded edge list is
  fetched in ONE bounded collect and the rounds run in numpy on the
  driver.  Dup graphs are usually tiny next to their corpus, and the
  distributed loop would spend a driver job per round on them.
- Larger graphs (or a threshold <= 0): every round is a fully
  distributed job — two shuffles (neighbor-min + pointer jump) with
  ``localCheckpoint`` truncating lineage so the iterative plan stays
  flat; same shape as IVF's Lloyd refine (similarity.py).

Both run the same rounds, so labels, round counts and the
non-convergence error agree.

Beyond-parity: the reference keeps dedup pairwise; cluster collapse is
a training-data-pipeline need, not an emiproc one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def _not_converged(max_iter: int) -> RuntimeError:
    # silent partial convergence would leave non-minimal component
    # ids — dedup_keep_representative would then retain several
    # "representatives" per duplicate cluster with no way to notice
    return RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} "
        "pointer-jumping rounds (reach doubles per round, so this "
        "graph's diameter exceeds ~2^max_iter) — raise max_iter"
    )


def _label_on_driver(
    src: np.ndarray, dst: np.ndarray, max_iter: int
) -> tuple[np.ndarray, np.ndarray]:
    """The distributed rounds of :func:`connected_components`, run in
    numpy: returns ``(node, component)`` arrays.  Nodes are renamed to
    their dense sorted index, so a min over indices is a min over ids."""
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = idx[: len(src)], idx[len(src):]
    own = np.arange(len(nodes))
    # undirected edges plus one self-loop per node (closed neighbourhood),
    # sorted once by receiving node; every node receives its self-loop,
    # so each one owns a non-empty run starting at starts[node]
    recv = np.concatenate([s, d, own])
    send = np.concatenate([d, s, own])
    order = np.argsort(recv)
    recv, send = recv[order], send[order]
    starts = np.searchsorted(recv, own)
    lab = own
    for rnd in range(max_iter):
        new = np.minimum.reduceat(lab[send], starts)
        if rnd:  # pointer jump; through round-0 labels it is the identity
            new = np.minimum(new, lab[new])
        if np.array_equal(new, lab):
            break
        lab = new
    else:
        raise _not_converged(max_iter)
    return nodes, nodes[lab]


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    reliable_checkpoints: bool = False,
) -> DataFrame:
    """Label every node of the pair graph with its component id (the
    minimum node id reachable from it).

    Returns ``(node, component)`` — one row per distinct node appearing
    in ``pairs``.  Isolated docs (no pair) are absent; join back to the
    corpus with a left join + ``coalesce(component, doc_id)``.

    Graphs of at most ``spark.sql.autoBroadcastJoinThreshold // 16``
    edges are collected once and labeled on the driver (see the module
    docstring); a threshold <= 0 forces the distributed rounds.  Either
    way a graph that needs more than ``max_iter`` rounds raises
    ``RuntimeError`` at call time.

    Distributed rounds truncate lineage with ``localCheckpoint`` (executor
    block storage) — fast, but rounds recompute from scratch if an
    executor dies.  For long cluster jobs pass
    ``reliable_checkpoints=True`` (requires
    ``spark.sparkContext.setCheckpointDir(dfs_path)``): each round is
    persisted, reliably checkpointed (the write job reads the cache,
    not the lineage), and the previous round's cache is released.  Set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to have
    superseded checkpoint files garbage-collected with their RDDs.
    """
    dtypes = dict(pairs.dtypes)
    for c in (a_col, b_col):
        if c not in dtypes:
            raise ValueError(
                f"connected_components: no column {c!r} in pairs "
                f"(have {list(dtypes)})"
            )

    def _as_id(c: str) -> F.Column:
        # Node ids must ROUND-TRIP int64 exactly (the same contract as
        # dedup_keep_best): a bare try_cast would TRUNCATE fractional
        # ids (7.2 and 7.9 both -> node 7) and coerce numerically-equal
        # strings ('07' == 7), silently merging distinct documents —
        # and a NULL id would drop its edge from propagation while
        # seeding a spurious (NULL, NULL) label row.  All three raise a
        # named error instead (hash string/UUID ids to int64 before
        # calling).  try_cast, not cast: under ANSI a plain cast throws
        # its own error before this guard can explain.
        cast = F.col(c).try_cast("long")
        return (
            F.when(
                F.col(c).isNull(),
                F.raise_error(
                    F.lit(f"connected_components: NULL {c} id")
                ).cast("long"),
            )
            .when(
                cast.isNull() | (cast.cast(dtypes[c]) != F.col(c)),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"connected_components: {c} id does not "
                            "round-trip int64: "
                        ),
                        F.col(c).cast("string"),
                    )
                ).cast("long"),
            )
            .otherwise(cast)
        )

    edges = pairs.select(_as_id(a_col).alias("src"), _as_id(b_col).alias("dst"))
    spark = pairs.sparkSession
    bound = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        // 16
    )
    if bound > 0:
        # one job: the id guards run inside it, and more than ``bound``
        # rows means the graph takes the distributed rounds instead
        small = edges.limit(bound + 1).toArrow()
        if small.num_rows <= bound:
            node, comp = _label_on_driver(
                small.column("src").to_numpy(),
                small.column("dst").to_numpy(),
                max_iter,
            )
            result = spark.createDataFrame(
                pa.table({"node": node, "component": comp}),
                "node long, component long",
            )
            if reliable_checkpoints:
                result = result.checkpoint(eager=True)
            return result

    cached: list[DataFrame] = []

    def _truncate(df: DataFrame) -> DataFrame:
        if reliable_checkpoints:
            df = df.persist()
            while len(cached) > 1:  # keep current + one predecessor
                cached.pop(0).unpersist()
            cached.append(df)
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    # undirected: propagate both ways.  Self-loops make the per-round
    # neighborhood min CLOSED — the node's own label arrives through
    # the same join as its neighbors' labels, so the round needs no
    # second labels-side join, and tagging the self-loop row also
    # carries the PREVIOUS label out of the aggregation, so the
    # convergence probe is a filter over the round's own (checkpointed)
    # output instead of a corpus-wide join of old vs new labels.
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    edges = und.union(
        und.select("src", F.col("src").alias("dst"))
    ).distinct()
    edges = _truncate(edges)

    labels = edges.select("src").distinct().withColumn("component", F.col("src"))

    for rnd in range(max_iter):
        # every node takes the min label in its closed neighborhood:
        # ONE shuffle on dst + one hash-agg on src (self-loop row =
        # own label); max(when(dst==src)) extracts the previous label
        # for the convergence flag (exactly one self-loop per src)
        stepped = (
            edges.join(
                labels.select(
                    F.col("src").alias("dst"), F.col("component").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(
                F.min("dst_label").alias("component"),
                F.max(
                    F.when(F.col("dst") == F.col("src"), F.col("dst_label"))
                ).alias("__prev"),
            )
        )
        if rnd == 0:
            # pointer jump through round-0 labels is the identity
            # (every label still maps to itself) — skip the join
            jumped = stepped.select(
                "src",
                "component",
                (F.col("component") != F.col("__prev")).alias("__chg"),
            )
        else:
            # pointer jump — follow component -> its own current
            # label, halving chain depth (log-round convergence)
            final = F.least(
                F.col("component"), F.coalesce("parent_label", "component")
            )
            jumped = (
                stepped.alias("n")
                .join(
                    labels.select(
                        F.col("src").alias("component"),
                        F.col("component").alias("parent_label"),
                    ).alias("p"),
                    "component",
                    "left",
                )
                .select(
                    "src",
                    final.alias("component"),
                    (final != F.col("__prev")).alias("__chg"),
                )
            )
        # lazy checkpoint: the convergence probe is the action that
        # materializes it
        new_labels = _truncate(jumped)
        labels = new_labels.select("src", "component")
        if new_labels.where(F.col("__chg")).limit(1).count() == 0:
            break
    else:
        raise _not_converged(max_iter)

    result = labels.select(F.col("src").alias("node"), "component")
    if reliable_checkpoints:
        # every remaining round cache was already reliably checkpointed
        # (the convergence probe materialized it), so the result reads
        # checkpoint files — release the executor storage instead of
        # leaking two cached frames per invocation
        while cached:
            cached.pop().unpersist()
    return result


def _roundtrip_id(docs: DataFrame, id_col: str, op: str) -> F.Column:
    """Doc id as int64, REQUIRED to round-trip back to its original
    value — a raw string==bigint (or double==bigint) membership join
    would coerce both sides, silently merging distinct ids that are
    numerically equal ('07' vs 7, 7.2 vs 7) or collide past 2^53.
    NULL ids pass through as NULL (isolated: a keyless doc is never a
    member of any cluster, and both keep-policies KEEP it — the shared
    contract).  Hash non-numeric ids to int64 before calling."""
    cast = F.col(id_col).try_cast("long")
    return F.when(
        F.col(id_col).isNotNull()
        & (
            cast.isNull()
            | (cast.cast(dict(docs.dtypes)[id_col]) != F.col(id_col))
        ),
        F.raise_error(
            F.concat(
                F.lit(f"{op}: {id_col} does not round-trip int64: "),
                F.col(id_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(cast)


def dedup_keep_representative(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Collapse each near-dup component to its min-id representative:
    the cluster-aware version of dedup.dedup_keep_first (which drops
    pair-wise and can over-drop chains A-B, B-C).

    Membership rides the int64 round-trip guard (:func:`_roundtrip_id`)
    — a raw ``id == component`` join on string/double ids would coerce
    both sides and silently no-op whole clusters.  NULL-id docs and
    isolated docs (no pair) always survive.  ``a_col``/``b_col`` name
    the pair columns, so outputs like ``embedding_dup_pairs``
    (``id_a``/``id_b``) compose directly."""
    comp = connected_components(pairs, a_col, b_col)
    keyed = docs.withColumn(
        "__nid", _roundtrip_id(docs, id_col, "dedup_keep_representative")
    )
    return (
        keyed.join(
            comp.select(F.col("node").alias("__nid"), "component"),
            "__nid",
            "left",
        )
        .where(
            F.col("component").isNull() | (F.col("__nid") == F.col("component"))
        )
        .drop("__nid", "component")
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Collapse each near-dup component to its highest-``score_col``
    member (id tiebreak: smaller wins) — the quality-aware keep policy
    (keep the cleanest copy, not the accidental min-id one; the policy
    production dedup pipelines actually want when a quality signal like
    text_stats / unigram_logprob exists).

    NULL scores lose to any non-NULL score; an all-NULL cluster falls
    back to the smallest NUMERIC id (the same min-id convention as
    :func:`dedup_keep_representative` / the component labels).

    Ids inherit :func:`connected_components`' int64 contract, and the
    membership join enforces it LOUDLY: each doc id is cast to long
    and required to round-trip back to its original value
    (:func:`_roundtrip_id`) — a raw string==bigint join would coerce
    both sides to DOUBLE, silently merging distinct ids that are
    numerically equal ("07" vs "7") or collide past 2^53.  Hash
    non-numeric ids to int64 before calling.  Isolated documents (no
    pair) and NULL-id documents always survive — the same keep
    contract as :func:`dedup_keep_representative`.  ``a_col``/``b_col``
    name the pair columns, so outputs like ``embedding_dup_pairs``
    (``id_a``/``id_b``) compose directly.

    Scale shape: components via the pointer-jumping CC (O(log n)
    rounds; on the driver only for graphs within the broadcast bound),
    then a rank window over the CLUSTERED rows only (the inner join
    drops isolated docs first) and a semi-join back — no corpus-wide
    window.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, a_col, b_col)
    keyed = docs.select(
        id_col,
        F.col(score_col).alias("__score"),
        _roundtrip_id(docs, id_col, "dedup_keep_best").alias("__nid"),
    )
    labeled = keyed.join(comp, keyed["__nid"] == comp["node"], "inner")
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc_nulls_last(), F.col("__nid").asc()
    )
    winners = (
        labeled.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col)
    )
    isolated_ids = keyed.join(
        comp, keyed["__nid"] == comp["node"], "anti"
    ).select(id_col)
    # NULL-id docs reach isolated_ids (NULL never equi-joins) but a
    # semi join on id_col would then drop them (NULL == NULL is not a
    # match) — re-attach them explicitly so both keep-policies share
    # the KEEP contract for keyless docs
    return (
        docs.join(winners, id_col, "semi")
        .unionByName(docs.join(isolated_ids, id_col, "semi"))
        .unionByName(docs.where(F.col(id_col).isNull()))
    )
