"""Connected components over a pair/edge list — transitive dedup groups.

Pairwise near-dup output (minhash_lsh_pairs, cosine_lsh_pairs,
simhash_near_pairs) answers "who collides with whom"; production dedup
needs the TRANSITIVE closure: if A~B and B~C, all three are one group and
one survivor represents it.  That closure is connected components.

Algorithm: min-label propagation with POINTER JUMPING — each round (1)
lowers every node's label to the min over its neighbors' labels (one
edge⋈label join + aggregation) and (2) path-halves: label[n] ←
label[label[n]] (one label⋈label self-join), so label chains collapse
geometrically.  Round count is O(log diameter) — the same bound as the
large-star/small-star formulation (Kiveris et al., SoCC'14) with simpler
state: one (node, component) row per node, hash-partitioned joins only.
A 1M-node path converges in ~20 rounds of linear work, where plain
label propagation (no jump step) would need 1M rounds.

Iteration is driver-side ONLY for the loop control (a fixed small round
count + a convergence check on an aggregate count — O(1) driver data per
round); all per-edge work stays in executors.  Each round's result is
localCheckpoint()ed to truncate the lineage, or the plan would double
every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from processor_edf_spark.materialize import materialize


def connected_components(
    pairs: DataFrame,
    src: str = "vec_a",
    dst: str = "vec_b",
    max_rounds: int = 20,
    assume_deduped: bool = False,
) -> DataFrame:
    """Resolve the edge list to (node, component) where component is the
    MINIMUM node id in each connected component — the keep-first-survivor
    convention every dedup query here uses.

    Singleton nodes (no edges) are the caller's concern: join the result
    back to the entity table with a coalesce(component, id).

    ``assume_deduped`` (r15): the caller guarantees ``pairs`` is already
    DISTINCT and MATERIALIZED (checkpoint/table).  Both edge directions
    are then narrow projections over the caller's blocks — the dedup
    shuffle and this function's own checkpoint are skipped entirely (one
    exchange and one materialization job fewer).  A bidirectional union
    of a distinct directed list holds at most two copies of an
    undirected pair ((a,b) plus the reversal of an explicit (b,a) row),
    which the min-aggregations below are insensitive to; a caller with a
    dup-heavy or lazy pair frame must keep the default.

    Raises ``RuntimeError`` if ``max_rounds`` is exhausted with labels
    still changing: a silently-unconverged result mislabels components,
    and callers (dedup_survivors) would drop the wrong rows with no way
    to detect it.  With pointer jumping the bound is O(log diameter), so
    the default 20 rounds covers ~1M-node chain diameters; raise
    ``max_rounds`` for adversarially deeper graphs.
    """
    # undirected → both directions, as (node, neighbor).  Checkpointed
    # (default path): the loop joins `edges` every round, and without
    # lineage truncation each round would RE-RUN the caller's whole
    # upstream plan (for LSH dedup that is the minhash scan of the
    # corpus — O(rounds × corpus) instead of one scan plus
    # O(rounds × edges)).
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if not assume_deduped:
        edges = materialize(edges.distinct())
    # current best-known component per node: min over self + neighbors
    comp = materialize(
        edges.groupBy("a")
        .agg(F.min("b").alias("c"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("c")).alias("comp"),
        )
    )
    for _ in range(max_rounds):
        # (1) propagate: node's component := min(component of node,
        # components of its neighbors)  — one join + one aggregation.
        # Checkpointed because step (2) is a SELF-join: without the
        # materialization both join sides re-run the edges⋈comp
        # propagation (measured: the whole round's lineage twice).
        neighbor_comp = (
            edges.join(comp.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nc"))
        )
        lowered = materialize(
            comp.join(
                neighbor_comp.withColumnRenamed("a", "node"), "node", "left"
            )
            .select(
                "node",
                F.col("comp").alias("old"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nc"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # (2) pointer jump: comp[n] := comp[comp[n]] — label chains halve
        # every round, giving O(log diameter) total rounds.  The round's
        # previous label rides along as `old` so convergence is read off
        # the checkpointed result with a local scan instead of a third
        # join of new-vs-old (which cost two more exchanges per round).
        jump_to = lowered.select(
            F.col("node").alias("comp"), F.col("comp").alias("jc")
        )
        new_comp = materialize(
            lowered.join(jump_to, "comp", "left")
            .select(
                "node",
                "old",
                F.least(
                    F.col("comp"), F.coalesce(F.col("jc"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # converged when no node's component changed this round.  A plain
        # count, not limit(1): a codegen'd LIMIT names its counter from a
        # JVM-global id, so every round would compile a new class.
        changed = new_comp.filter(F.col("comp") != F.col("old")).count()
        comp = new_comp.select("node", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "labels were still changing — raise max_rounds (graph diameter "
            f"exceeds ~2^{max_rounds})"
        )
    return comp.select("node", F.col("comp").alias("component"))


def dedup_survivors(
    entities: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "vec_a",
    dst: str = "vec_b",
) -> DataFrame:
    """Transitive keep-first dedup: one row per connected component (the
    minimum id) plus every singleton — the group-aware upgrade of the
    pairwise LEFT ANTI in dedup_embedding_cosine (pairwise drops B for
    A~B and C for B~C even when A,C never collide directly; transitive
    keeps exactly one of {A,B,C})."""
    comp = connected_components(pairs, src=src, dst=dst)
    labeled = entities.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    return labeled.filter(F.col(id_col) == F.col("component")).drop("component")
