"""Distributed connected components over an undirected edge list.

The missing piece between pairwise near-dup detection and true
transitive dedup groups: every dedup tier emits (ci, cj) similar pairs
(SURVEY §2.3 — "connected components / keep-min-id"), and a duplicate
CLUSTER is the connected component of that graph. Pair-wise keep-min-id
(row i survives iff no similar j < i) and component-wise dedup differ
exactly when similarity chains are intransitive — A~B, B~C, not A~C —
which is the reference's greedy-chain behavior (pipeline.py:22-42).

Algorithm: iterative min-label propagation ("hash-to-min") —
  label(v) ← min(label(v), min over neighbors u of label(u))
each round is one join + partial-aggregatable min, converging in
O(graph diameter) rounds. Near-dup graphs have tiny components (dozens
of docs, diameter ≤ a few), so the loop runs 2-4 rounds in practice;
the per-round localCheckpoint truncates lineage so round k doesn't
replay rounds 1..k-1. For adversarially deep graphs (long chains),
switch to the large-star/small-star contraction of Kiveris et al.
("Connected Components in MapReduce and Beyond", SoCC'14), which
converges in O(log² n) with the same join-shaped rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 25


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "doc_id",
                         src_col: str = "ci", dst_col: str = "cj") -> DataFrame:
    """(node → component representative) for an undirected edge list.

    ``nodes``: one row per vertex (singletons allowed — they become
    their own component). ``edges``: similar pairs, direction ignored.
    Returns (id_col, component_id) where component_id is the MIN vertex
    id in the component — deterministic, engine-portable.

    Every round shuffles by vertex id (the join and the min-agg share
    the key, so the exchange is reused); the edge list itself is
    symmetrized once and checkpointed (its blocks are released with
    the frame, no unpersist needed). Convergence is detected with a
    count of changed labels — one cheap action per round on a
    checkpointed frame.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)

    for _round in range(MAX_ROUNDS):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component_id"))


def connected_components_star(nodes: DataFrame, edges: DataFrame,
                              id_col: str = "doc_id",
                              src_col: str = "ci", dst_col: str = "cj") -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    SoCC'14) — same contract as connected_components, O(log² n) rounds
    on ANY graph shape, including the long chains that make min-label
    propagation take O(diameter) rounds.

    Each round maintains a parent pointer per node over the CURRENT
    edge set and rewrites the edges themselves:
      large-star: for each edge (u,v) with v > u, attach v to
                  min(neighborhood-min of u's star) — links every
                  larger neighbor to the star's minimum;
      small-star: symmetrically for smaller neighbors.
    Both are one groupBy-min + one join per round (the same shuffle
    shapes as the propagation variant); convergence = edge set maps
    every node directly to its component minimum (fixpoint check on
    the parent table). Used by tests as the deep-graph cross-check;
    near-dup graphs are shallow, so the default stays min-label.
    """
    def _star(e: DataFrame, hub_side: str) -> DataFrame:
        """One star contraction over normalized (hi, lo) edges.

        hub_side='lo' is large-star (larger endpoints re-attach to
        their hub's star minimum), hub_side='hi' is small-star. Both
        also self-attach the hub to its star minimum — a harmless
        within-component edge that makes connectivity preservation
        edge-local: for any edge (u,v), both endpoints end up attached
        to the same star minimum.
        """
        member_side = "hi" if hub_side == "lo" else "lo"
        star_min = (
            e.select(F.col("hi").alias("hub"), F.col("lo").alias("nbr"))
            .union(e.select(F.col("lo").alias("hub"), F.col("hi").alias("nbr")))
            .groupBy("hub")
            .agg(F.min("nbr").alias("mn"))
            .withColumn("mn", F.least("hub", "mn"))
        )
        attached = (
            e.join(star_min, e[hub_side] == star_min["hub"])
            .select(F.col(member_side).alias("u"), F.col("mn").alias("v"))
        )
        hubs = star_min.select(F.col("hub").alias("u"), F.col("mn").alias("v"))
        return (
            attached.union(hubs)
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo"))
            .distinct()
        )

    # edges normalized to (hi, lo) pairs
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _round in range(MAX_ROUNDS):
        e = _star(e, "lo").localCheckpoint(eager=True)  # large-star
        e = _star(e, "hi").localCheckpoint(eager=True)  # small-star
        # fixpoint: the edge set is a star forest rooted at component
        # minima — each hi has exactly one lo and no lo appears as a hi
        hi_as_lo = e.alias("a").join(
            e.alias("b"), F.col("a.lo") == F.col("b.hi")
        ).count()
        multi = (
            e.groupBy("hi").agg(F.countDistinct("lo").alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
        if hi_as_lo == 0 and multi == 0:
            break
    return nodes.select(F.col(id_col).alias("node")).join(
        e.select(F.col("hi").alias("node"), F.col("lo").alias("root")),
        "node",
        "left",
    ).select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("root"), F.col("node")).alias("component_id"),
    )
