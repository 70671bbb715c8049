"""Duplicate-cluster resolution: near-dup PAIRS → connected-component
GROUPS (the deliverable a dedup pipeline actually acts on: keep one
representative per component).

Algorithm: iterative min-label propagation (a DataFrame-native
union-find). Every node starts labeled with its own id; each round
every node adopts the minimum label in its neighborhood; converged
when no label changes. Rounds needed = graph diameter — near-dup
graphs are almost all tiny cliques (diameter ≤ 2-3), so this
terminates in a handful of shuffles even at corpus scale. Each round
is one groupBy — no driver-side graph state, nothing collected.

This is the standard large-scale CC shape (Hash-to-Min, Vassilvitskii
et al.); GraphFrames does the same thing with more machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) from an undirected edge list; component =
    min node id reachable. Converges in O(diameter) rounds.

    Every round ends with lineage truncation: each iteration
    references the previous labels twice (neighbor join + union), so
    without truncation the lazy plan DOUBLES per round and a
    diameter-14 graph OOMs the driver during plan optimization before
    any data moves. Truncating pins the round's result and restarts
    the plan — state stays two small (node, label) tables regardless
    of round count. Default is ``localCheckpoint`` (free, but
    executor-local); pass ``checkpoint_dir`` (durable shared storage)
    for reliable ``checkpoint()`` that survives executor loss on a
    real cluster — see core/checkpointing.py.
    """
    from mapreducewordoccurences_spark.core.checkpointing import make_truncate

    truncate = make_truncate(pairs, checkpoint_dir)
    # symmetrize via explode, NOT union-of-swapped-selects: pairs is
    # usually an UNMATERIALIZED candidate-generation subplan (LSH /
    # n-gram SSJoin), and a union would evaluate that subplan once per
    # branch in the edges job — 2x the most expensive stage of the
    # whole clustering. One pass + explode emits both directions.
    edges = truncate(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = truncate(nodes.select("node", F.col("node").alias("component")))

    comp_type = dict(labels.dtypes)["component"]
    for _ in range(max_iterations):
        # candidate label per node: min over (own label, neighbors'
        # labels). The node's OWN previous label rides along as
        # ``__old`` (each node contributes exactly one non-null __old,
        # so min() recovers it), which turns the convergence check
        # into a scan of the just-checkpointed table — the former
        # shape re-joined old and new labels every round, paying two
        # extra exchanges + a join per iteration for a boolean.
        own = labels.select(
            "node", "component", F.col("component").alias("__old")
        )
        neighbor_labels = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"),
            "component",
            F.lit(None).cast(comp_type).alias("__old"),
        )
        new_labels = truncate(
            own.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("__old").alias("__old"),
            )
        )
        changed = (
            new_labels.where(F.col("component") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds (graph diameter exceeds the budget); raise "
            f"max_iterations"
        )
    return labels


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Cluster summary from near-dup pairs: one row per duplicate
    component — (component, size, keep_id). keep_id = min id
    (the canonical survivor)."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("size"),
        F.min("node").alias("keep_id"),
    )
