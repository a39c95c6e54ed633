"""Connected components via iterative min-label propagation — the
clustering step that turns near-dup *pairs* into dedup *groups*.

The reference has no graph surface; this is north_star machinery (a
training-data pipeline dedups by cluster, keeping one canonical doc per
component). Algorithm = the standard MapReduce/Pregel min-label loop
(cf. GraphX ConnectedComponents, Kiveris et al. "Connected Components in
MapReduce and Beyond"):

    label(v) ← v
    repeat: label(v) ← min(label(v), min over neighbors u of label(u))

Each round is one shuffle (edge-join + min-groupBy). Rounds needed =
graph diameter (near-dup clusters are dense, so 2-4 in practice); the
loop is a *driver* loop but every iteration's work is fully distributed —
the driver only sees the one-row convergence count. Lineage is truncated
per round with localCheckpoint, or the plan tree grows exponentially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


MAX_ITER = 20  # fused (2-hop) rounds before the loop stops unconverged


def connected_components(
    nodes: DataFrame, edges: DataFrame, probe_stride: int = 3
) -> DataFrame:
    """(node) × (src, dst) → (node, component) with component = min node id
    reachable within 2·MAX_ITER hops. Singletons map to themselves.
    Deterministic.

    ``probe_stride`` controls how often the one-row convergence probe
    runs, in fused (2-hop) rounds: the first probe fires after
    2*(probe_stride-1)+2 hops, then every ``probe_stride`` rounds. The
    default 3 probes after hops 4, 10, 16 — diameter ≤ 4 components (the
    common near-dup shape) are caught by the FIRST probe with zero
    overshoot rounds, while bigger components still amortize probe
    barriers 3:1. Pass probe_stride=1 for per-round probing on
    small/local runs where a probe job is cheaper than a propagation
    round."""
    # Materialize the (possibly expensive) edge plan once — the loop
    # re-reads it every iteration, and without the barrier each round
    # would recompute the full upstream pair-detection job.
    both = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # Iterate ONLY over edge-touched nodes: in a dedup graph almost every
    # document is a singleton, and singletons are fixed points — dragging
    # them through each iteration's join+groupBy multiplies every shuffle
    # by |corpus|/|near-dup subgraph| for nothing. They rejoin at the end.
    labels = both.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    def propagate(lbl: DataFrame) -> DataFrame:
        # neighbor's current component, propagated across each edge
        prop = both.join(lbl, both.src == lbl.node).select(
            F.col("dst").alias("node"), F.col("component")
        )
        return (
            lbl.unionByName(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    for r in range(1, MAX_ITER + 1):
        # two propagation steps fused per materialization: labels travel
        # 2 hops per checkpoint+convergence barrier — at cluster scale
        # the per-round barrier, not the shuffle volume, dominates
        # small-graph CC cost. The convergence probe (join + limit +
        # count) is itself a driver job, so it runs only every
        # probe_stride'th fused round, phased so the FIRST probe fires
        # after 4 hops (r == probe_stride - 1, i.e. hops 4, 10, 16 at
        # the default stride): near-dup components have diameter 2-4 and
        # converge by hop 4, so the common case pays zero overshoot
        # rounds AND skips 2 of every 3 probe barriers. The overshoot
        # rounds (diameter-6+ graphs only) between
        # convergence and the probe are idempotent min-propagations over
        # the (small) edge-touched subgraph — shuffle work traded for
        # barriers, the right direction once a barrier costs more than a
        # round (see SCALE.md).
        new_labels = propagate(propagate(labels)).localCheckpoint()
        if r % probe_stride == probe_stride - 1 or r == MAX_ITER:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            if changed == 0:
                labels = new_labels
                break
        labels = new_labels
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )
