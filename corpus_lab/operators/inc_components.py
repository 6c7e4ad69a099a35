"""Incremental connected components: fold a batch of NEW edges into a
persisted ``(node, component)`` labeling without re-clustering the
corpus.

The production dedup-cluster maintenance problem: the label table for
100 TB of documents exists; today's crawl adds 0.1% new pairs.  Batch
CC re-converges the whole graph; the incremental fold touches ONLY the
components the new edges reach:

1. every old component collapses to a STAR (member -> label edge) —
   stars are connectivity-preserving and diameter-2, so re-convergence
   inside them costs one propagation round, not the old diameter;
2. the affected set = components containing an endpoint of a new edge
   (new nodes affect only themselves), found with one lookup join;
3. batch CC (``components.connected_components``, min-label
   propagation) runs on the SMALL subgraph of affected stars + new
   edges;
4. unaffected rows pass through untouched — the output is
   byte-identical to batch CC on the full graph (labels are min node
   ids, which star-collapsing preserves), and the repo's tests assert
   exactly that equivalence.

Scale shape: cost tracks the affected subgraph (new edges + the
members of components they touch), not corpus size.  The worst case —
a new edge linking two giant components — degrades to re-labeling
those two components' members, never the full graph.  All joins are
id-keyed; the only iteration is the inner CC on the subgraph.

Reference anchor: the reference re-checks its seen-cache per fetched
item (src/cache/mod.rs:34-57) — the incremental shape of D1 dedup;
this is that shape lifted to the near-dup CLUSTER level, alongside
incremental.py's persisted-MinHash-index dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["incremental_components"]


def incremental_components(old_labels: DataFrame, new_pairs: DataFrame,
                           max_iter: int = 20) -> DataFrame:
    """``(node, component)`` for the union graph — ``old_labels`` rows
    ``(node, component)`` (component = min reachable node id, the
    batch-CC invariant) plus the connectivity added by ``new_pairs``
    ``(a, b)``.  Byte-identical to batch CC on old-graph-edges union
    new pairs."""
    from corpus_lab.operators.components import connected_components
    ends = (new_pairs.select(F.col("a").alias("node"))
            .unionAll(new_pairs.select(F.col("b").alias("node")))
            .distinct())
    # components touched by a new edge (endpoints absent from
    # old_labels are brand-new nodes: they affect only themselves)
    touched = (ends.join(old_labels, "node")
               .select("component").distinct())
    affected = (old_labels.join(F.broadcast(touched), "component",
                                "left_semi")
                .localCheckpoint(eager=True))
    # star edges re-encode each affected component's connectivity in
    # diameter 2; self-star rows (node == component) add nothing
    stars = (affected.filter(F.col("node") != F.col("component"))
             .select(F.col("node").alias("a"),
                     F.col("component").alias("b")))
    sub_nodes = (affected.select("node").unionAll(ends).distinct())
    relabeled = connected_components(
        sub_nodes, stars.unionAll(new_pairs.select("a", "b")),
        id_col="node", max_iter=max_iter)  # -> (node, comp)
    untouched = old_labels.join(F.broadcast(touched), "component",
                                "left_anti")
    return (untouched.select("node", "component")
            .unionAll(relabeled.select(
                "node", F.col("comp").alias("component")))
            .select("node", F.col("component").cast("long")
                    .alias("component")))
