"""HyperBall: per-node neighborhood function + harmonic centrality via
HLL register propagation (Boldi & Vigna, "In-Core Computation of
Geometric Centralities with HyperBall", 2013 — the algorithm behind the
published web-graph centrality runs on billion-node crawls).

Exact per-node ball sizes need all-pairs reachability — hopeless at web
scale.  HyperBall keeps ONE mergeable HLL sketch per node (here the
engine's open ``(node, bucket, register)`` relation from
``operators/sketch.py`` — same md5 contract, so the whole computation is
bit-deterministic and SQL-replayable) and grows balls by one hop per
round:

    ball_t(v)  =  {v}  ∪  ⋃_{(v,u) ∈ E} ball_{t-1}(u)      (OUT-balls)

which in register space is a union-max — exactly the HLL merge, so one
round = one equi-join of edges against the state + one max-agg: ONE
shuffle per round, register-relation sized (m rows per node), never
pairs-sized.  States are localCheckpoint'd per round (the pagerank/CC
iteration contract — without it every round replays the whole lineage).

Outputs: the per-node neighborhood function ``N̂_t(v)`` for t = 0..T
(estimated ball cardinality at each radius — the distance-distribution /
effective-diameter primitive), and harmonic centrality

    H(v) = Σ_{t=1..T} (N̂_t(v) - N̂_{t-1}(v)) / t

(each node at distance t contributes 1/t) — the centrality Boldi-Vigna
recommend over closeness for disconnected web graphs, truncated at
radius T.

Determinism: md5 bucket/rho, max-merges, and integer harmonic sums are
all order-free; the only floats are the estimate's single division and
the final /t sum, both rounded — the DuckDB oracle replays every
register, estimate and centrality EXACTLY from a bounded-depth
reachability CTE.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.operators.sketch import hll_estimate, hll_registers

__all__ = ["hyperball", "harmonic_centrality", "effective_diameter"]


def hyperball(edges: DataFrame, iters: int = 3, p: int = 6,
              src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """``(node, t, n_est)`` for t = 0..iters over the directed edge
    relation — N̂_t(node) = estimated #nodes within t hops FORWARD.

    State: the open skinny ``(node, bucket, register)`` relation — only
    NON-EMPTY registers exist as rows, so small balls ship small states
    (a 64-wide packed-column layout was tried and measured 1.7x SLOWER
    at 2M nodes: every row carried all m registers as zeros while the
    mean ball filled ~11 of 64 — BENCH/BASELINE.md).

    Frontier pruning (the HyperBall paper's systolic/"changed counters
    only" optimization): state only GROWS, so a dst whose sketch did not
    change in round t-1 contributes nothing new in round t — its last
    contribution is already absorbed.  Each round therefore joins edges
    against the CHANGED dst states only; change detection is an exact
    node-sized ``(n_buckets, integer harmonic sum)`` signature pair (no
    new bucket -> every term only decreases, so equal sums == unchanged;
    new bucket -> count differs).  For radius-3 runs most nodes keep
    changing; for effective-diameter runs (iters 10-20) the frontier
    collapses and late rounds become nearly free.
    """
    kmax = 60 - p + 1
    nodes = (edges.select(F.col(src_col).alias("node"))
             .unionByName(edges.select(F.col(dst_col).alias("node")))
             .distinct())
    # t=0 ball = {v}: registers of the node's own hash
    state = hll_registers(nodes, "node", "node", p=p) \
        .localCheckpoint(eager=True)

    def signature(state_df: DataFrame) -> DataFrame:
        return state_df.groupBy("node").agg(
            F.count(F.lit(1)).alias("sig_n"),
            F.sum(F.expr(f"shiftleft(1L, {kmax} - register)"))
             .alias("sig_s"))

    ests = [hll_estimate(state, "node", p=p)
            .select("node", F.lit(0).alias("t"), "n_est")]
    e = edges.select(F.col(src_col).alias("e_src"),
                     F.col(dst_col).alias("e_dst"))
    changed = None  # None == all nodes (round 1)
    sig = signature(state).localCheckpoint(eager=True)
    for t in range(1, iters + 1):
        frontier = state if changed is None else \
            state.join(changed, "node")
        contrib = (e.join(frontier, e["e_dst"] == frontier["node"])
                   .select(F.col("e_src").alias("node"), "bucket",
                           "register"))
        state = (state.unionByName(contrib)
                 .groupBy("node", "bucket")
                 .agg(F.max("register").alias("register"))
                 .localCheckpoint(eager=True))
        new_sig = signature(state).localCheckpoint(eager=True)
        changed = (new_sig.alias("a")
                   .join(sig.alias("b"), "node")
                   .filter((F.col("a.sig_n") != F.col("b.sig_n"))
                           | (F.col("a.sig_s") != F.col("b.sig_s")))
                   .select("node"))
        sig = new_sig
        ests.append(hll_estimate(state, "node", p=p)
                    .select("node", F.lit(t).alias("t"), "n_est"))
    return reduce(lambda a, b: a.unionByName(b), ests)


def harmonic_centrality(neighborhood: DataFrame) -> DataFrame:
    """``(node, harmonic)`` from a hyperball ``(node, t, n_est)``
    relation: Σ_{t>=1} (N̂_t - N̂_{t-1}) / t, rounded to 6.  The lag
    window partitions per node over T+1 rows — bounded by construction,
    no global window."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("node").orderBy("t")
    d = neighborhood.select(
        "node", "t",
        (F.col("n_est") - F.lag("n_est").over(w)).alias("delta"))
    return (d.filter(F.col("t") > 0)
            .groupBy("node")
            .agg(F.round(F.sum(F.col("delta") / F.col("t")), 6)
                 .alias("harmonic")))


def effective_diameter(neighborhood: DataFrame,
                       fraction: float = 0.9) -> DataFrame:
    """One-row ``(t_max, reachable_pairs_max, effective_diameter)`` from
    a hyperball ``(node, t, n_est)`` relation: the standard interpolated
    effective diameter — the (fractional) radius at which the summed
    neighborhood function reaches ``fraction`` of its maximum
    (Palmer/Faloutsos ANF convention, the number reported for web-graph
    "small world" measurements).

    N(t) = Σ_v N̂_t(v) is corpus-level: ONE t-sized agg (t+1 rows),
    then the interpolation runs driver-free on that tiny relation via a
    lag window ordered by t.  Deterministic: the per-node estimates are
    already 6-rounded, so the corpus sum runs on EXACT scaled int64
    (round(n_est*1e6) — the drift.py order-free-summation contract);
    result rounded to 6.
    """
    from pyspark.sql.window import Window
    nt = (neighborhood.groupBy("t")
          .agg((F.sum(F.round(F.col("n_est") * 1e6).cast("long"))
                / F.lit(1e6)).alias("nt")))
    w = Window.orderBy("t")
    target = F.lit(fraction) * F.max("nt").over(
        Window.partitionBy())
    stepped = nt.select(
        "t", "nt", F.lag("nt").over(w).alias("prev"),
        target.alias("target"))
    # first t whose N(t) crosses the target, linearly interpolated
    # between (t-1, prev) and (t, nt)
    hit = (stepped
           .filter(F.col("nt") >= F.col("target"))
           .orderBy("t").limit(1))
    interp = F.when(
        F.col("prev").isNull() | (F.col("nt") == F.col("prev")),
        F.col("t").cast("double")).otherwise(
        F.col("t") - 1 + (F.col("target") - F.col("prev"))
        / (F.col("nt") - F.col("prev")))
    totals = nt.agg(F.max("t").alias("t_max"),
                    F.round(F.max("nt"), 6).alias("reachable_pairs_max"))
    return totals.crossJoin(
        hit.select(F.round(interp, 6).alias("effective_diameter")))
