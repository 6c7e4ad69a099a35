"""Distributed Lloyd k-means over embedding columns (engine-new): the
100 TB training path for the IVF index (similarity.py trains its
centroids on a 2048-row driver sample — the standard recipe, but at
cluster scale you want the assignment + update steps distributed).

Execution model (the MLlib shape, re-expressed on DataFrames):

- centroids live driver-side (k x dim doubles — model-sized, like the
  bigram LM's vocab_size) and enter each job as column literals;
- ASSIGN: per row, squared L2 distance to every centroid via a
  ``zip_with`` + index-ordered ``aggregate`` fold (pure JVM, codegen);
  argmin = ``array_min`` over (dist, cluster) structs — ties break on the
  lower cluster id;
- UPDATE: ``posexplode`` the vectors of each cluster and hash-aggregate
  ``avg`` by (cluster, dim) — map-side combine absorbs any cluster skew;
  k x dim rows come back to the driver per iteration;
- empty clusters DROP OUT (their id simply stops being assignable) —
  the documented Lloyd variant here, chosen so the unrolled SQL oracle
  (which cannot see an empty group) states the same semantics.

Determinism contract (cross-engine oracle-checkable floats, same recipe
as lm_score.py): distances and updated centroid coordinates are rounded
to 9 digits each iteration — float32 inputs cast exactly to double, and
the ~1e-13 summation-order noise of ``avg``/``sum`` dies at digit 9 while
genuine distance gaps survive.  Initial centroids are pinned seeded
constants (similarity.pinned_centroids), embedded verbatim in the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    """Index-ordered fold of squared per-dimension differences, rounded
    to 9 digits (see module determinism contract)."""
    lit = F.array(*[F.lit(float(c)) for c in centroid])
    diffs = F.zip_with(vec, lit, lambda x, y: (x - y) * (x - y))
    return F.round(F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d), 9)


def assign_clusters(df: DataFrame, centroids: list[tuple[int, list[float]]],
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """``(id, cluster, dist)`` — nearest centroid per row.  ``centroids``
    is ``[(cluster_id, coords), ...]`` (ids survive empty-cluster drop)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    best = F.array_min(F.array(*[
        F.struct(_sq_dist(vec, coords).alias("dist"),
                 F.lit(int(cid)).alias("cluster"))
        for cid, coords in centroids
    ]))
    return df.select(F.col(id_col), best["cluster"].alias("cluster"),
                     best["dist"].alias("dist"))


def update_centroids(df: DataFrame, centroids: list[tuple[int, list[float]]],
                     vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """New centroids = per-(cluster, dim) mean, rounded to 9 digits;
    returns driver-side ``[(cluster_id, coords), ...]`` sorted by id.
    The assignment is recomputed INLINE in the same stage as the explode
    (a join of the assignment back onto the vectors would shuffle the
    whole table once per iteration); one hash aggregation follows, and
    k x dim rows are collected (model-sized)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    best = F.array_min(F.array(*[
        F.struct(_sq_dist(vec, coords).alias("dist"),
                 F.lit(int(cid)).alias("cluster"))
        for cid, coords in centroids
    ]))
    long_fmt = (df.select(best["cluster"].alias("cluster"), vec.alias("v"))
                .select("cluster", F.posexplode("v").alias("dim", "val")))
    rows = (long_fmt.groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), 9).alias("cval"))
            .collect())
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["cval"]
    return [(cid, [dims[d] for d in sorted(dims)])
            for cid, dims in sorted(by_cluster.items())]


def kmeans_fit(df: DataFrame, k: int = 8, iters: int = 2,
               vec_col: str = "embedding",
               init: list[tuple[int, list[float]]] | None = None,
               ) -> list[tuple[int, list[float]]]:
    """Lloyd iterations; returns the final centroid list.  Default init =
    pinned seeded constants (oracle-checkable); pass a data-derived
    ``init`` (e.g. a sampled k-means|| sketch) for production quality.

    Each iteration runs one distributed hash aggregation and collects
    exactly k x dim rows (update_centroids) — a constant-size driver
    transfer that is legitimate at ANY corpus scale because the next
    iteration needs the centroids as plan literals.  Do not imitate this
    collect-per-iteration pattern for relations that grow with the data
    (pagerank.py makes the same point for its 1-row dangling-mass
    scalar)."""
    if init is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "kmeans_fit: need at least one non-null vector to derive "
                "the dimensionality for pinned init — pass init= explicitly")
        init = pinned_init(len(row[0]), k)
    centroids = init
    for _ in range(iters):
        centroids = update_centroids(df, centroids, vec_col)
    return centroids


def pinned_init(dim: int, k: int = 8, seed: int = 7) -> list[tuple[int, list[float]]]:
    """Deterministic seeded init centroids (similarity.pinned_centroids) as
    ``[(cluster_id, coords), ...]`` — shared verbatim with the SQL oracle."""
    from corpus_lab.operators.similarity import pinned_centroids
    c = pinned_centroids(dim, n_cells=k)
    return [(j, [float(x) for x in c[j]]) for j in range(k)]


def kmeans_predict(df: DataFrame, k: int = 8, iters: int = 2,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   init: list[tuple[int, list[float]]] | None = None,
                   ) -> DataFrame:
    """Fit (pinned init unless ``init`` given) + final assignment:
    ``(id, cluster, dist)`` with dist rounded to 6 output digits."""
    centroids = kmeans_fit(df, k, iters, vec_col, init=init)
    out = assign_clusters(df, centroids, vec_col, id_col)
    return out.select(id_col, "cluster", F.round("dist", 6).alias("dist"))
