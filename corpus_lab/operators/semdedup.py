"""SemDedup: semantic deduplication via cluster-then-within-cluster cosine
(engine-new, training-data pipeline; Abbas et al. 2023, "SemDedup: Data-
efficient learning at web-scale through semantic deduplication").

The recipe, re-expressed Spark-first:

1. **Cluster** every embedding to its nearest centroid (k-means cells —
   the same assignment primitive as the IVF index in
   :mod:`corpus_lab.operators.similarity`).
2. **Rank** cluster members by cosine similarity TO THE CENTROID
   (descending, id tiebreak) — the paper's ordering.
3. **Greedy upper-triangle sweep**: a member is a semantic duplicate iff
   some LOWER-ranked member of the same cluster has cosine >= ``eps``
   with it.  This is exactly the paper's "keep one per similarity group"
   matrix sweep, and — unlike connected components — it is a pure
   self-join + EXISTS, so the whole operator is one SQL-expressible plan
   (no iteration, no driver loop).

Scale shape (100 TB): the pairwise verify runs ONLY within a cluster, so
its cost is sum of C(|cell|, 2) — bounded by choosing n_cells so the
expected cell size stays in the thousands (the paper uses 50k clusters
for LAION; cells are also how the work partitions, so the join shuffles
on ``cell`` and AQE handles stragglers).  ``band_census`` from
:mod:`corpus_lab.operators.text_dedup` applies verbatim to the
``cell`` column as the pre-flight candidate-budget check — run it before
the sweep at a new scale, exactly like the banded text-dedup routes.

Determinism contract: with float64 pinned centroids
(:func:`corpus_lab.operators.similarity.pinned_centroids`) every
quantity is an IEEE double chain both engines replay bit-identically —
dot products are left folds (Spark ``aggregate(zip_with(...))`` ==
DuckDB ``list_dot_product``), the rank ordering ties break on id, and
the output cosines are rounded to 6 only for display.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from corpus_lab.operators.similarity import (
    _dot, _norm, with_ivf_cell,
)


def with_centroid_cos(df: DataFrame, centroids: np.ndarray,
                      vec_col: str = "embedding",
                      cell_col: str = "cell",
                      out: str = "cent_cos") -> DataFrame:
    """Cosine of each vector to ITS OWN cell's centroid, as one JVM
    expression: the (n_cells) centroid table is embedded as an
    array-of-array literal indexed by the cell id — no join, no Python.
    Centroids are unit-norm by contract, so cos = dot / |v|."""
    cent_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    v = F.col(vec_col).cast("array<double>")
    own = F.element_at(cent_lit, F.col(cell_col) + 1)
    denom = _norm(v)
    return df.withColumn(
        out, F.when(denom > 0, _dot(v, own) / denom).otherwise(F.lit(0.0)))


def semdedup(df: DataFrame, centroids: np.ndarray, eps: float = 0.9,
             vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Flag semantic duplicates: returns every input id with its cluster,
    its centroid-cosine (rounded 6), and ``keep`` — False iff a
    lower-ranked same-cluster member sits within ``eps`` cosine.

    The output keeps ALL rows (a flag column, not a filtered relation) so
    downstream can choose drop-vs-weight; ``df.filter("keep")`` is the
    paper's deduplicated corpus.
    """
    ranked = (
        with_centroid_cos(
            with_ivf_cell(df, centroids, vec_col), centroids, vec_col)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("cell")
                .orderBy(F.col("cent_cos").desc(), F.col(id_col).asc())))
        .select(F.col(id_col), "cell", "cent_cos", "rank",
                F.col(vec_col).cast("array<double>").alias("_v"))
        # carry the per-row norm THROUGH the pair join: sqrt of the same
        # per-row fold either way, so the pair cosine is bit-identical to
        # recomputing it per pair, at 1/3 of the fold work
        .withColumn("_n", _norm(F.col("_v")))
    )
    x = ranked.select(F.col(id_col), "cell", "cent_cos", "rank",
                      F.col("_v").alias("_vx"), F.col("_n").alias("_nx"))
    y = ranked.select(F.col("cell").alias("_cell_y"),
                      F.col("rank").alias("_rank_y"),
                      F.col("_v").alias("_vy"), F.col("_n").alias("_ny"))
    denom = F.col("_nx") * F.col("_ny")
    cos_xy = F.when(denom > 0, _dot(F.col("_vx"), F.col("_vy")) / denom) \
              .otherwise(F.lit(0.0))
    dup_ids = (
        x.join(y, (F.col("cell") == F.col("_cell_y"))
               & (F.col("_rank_y") < F.col("rank")))
        .filter(cos_xy >= F.lit(float(eps)))
        .select(F.col(id_col)).distinct()
    )
    return (
        x.join(dup_ids.withColumn("_dup", F.lit(True)), [id_col], "left")
        .select(F.col(id_col), F.col("cell"),
                F.round("cent_cos", 6).alias("cent_cos"),
                F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"))
    )


def semdedup_pandas(df: DataFrame, centroids: np.ndarray, eps: float = 0.9,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """The SCALE path: same semantics as :func:`semdedup`, but the
    within-cluster sweep runs as ONE numpy matmul per cell via
    ``applyInPandas`` — the paper's per-cluster similarity-matrix shape.
    Measured ~100x the per-pair JVM-fold route at millions of vectors
    (the fold route stays as the bit-exact oracle baseline, same split
    as brute-force vs LSH in embedding near-dup).

    Distribution shape: one shuffle on ``cell``; each task materializes a
    |cell| x |cell| float64 similarity matrix (1,200-row cells = 11 MB),
    so size ``n_cells`` to keep cells in the low thousands and run the
    generic band census on ``cell`` first at a new scale — a runaway hot
    cell shows up there for the price of a groupBy, BEFORE the shuffle.

    Float contract: numpy dgemm sums in SIMD order, not the JVM left-fold
    order, so cosines can differ from :func:`semdedup` in the last ulp —
    identical ``keep`` decisions away from the eps boundary (pytest
    cross-checks the two routes on seeded corpora), but not bit-pinned;
    the oracle query uses the fold route."""
    import pandas as pd

    assigned = with_ivf_cell(df, centroids, vec_col)
    eps = float(eps)

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(x, axis=1)
        safe = np.where(norms > 0, norms, 1.0)
        cent = centroids[int(pdf["cell"].iloc[0])]
        cent_cos = np.where(norms > 0, (x @ cent) / safe, 0.0)
        ids = pdf[id_col].to_numpy()
        order = np.lexsort((ids, -cent_cos))
        xo = x[order]
        denom = np.outer(safe[order], safe[order])
        sim = (xo @ xo.T) / denom
        sim[np.outer(norms[order], norms[order]) <= 0] = 0.0
        dup_in_order = (np.tril(sim, -1) >= eps).any(axis=1)
        keep = np.empty(len(ids), dtype=bool)
        keep[order] = ~dup_in_order
        return pd.DataFrame({id_col: ids, "cell": pdf["cell"],
                             "cent_cos": np.round(cent_cos, 6),
                             "keep": keep})

    # the output id field follows the INPUT id type (string doc ids are
    # as legal here as the fold route's)
    id_type = df.schema[id_col].dataType.simpleString()
    return (assigned
            .select(id_col, "cell",
                    F.col(vec_col).cast("array<double>").alias(vec_col))
            .groupBy("cell")
            .applyInPandas(
                sweep,
                f"{id_col} {id_type}, cell int, cent_cos double, "
                f"keep boolean"))
