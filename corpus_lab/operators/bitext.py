"""Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 "Margin-based
Parallel Corpus Mining with Multilingual Sentence Embeddings"; the
CCMatrix/LASER recipe).

Parallel-pair mining between two embedding sets X and Y (two languages,
two crawls, two modalities): plain nearest-neighbor cosine over-fires on
HUB vectors — points that are everyone's neighbor — so the score is the
RATIO MARGIN: cos(x, y) normalized by the mean of each side's top-k
neighborhood cosines,

    margin(x, y) = cos(x, y) / ((avg_{z in NNk(x,Y)} cos(x, z)
                                 + avg_{z in NNk(y,X)} cos(y, z)) / 2)

and a pair is emitted only when x and y are MUTUALLY top-1 (the "max"
strategy intersection of forward and backward mining).

Cross-engine float contract: the cosine is rounded to 6 decimals and
scaled to an exact int64 (``rc = round(cos * 1e6)``) BEFORE any
aggregation — top-k sums of int64 are order-independent, so the
oracle's window sums match Spark's bit-exactly regardless of either
engine's partial-aggregation order; the single final division back to a
double margin is deterministic.  Ranking ties break on the neighbor id.

Scale shape: this module's :func:`margin_mining` is the EXACT verify —
it scores every (x, y) pair, so callers cap the input (the engine's
standard brute-baseline contract, embedding_near_dup's ``vec_id <
1000`` pattern).  The 100 TB path swaps the pair generator for the
existing LSH route (``similarity.with_lsh_bucket`` on both sides, pairs
restricted to equal buckets — one equi-join) or IVF cells, keeping this
module's rank/margin/mutual-top-1 tail unchanged on the candidate
relation; :func:`margin_mining_lsh` is that composition.

Reference anchor: engine-new (the reference has no embedding surface);
grouped with the ANN/near-dup family SURVEY.md §6 adds for
training-data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["margin_mining", "margin_mining_lsh", "scaled_cosine_pairs"]


def _prep_side(df: DataFrame, id_col: str, vec_col: str,
               alias: str) -> DataFrame:
    """Project (id, double-cast vector, precomputed norm) — n sqrt's
    before the pair join, not n^2 (the embedding_near_dup factoring)."""
    sq = F.aggregate(F.transform(F.col("_v"), lambda x: x * x),
                     F.lit(0.0), lambda a, x: a + x)
    return (df.select(F.col(id_col).alias(alias),
                      F.col(vec_col).cast("array<double>").alias("_v"))
            .withColumn("_n", F.sqrt(sq))
            .select(alias, F.col("_v").alias(f"_v_{alias}"),
                    F.col("_n").alias(f"_n_{alias}")))


def _rc(va: str, vb: str, na: str, nb: str):
    """Exact-int64 scaled cosine: round(cos * 1e6) — the only float
    rounding in the operator; everything aggregated downstream is
    integer arithmetic both engines replay exactly."""
    dot = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return F.round(dot / (F.col(na) * F.col(nb)) * 1e6, 0).cast("long")


def scaled_cosine_pairs(x: DataFrame, y: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """All-pairs ``(x, y, rc)`` with the exact-int64 scaled cosine.
    Deliberately O(|X| * |Y|): the capped brute baseline (callers bound
    the sides); the LSH variant swaps only this generator."""
    xs = _prep_side(x, id_col, vec_col, "x")
    ys = _prep_side(y, id_col, vec_col, "y")
    return (xs.crossJoin(ys)
            .select("x", "y",
                    _rc("_v_x", "_v_y", "_n_x", "_n_y").alias("rc")))


def _margin_tail(pairs: DataFrame, k: int,
                 min_margin: float | None) -> DataFrame:
    """Shared rank/margin/mutual-top-1 tail over a ``(x, y, rc)``
    candidate relation (brute or LSH-restricted)."""
    wx = Window.partitionBy("x").orderBy(F.desc("rc"), F.asc("y"))
    wy = Window.partitionBy("y").orderBy(F.desc("rc"), F.asc("x"))
    ranked = (pairs
              .withColumn("_rx", F.row_number().over(wx))
              .withColumn("_ry", F.row_number().over(wy)))
    sx = F.sum(F.when(F.col("_rx") <= k, F.col("rc"))) \
        .over(Window.partitionBy("x"))
    sy = F.sum(F.when(F.col("_ry") <= k, F.col("rc"))) \
        .over(Window.partitionBy("y"))
    scored = (ranked.withColumn("_sx", sx).withColumn("_sy", sy)
              .filter((F.col("_rx") == 1) & (F.col("_ry") == 1) &
                      (F.col("_sx") + F.col("_sy") > 0))
              .select("x", "y",
                      F.round(F.lit(float(2 * k)) * F.col("rc") /
                              (F.col("_sx") + F.col("_sy")), 6)
                      .alias("margin")))
    if min_margin is not None:
        scored = scored.filter(F.col("margin") >= min_margin)
    return scored


def margin_mining(x: DataFrame, y: DataFrame, k: int = 4,
                  min_margin: float | None = None,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """``(x, y, margin)`` — mutually-top-1 cross-set pairs scored by the
    ratio margin over ``k``-neighborhood means (margin > 1 means the
    pair stands out from both hubs' neighborhoods).

    ``2 * k * rc / (sum_topk_x + sum_topk_y)`` is the literal ratio
    margin with both averages' divisions folded into one: exact-int64
    numerator and denominator, one final double division, rounded to 6
    decimals.  Pairs whose combined neighborhood sum is <= 0 are
    dropped (margin undefined on anti-correlated neighborhoods).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _margin_tail(scaled_cosine_pairs(x, y, id_col, vec_col),
                        k, min_margin)


def margin_mining_lsh(x: DataFrame, y: DataFrame, dim: int, k: int = 4,
                      n_planes: int = 8, min_margin: float | None = None,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """The scale path: candidates restricted to pairs sharing a sign-LSH
    bucket (one equi-join, no cross join), then the identical
    rank/margin/mutual-top-1 tail.  APPROXIMATE — a pair hashing into
    different buckets is invisible, and neighborhood sums see only
    in-bucket neighbors (k-NN recall follows the bucket collision
    probability; raise recall with fewer planes or multiprobe, exactly
    the ann_lsh_topk tradeoff).
    """
    from corpus_lab.operators.similarity import with_lsh_bucket
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    xb = with_lsh_bucket(x, dim, n_planes=n_planes, vec_col=vec_col)
    yb = with_lsh_bucket(y, dim, n_planes=n_planes, vec_col=vec_col)
    xs = _prep_side(xb, id_col, vec_col, "x").join(
        xb.select(F.col(id_col).alias("x"), F.col("bucket")), "x")
    ys = _prep_side(yb, id_col, vec_col, "y").join(
        yb.select(F.col(id_col).alias("y"), F.col("bucket")), "y")
    pairs = (xs.join(ys, on="bucket")
             .select("x", "y",
                     _rc("_v_x", "_v_y", "_n_x", "_n_y").alias("rc")))
    return _margin_tail(pairs, k, min_margin)
