"""Deterministic negative sampling for contrastive training pairs
(the in-batch/random-negative construction behind DPR, SimCSE, CLIP
-style retrieval training sets).

Given an anchor corpus and a POSITIVE pair relation (near-duplicates,
query-document matches, bitext pairs — anything the dedup/mining
family emits), attach ``k`` random negatives to every anchor: documents
that are (a) not the anchor and (b) not among the anchor's positives.
Uniform random negatives are the standard baseline; hard negatives are
a different operator (ANN top-k minus positives — compose
``similarity``'s miners with the same anti-join tail).

Determinism contract: negative j of anchor a is the md5 integer of
``(salt, a, j)`` reduced modulo the id-space size ``N = max(id) + 1``
— the engine's content-stable draw family, replayable in SQL, stable
under partitioning/engine/run.  Draws that collide with the anchor,
with a positive, or with a hole in the id space are DROPPED, not
re-drawn: a re-draw chain is sequential state (draw i+1 depends on
draw i's validity), which neither a column expression nor the oracle
can express — so anchors carry UP TO ``k`` negatives and the slot
index ``j`` records which draws survived.  At corpus scale the drop
rate is O((k + positives) / N) — vanishing, and exactly measurable
from the output.

Scale shape (100 TB): one scalar aggregate (``max(id)`` — broadcast
single-row cross join, the in-plan corpus-scalar pattern bm25 uses),
one ``k``-way explode of the anchor relation, one semi-join to the id
relation (existence), one anti-join to positives.  All equi-joins on
ids; nothing quadratic, no draw ever ships the corpus.

Engine-new (the reference has no training-pair surface); grouped with
the sampling/mixing family (unimax, temperature, dsir, epoch_mix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["hard_negatives", "negative_samples"]


def negative_samples(df: DataFrame, positives: DataFrame, k: int = 4,
                     id_col: str = "doc_id",
                     salt: str = "neg-v1") -> DataFrame:
    """``(doc_id, neg_id, j)`` — up to ``k`` deterministic uniform
    negatives per anchor; ``j`` in [0, k) is the draw slot (gaps =
    dropped collisions).  ``positives`` must carry columns ``a``/``b``
    (unordered pair semantics: both orientations are excluded)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ids = df.select(F.col(id_col).cast("long").alias(id_col))
    n = ids.agg(F.max(id_col).alias("_n")).select(
        (F.col("_n") + 1).alias("_n"))
    draws = (ids.crossJoin(F.broadcast(n))
             .select(id_col, "_n",
                     F.explode(F.expr(
                         f"sequence(0, {k - 1})")).alias("j"))
             .withColumn("neg_id", F.expr(
                 f"cast(conv(substring(md5(concat("
                 f"'{salt}:', cast({id_col} as string), ':', "
                 f"cast(j as string))), 1, 15), 16, 10) as bigint) "
                 f"% _n"))
             .filter(F.col("neg_id") != F.col(id_col))
             .drop("_n"))
    # existence: the id space may have holes (filtered/deleted docs)
    existing = draws.join(
        ids.select(F.col(id_col).alias("neg_id")), "neg_id", "left_semi")
    pos = (positives.select(F.col("a").cast("long").alias(id_col),
                            F.col("b").cast("long").alias("neg_id"))
           .unionAll(positives.select(
               F.col("b").cast("long").alias(id_col),
               F.col("a").cast("long").alias("neg_id"))))
    return (existing.join(pos, [id_col, "neg_id"], "left_anti")
            .select(id_col, "neg_id", F.col("j").cast("int").alias("j")))


def hard_negatives(df: DataFrame, k: int = 4, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """``(x, neg_id, rc, rank)`` — each anchor's ``k`` NEAREST
    different-label vectors by cosine: the cross-class hard negatives
    that make contrastive training informative (a random negative is
    usually trivially far; the hardest ones sit just across the class
    boundary — the triplet-mining recipe of FaceNet/DPR).

    ``rc`` is the exact-int64 scaled cosine (``round(cos * 1e6)``, the
    bitext contract — reused from :mod:`bitext` so both operators rank
    by identical arithmetic); rank ties break on the neighbor id.
    Same-label pairs (the positives) are excluded by construction.

    Deliberately O(n^2) within a caller-capped input (the
    embedding_near_dup brute-baseline contract): this IS the exact
    verify; the scale path swaps the pair generator for the LSH/IVF
    candidate routes and keeps the filter/rank tail, exactly as
    margin_mining_lsh does.
    """
    from corpus_lab.operators.bitext import scaled_cosine_pairs
    from pyspark.sql import Window
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    labels = df.select(F.col(id_col).cast("long").alias("_id"),
                       F.col(label_col).alias("_lbl"))
    pairs = (scaled_cosine_pairs(df, df, id_col, vec_col)
             .filter(F.col("x") != F.col("y"))
             .join(labels.select(F.col("_id").alias("x"),
                                 F.col("_lbl").alias("_lx")), "x")
             .join(labels.select(F.col("_id").alias("y"),
                                 F.col("_lbl").alias("_ly")), "y")
             .filter(F.col("_lx") != F.col("_ly")))
    w = Window.partitionBy("x").orderBy(F.desc("rc"), F.asc("y"))
    return (pairs.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select("x", F.col("y").alias("neg_id"), "rc",
                    F.col("_rk").cast("int").alias("rank")))
