"""DSIR: data selection via importance resampling (engine-new,
training-data pipeline; Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling").

The recipe, re-expressed Spark-first:

1. **Hashed n-gram features**: every document becomes a bag of hashed
   unigram+bigram buckets (``md5(gram) % n_buckets`` — the same
   content-stable md5 contract as
   :func:`corpus_lab.operators.text_analysis.md5_draw32`).
2. **Two bag-of-buckets models**: bucket distributions ``p`` (target
   corpus) and ``q`` (raw corpus), Laplace-smoothed.  Both are ONE
   decomposable hash aggregation each (map-side combine), and the result
   is an ``n_buckets``-row table — broadcastable at any corpus scale.
3. **Importance weight** per raw document:
   ``w(x) = sum_b n_b(x) * (ln p_b - ln q_b)`` — the log likelihood
   ratio under the two bag models.  The per-bucket log-ratio rides a
   broadcast equi-join onto the per-doc bucket counts.
4. **Gumbel top-k resampling**: sampling k docs without replacement with
   probability ∝ exp(w) is equivalent to taking the top-k of
   ``w + Gumbel(0,1)`` (the Gumbel-max trick); the noise is the
   content-stable ``-ln(-ln(u))`` with ``u`` from ``md5_draw32``, so the
   draw is reproducible on any cluster at any partitioning.

Scale shape (100 TB): tokenize/explode is a JVM ``transform`` expression;
the only corpus-sized shuffle is the per-doc bucket-count aggregation
(decomposable); the model join broadcasts an ``n_buckets``-row dim; the
final top-k is TakeOrdered (per-partition local top-k, k-row merge) — no
global sort.  The two model tables are reusable artifacts: fit once,
score every incoming shard.

Determinism contract (cross-engine, same pattern as
:mod:`corpus_lab.operators.lm_score`): counts are exact integers,
each bucket's log-ratio is a pure per-row double expression, and the
per-document sum folds ``n_b * logratio`` in BUCKET ORDER via
``sort_array`` + ``aggregate`` — DuckDB replays the identical left fold
with ``list_aggregate(list(... ORDER BY bucket), 'sum')``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gram_col():
    """Unigrams + bigrams from the token-array column ``w``, as one JVM
    expression (no Python).  Unigrams drop empty tokens (the
    whole-text-empty edge); bigrams are ``w[i] || ' ' || w[i+1]`` and are
    guarded behind ``size(w) >= 2`` because Spark's ``sequence(0, -1)``
    would otherwise DESCEND ([0, -1]), not return empty."""
    w = F.col("w")
    uni = F.filter(w, lambda t: t != "")
    bi = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat(F.element_at(w, i + 1), F.lit(" "),
                               F.element_at(w, i + 2))),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(uni, bi)


def hashed_feature_counts(docs: DataFrame, n_buckets: int = 1024,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document hashed n-gram bucket counts:
    ``(id_col, bucket, n)`` with ``bucket = md5_32(gram) % n_buckets``."""
    toks = (docs.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col),
                    F.split(F.trim(F.lower(F.col(text_col))),
                            r"\s+").alias("w")))
    g = toks.select(F.col(id_col), F.explode(_gram_col()).alias("gram"))
    bucket = (F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
              .cast("long") % F.lit(n_buckets)).cast("int")
    return (g.select(id_col, bucket.alias("bucket"))
            .groupBy(id_col, "bucket")
            .agg(F.count("*").cast("long").alias("n")))


def bucket_log_ratio(target_counts: DataFrame, raw_counts: DataFrame,
                     n_buckets: int = 1024,
                     alpha: float = 1.0) -> DataFrame:
    """Per-bucket ``ln p_b - ln q_b`` with Laplace smoothing: the DSIR
    importance model.  Output: ``(bucket, logratio)`` — n_buckets rows at
    most, broadcastable regardless of corpus size."""
    t = (target_counts.groupBy("bucket")
         .agg(F.sum("n").cast("long").alias("tc")))
    r = (raw_counts.groupBy("bucket")
         .agg(F.sum("n").cast("long").alias("rc")))
    tt = t.agg(F.sum("tc").cast("long").alias("ttot"))
    rt = r.agg(F.sum("rc").cast("long").alias("rtot"))
    # full-outer on bucket: a bucket seen on one side only still scores.
    # The two crossJoins attach ONE-ROW broadcast aggregates (corpus
    # totals) — the documented broadcast-1-row pattern (see
    # text_analysis.py PMI scalars); a literal join key would be
    # FoldablePropagation'd into 1=1 anyway (the bm25 lesson), and a
    # 1-row BNLJ is exactly as cheap as it looks.
    joined = (t.join(r, ["bucket"], "full")
              .crossJoin(F.broadcast(tt)).crossJoin(F.broadcast(rt)))
    a = F.lit(float(alpha))
    b = F.lit(float(alpha * n_buckets))
    logp = F.log((F.coalesce(F.col("tc"), F.lit(0)) + a)
                 / (F.col("ttot") + b))
    logq = F.log((F.coalesce(F.col("rc"), F.lit(0)) + a)
                 / (F.col("rtot") + b))
    return joined.select("bucket", (logp - logq).alias("logratio"))


def dsir_weights(raw_counts: DataFrame, log_ratio: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document importance weight: bucket-ordered fold of
    ``n * logratio`` (the cross-engine determinism contract).
    Output: ``(id_col, n_features, weight)`` — weight unrounded (callers
    round for display; the resampler orders on the exact double)."""
    scored = (raw_counts.join(F.broadcast(log_ratio), ["bucket"])
              .select(id_col, "bucket",
                      (F.col("n") * F.col("logratio")).alias("term"),
                      "n"))
    folded = (scored.groupBy(id_col)
              .agg(F.sort_array(F.collect_list(F.struct("bucket", "term")))
                   .alias("seq"),
                   F.sum("n").cast("long").alias("n_features")))
    total = F.aggregate(F.col("seq"), F.lit(0.0),
                        lambda acc, s: acc + s["term"])
    return folded.select(F.col(id_col), "n_features", total.alias("weight"))


def dsir_select(weights: DataFrame, k: int, salt: str = "dsir-v1",
                id_col: str = "doc_id") -> DataFrame:
    """Gumbel top-k importance resampling: keep the k documents with the
    largest ``weight + Gumbel(0,1)`` where the Gumbel draw is the
    content-stable ``-ln(-ln((md5_32 + 0.5) / 2^32))``.  Equivalent to
    sampling k docs without replacement ∝ exp(weight); fully
    reproducible (same salt -> same selection on any cluster)."""
    from corpus_lab.operators.text_analysis import md5_draw32
    u = (md5_draw32(id_col, salt).cast("double") + F.lit(0.5)) \
        / F.lit(float(1 << 32))
    key = F.col("weight") + (-F.log(-F.log(u)))
    # a NULL weight means the importance model was undefined for this doc
    # (an EMPTY target or raw corpus nulls the totals and with them every
    # weight) — without this filter the orderBy would quietly emit the k
    # lowest-id docs as if they had been importance-selected
    weights = weights.filter(F.col("weight").isNotNull())
    return (weights.withColumn("_key", key)
            .orderBy(F.col("_key").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, "n_features",
                    F.round("weight", 6).alias("weight")))
