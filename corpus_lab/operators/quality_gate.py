"""Fused one-pass quality gate with reject-reason attribution.

The first stage of every web-scale training pipeline (C4, Gopher,
RefinedWeb, FineWeb) rejects 50-90% of raw documents with CHEAP
per-document rules.  Running those rules as separate passes — or even
separate cached DataFrames — re-scans the corpus once per rule; at
100 TB the only acceptable shape is ONE projection over the raw scan
that evaluates every rule and either drops the row or forwards it with
its features already computed.  Downstream shuffling stages (dedup,
clustering) then see only survivors.

This module fuses the suite's existing signals (lang-ID marker argmax,
composite quality score, token bounds, stopword floor, C4 document
probes, a shuffle-free duplicate-n-gram fraction) into a single
codegen'd CASE chain producing ``reject_reason`` — 'pass' for
survivors, else the FIRST failing rule in a fixed audit order.  Reason
attribution is what makes the gate operable: a per-reason count (one
cheap agg over the gate output) is the pipeline's canary when a crawl
batch shifts distribution.

Everything is a JVM expression (split / filter / array_distinct /
regexp) — no UDFs, no shuffle, RE2-safe patterns, bit-exact DuckDB
oracle.  The repetition signal here is the shuffle-free
``1 - distinct_grams/grams`` duplicate fraction (an upper-bound proxy
for Gopher's dup_gram_frac that needs no per-gram aggregation); the
exact aggregated version stays available as
:func:`~corpus_lab.operators.text_analysis.repetition_stats` for
the offline audit pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from corpus_lab.operators.text_analysis import (
    STOPWORD_RE, marker_hits, token_count,
)

__all__ = ["quality_gate", "gate_reason_counts", "GATE_RULES"]

# Audit order — first failing rule wins; keep stable across versions so
# reason histograms are comparable between crawl batches.
GATE_RULES = ["too_short", "too_long", "lorem_ipsum", "code_brace",
              "no_stopwords", "word_len", "repetitive", "low_quality"]


def _dup_gram_frac(text: Column, n: int = 2) -> Column:
    """Shuffle-free duplicate word-n-gram fraction:
    ``1 - |distinct grams| / |grams|`` (0 when fewer than n words)."""
    w = F.split(F.trim(text), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(w, i + 1, n), " "))
    return F.when(
        F.size(w) < n, F.lit(0.0)
    ).otherwise(1.0 - F.size(F.array_distinct(grams)) / F.size(grams))


def quality_gate(df: DataFrame, text_col: str = "text",
                 min_tokens: int = 10, max_tokens: int = 100_000,
                 max_dup_gram_frac: float = 0.5,
                 min_quality: float = 0.3,
                 keep_rejects: bool = False) -> DataFrame:
    """One-projection gate: input columns + ``n_tokens``,
    ``quality_score``, ``dup_gram_frac``, ``reject_reason``.

    Rules (audit order = ``GATE_RULES``): token bounds [min, max];
    C4 document probes (lorem ipsum, curly brace); Gopher-style stopword
    floor (>= 2 stopword hits) and mean-word-length sanity [3, 10];
    duplicate-2-gram fraction <= ``max_dup_gram_frac``; composite
    quality score >= ``min_quality`` (same formula as
    ``quality_features`` — alpha ratio, stopword rate, word length,
    symbol density).  ``keep_rejects=True`` forwards every row with its
    reason (the audit mode); default drops rejects at the scan.
    """
    text = F.col(text_col)
    # Stage 1: each raw feature computed EXACTLY once.  The reason CASE
    # and the score both reference every feature; left as one nested
    # expression tree the non-codegen'd pieces (the gram array walk, the
    # regex counts) would be re-evaluated per reference — measured ~3x
    # the cost on sf0.1.  An explicit intermediate projection is a
    # CSE barrier: CollapseProject refuses to inline non-cheap exprs
    # referenced more than once, so these stay single-evaluation.
    feat = df.select(
        "*",
        token_count(text).alias("_toks"),
        F.length(text).alias("_n_chars"),
        F.regexp_count(text, F.lit(r"[A-Za-z]")).alias("_n_alpha"),
        F.regexp_count(text, F.lit(r"[0-9]")).alias("_n_digit"),
        F.regexp_count(text, F.lit(r"[.,;:!?]")).alias("_n_punct"),
        marker_hits(text, STOPWORD_RE).alias("_stop_hits"),
        _dup_gram_frac(text).alias("_dup_frac"),
    )

    toks, n_chars = F.col("_toks"), F.col("_n_chars")
    n_alpha, n_digit = F.col("_n_alpha"), F.col("_n_digit")
    n_punct, stop_hits = F.col("_n_punct"), F.col("_stop_hits")
    dup_frac = F.col("_dup_frac")
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    mean_word_len = F.when(toks > 0, n_alpha / toks).otherwise(F.lit(0.0))
    stop_ratio = F.when(toks > 0, stop_hits / toks).otherwise(F.lit(0.0))
    word_len_ok = (mean_word_len >= 3) & (mean_word_len <= 10)
    score = (0.4 * alpha_ratio
             + 0.2 * F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
             + 0.2 * F.when(word_len_ok, F.lit(1.0)).otherwise(F.lit(0.0))
             + 0.2 * (1 - F.least(digit_ratio + punct_ratio, F.lit(1.0))))

    reason = (
        F.when(toks < min_tokens, F.lit("too_short"))
        .when(toks > max_tokens, F.lit("too_long"))
        .when(F.lower(text).contains("lorem ipsum"), F.lit("lorem_ipsum"))
        .when(text.contains("{"), F.lit("code_brace"))
        .when(stop_hits < 2, F.lit("no_stopwords"))
        .when(~word_len_ok, F.lit("word_len"))
        .when(dup_frac > max_dup_gram_frac, F.lit("repetitive"))
        .when(score < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("pass")))

    gated = (feat.withColumn("n_tokens", toks.cast("long"))
             .withColumn("quality_score", F.round(score, 6))
             .withColumn("dup_gram_frac", F.round(dup_frac, 6))
             .withColumn("reject_reason", reason)
             .drop("_toks", "_n_chars", "_n_alpha", "_n_digit",
                   "_n_punct", "_stop_hits", "_dup_frac"))
    if keep_rejects:
        return gated
    return gated.filter(F.col("reject_reason") == "pass")


def gate_reason_counts(gated: DataFrame) -> DataFrame:
    """The operability histogram: one row per reject_reason with count
    and corpus share — the number to alert on when a new crawl batch's
    rejection mix shifts.  One hash agg + an in-plan broadcast 1-row
    total (same pattern as tf-idf's ``_n_docs_agg``; no driver count)."""
    counts = (gated.groupBy("reject_reason")
              .agg(F.count("*").cast("long").alias("n_docs")))
    total = counts.agg(F.sum("n_docs").alias("_total"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("share",
                        F.round(F.col("n_docs") / F.col("_total"), 6))
            .drop("_total")
            .orderBy("reject_reason"))
