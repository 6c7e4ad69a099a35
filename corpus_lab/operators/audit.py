"""Pipeline self-audit operators: LSH dedup-quality measurement and
ANALYZE-style table column statistics.

A dedup stage you cannot measure is a dedup stage you cannot tune.
``lsh_dedup_audit`` closes the b×r tuning loop for the MinHash banding
family: it reports banding PRECISION over every candidate the banding
actually emits, and a RECALL estimate from a deterministic document
sample where exact all-pairs Jaccard is affordable.  This is how the
S-curve parameters (bands × rows-per-band vs the similarity threshold)
get validated against a real corpus instead of the uniform-hash
idealization — the same lesson the band-entropy census encodes for
candidate VOLUME, applied to candidate QUALITY.

``table_column_stats`` is the ANALYZE side: per-column row/null/distinct
counts and min/max, the numbers that drive partition-layout choices,
broadcast-join thresholds, and skew diagnosis before a 100 TB run.

Scale shape:
- precision leg: exact Jaccard is confined to LSH candidates (the
  ``ngram_jaccard_pairs(candidates=...)`` array-intersect path) — never
  a shingle-level self-join over the corpus.
- recall leg: the quadratic exact-pairs mine runs ONLY on the
  ``doc_id % sample_mod == 0`` sample (1/mod of the corpus; on a real
  cluster pick mod so the sample is ~10^4-10^5 docs).  Sampling pairs
  of SAMPLED docs estimates pair recall unbiasedly because banding
  candidacy is a pure pair property, independent of the sample draw.
- the verdict is a single aggregated row — counts are exact integers,
  rates are one rounded division each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.operators.text_dedup import (
    minhash_candidate_pairs, ngram_jaccard_pairs)

__all__ = ["lsh_dedup_audit", "table_column_stats"]


def lsh_dedup_audit(df: DataFrame, threshold: float = 0.4,
                    sample_mod: int = 5, n_hashes: int = 4,
                    rows_per_band: int = 2, shingle_n: int = 2,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """One-row verdict on a MinHash-LSH banding configuration:

    ``(n_candidates, n_true_candidates, precision_est, n_sample_true,
    n_sample_caught, recall_est)`` where *precision* is the fraction of
    banding candidates whose exact shingle Jaccard >= ``threshold`` and
    *recall_est* is the fraction of true pairs (>= threshold) inside the
    ``id % sample_mod == 0`` sample that banding also proposed.  NULL
    rates when the corresponding denominator is zero."""
    base = df.select(id_col, text_col)
    cand = minhash_candidate_pairs(
        base, n_hashes=n_hashes, rows_per_band=rows_per_band,
        id_col=id_col, text_col=text_col, shingle_n=shingle_n)
    # precision: exact Jaccard confined to candidates (threshold=0 keeps
    # every candidate so the denominator is the full candidate count)
    cand_j = ngram_jaccard_pairs(
        base, threshold=0.0, id_col=id_col, text_col=text_col,
        shingle_n=shingle_n, candidates=cand)
    prec = cand_j.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum((F.col("jaccard") >= threshold).cast("long"))
         .cast("long").alias("n_true_candidates"),
    )
    # recall estimate: exact all-pairs ground truth on the sample only
    sample = base.filter(F.col(id_col) % sample_mod == 0)
    true_pairs = ngram_jaccard_pairs(
        sample, threshold=threshold, id_col=id_col, text_col=text_col,
        shingle_n=shingle_n).select("a", "b")
    caught = true_pairs.join(cand, on=["a", "b"], how="left_semi")
    rec = true_pairs.agg(F.count("*").cast("long")
                         .alias("n_sample_true")) \
        .crossJoin(caught.agg(F.count("*").cast("long")
                              .alias("n_sample_caught")))
    # three 1-row relations -> one verdict row (broadcast-1-row crossJoin,
    # the documented in-plan-scalar pattern from text_analysis)
    return (
        prec.crossJoin(rec)
        .select(
            "n_candidates", "n_true_candidates",
            F.when(F.col("n_candidates") > 0,
                   F.round(F.col("n_true_candidates")
                           / F.col("n_candidates"), 6))
             .alias("precision_est"),
            "n_sample_true", "n_sample_caught",
            F.when(F.col("n_sample_true") > 0,
                   F.round(F.col("n_sample_caught")
                           / F.col("n_sample_true"), 6))
             .alias("recall_est"),
        )
    )


def table_column_stats(df: DataFrame, columns: list[str] | None = None,
                       approx_ndv: bool = False) -> DataFrame:
    """ANALYZE-style per-column statistics: ``(column, n_rows, n_null,
    n_distinct, min_s, max_s)`` with min/max rendered as strings so one
    relation covers every column type.

    ``approx_ndv=True`` swaps exact ``count(DISTINCT)`` for
    ``approx_count_distinct`` (HLL) — the 100 TB path: exact NDV on a
    wide table multiplies the aggregation by an Expand over the distinct
    columns, HLL keeps it one pass.  Exact is the default because the
    driver oracle compares integer-exactly."""
    cols = columns if columns is not None else df.columns
    ndv = (F.approx_count_distinct if approx_ndv
           else F.countDistinct)
    aggs = [F.count(F.lit(1)).cast("long").alias("_nr")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).cast("long")
             .alias(f"_nn_{c}"),
            ndv(F.col(c)).cast("long").alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)  # ONE scan for every column's stats
    rows = F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_nr").alias("n_rows"),
            F.col(f"_nn_{c}").alias("n_null"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_mn_{c}").alias("min_s"),
            F.col(f"_mx_{c}").alias("max_s"),
        )
        for c in cols
    ])).alias("s")
    return one.select(rows).select("s.*")


def k_anonymity_report(df: DataFrame, quasi_cols: list[str],
                       k: int = 5) -> DataFrame:
    """Per-equivalence-class k-anonymity audit over quasi-identifier
    columns: every class (unique quasi-column combination) with fewer
    than ``k`` members — the groups whose rows are re-identifiable by
    joining the quasi attributes against an external dataset.  The
    release-governance companion to pii_redact: redaction strips DIRECT
    identifiers; this finds rows exposed by identifier COMBINATIONS.

    Output: one row per violating class ``(quasi..., class_n)``,
    ordered semantics-free (class values identify the row).  Plan: ONE
    map-side-combining hash agg on the quasi key + a post-agg filter —
    vocabulary-of-classes sized, never corpus sized; the common quasi
    sets (language x region x bucketed length) are low-cardinality by
    construction.  Skewed hot classes are exactly the ones the filter
    DROPS (class_n >= k), so the output is bounded by the rare tail.
    """
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).alias("class_n"))
            .filter(F.col("class_n") < k))


def k_anonymity_summary(df: DataFrame, quasi_cols: list[str],
                        k: int = 5) -> DataFrame:
    """One-row rollup of the audit: total classes, violating classes,
    exposed rows, and the minimum class size (the corpus's effective
    k-anonymity level).  Same single-agg plan plus a scalar rollup."""
    classes = (df.groupBy(*quasi_cols)
               .agg(F.count(F.lit(1)).alias("class_n")))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("class_n") < k, 1).otherwise(0))
         .alias("n_violating"),
        F.sum(F.when(F.col("class_n") < k, F.col("class_n"))
               .otherwise(F.lit(0))).alias("exposed_rows"),
        F.min("class_n").alias("effective_k"))
