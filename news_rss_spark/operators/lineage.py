"""Per-partition lineage + checkpoint-resume (north rule; engine-new —
the reference's at-least-once publish-then-mark ordering, src/feeds/
rss_feeds/mod.rs:141-151, is upgraded to idempotent exactly-once resume).

Protocol:
- every document is assigned a stable logical partition ``bucket =
  pmod(xxhash64(doc_id), n_buckets)`` — independent of Spark's physical
  task ids, so it survives re-planning and cluster-size changes;
- the sink is written ``partitionBy(bucket)`` with dynamic partition
  overwrite: re-running a bucket replaces it byte-for-byte (idempotent);
- after data lands, one lineage row per bucket is appended:
  (bucket, doc_count, ok_count, failure_count, byte_count,
  extractor_version, run_id);
- resume = collect the buckets of lineage rows whose extractor_version
  matches (≤ n_buckets rows) and filter the input with ``bucket NOT IN
  (...)``: completed buckets are skipped BEFORE the extraction stage
  (scan-level filter; partition-prunable when the input is laid out by
  the same bucket expression).  No cross-run anti-join is needed: every
  bucket that is not completed is rewritten wholesale.

Crash window analysis: data-then-lineage ordering means a crash between the
two leaves an un-recorded bucket whose next run overwrites it in place —
no duplicates, strictly stronger than the reference's at-least-once.

Skew: buckets are uniform by construction (hash of a high-cardinality key).
The skewed dimension in this workload is the publisher domain (a few
publishers own most docs — FIXTURES.md §1); ``salted_agg`` below is the
two-stage aggregation used for per-publisher stats so one hot key cannot
pin a single reducer at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_BUCKETS = 64

LINEAGE_DDL = (
    "bucket int, doc_count bigint, ok_count bigint, failure_count bigint, "
    "byte_count bigint, extractor_version string, run_id string"
)


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS,
                key: str = "doc_id") -> DataFrame:
    """Stable logical partition assignment (cheap JVM-side hash, no shuffle)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def lineage_rows(extracted: DataFrame, extractor_version: str,
                 run_id: str, *extra_aggs: Column) -> DataFrame:
    """One row per bucket; partial aggregation makes this map-side cheap.

    ``doc_count`` counts the rows that LANDED in the sink — i.e. documents
    after in-run dedup (first occurrence of each doc_id wins), not raw
    input occurrences; dropped repeats are invisible to the ledger by
    design (the sink read-back is the source of truth for what exists).
    ``extra_aggs`` ride along in the same aggregate (the batch job's
    duplicate-id counts), so a caller needs no second pass.
    """
    return (
        extracted.groupBy("bucket")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok_count"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("failure_count"),
            F.sum(F.coalesce(F.col("byte_count"), F.lit(0))).alias("byte_count"),
            *extra_aggs,
        )
        .withColumn("extractor_version", F.lit(extractor_version))
        .withColumn("run_id", F.lit(run_id))
    )


def completed_buckets(lineage: DataFrame | None, extractor_version: str) -> DataFrame | None:
    if lineage is None:
        return None
    return (
        lineage.filter(F.col("extractor_version") == extractor_version)
        .select("bucket").distinct()
    )


def skip_completed(docs_with_bucket: DataFrame,
                   completed: DataFrame | None) -> DataFrame:
    """Resume filter as a plan: drop documents in already-completed
    buckets.  (The batch jobs collect the set and filter with ``isin``
    instead — plans/pipeline.py.)

    The completed-bucket set is tiny (≤ n_buckets rows) — broadcast hint
    guarantees no shuffle of the 100 TB side.
    """
    if completed is None:
        return docs_with_bucket
    return docs_with_bucket.join(F.broadcast(completed), on="bucket", how="left_anti")


def salted_agg(df: DataFrame, group_col: str, agg_exprs: dict,
               n_salts: int = 16) -> DataFrame:
    """Two-stage aggregation for skewed group keys.

    Stage 1 groups by (key, salt) — the hot key's rows spread over
    ``n_salts`` reducers; stage 2 combines the ``n_salts`` partials per key.
    ``agg_exprs`` maps output column name -> ("sum"|"count"|"max"|"min",
    input column). Only decomposable aggregates are supported (that is the
    point of salting).
    """
    first = []
    second = []
    for out, (fn, col) in agg_exprs.items():
        if fn == "count":
            first.append(F.count(col if col != "*" else "*").alias(out))
            second.append(F.sum(out).alias(out))
        elif fn == "sum":
            first.append(F.sum(col).alias(out))
            second.append(F.sum(out).alias(out))
        elif fn == "max":
            first.append(F.max(col).alias(out))
            second.append(F.max(out).alias(out))
        elif fn == "min":
            first.append(F.min(col).alias(out))
            second.append(F.min(out).alias(out))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                                           F.lit(n_salts)))
    partial = salted.groupBy(group_col, "_salt").agg(*first)
    return partial.groupBy(group_col).agg(*second)
