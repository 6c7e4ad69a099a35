"""Streaming analytics beside the ingestion poller
(news_rss_spark.streaming.stream): watermarked windowed counts, the
stream-stream enrichment join, and foreachBatch sinks that keep running
HyperLogLog, Count-Min and bottom-k quantile sketches.

Every sink writes each micro-batch into its own ``batch_id=<n>``
partition by dynamic overwrite, so a replayed batch replaces only its own
partition; the read side folds all partitions with one sketch-sized
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_windowed_counts(events: DataFrame, window: str = "1 hour",
                              watermark: str = "2 hours",
                              ts_col: str = "ts",
                              key_col: str = "event_type") -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream — the
    late-data story the brief names: with an append-mode sink a window
    emits exactly once, after the watermark passes its end, and events
    arriving later than ``watermark`` behind the max seen ``ts_col`` are
    dropped instead of resurrecting a finalized window (state for closed
    windows is evicted, so state size is bounded by watermark horizon, not
    stream history).  Delegates the aggregation shape to the batch
    operator (operators/events.py::windowed_counts) so batch and streaming
    share one definition."""
    from corpus_lab.operators.events import windowed_counts

    return windowed_counts(events.withWatermark(ts_col, watermark),
                           window, ts_col, key_col)


def incremental_hll_sink(register_path: str, group_col: str,
                         value_col: str, p: int = 8):
    """foreachBatch sink maintaining a running HyperLogLog register table
    — streaming distinct counts WITHOUT keeping distinct values in state.

    Each micro-batch writes ITS OWN registers into a ``batch_id=<n>``
    partition via dynamic partition overwrite — an idempotent-replace
    protocol: a replayed batch overwrites only its own partition with
    identical content; every other partition (the ingested history) is
    never touched, so there is no read-merge-overwrite window in which a
    crash can lose state, and no first-batch existence probe at all.
    Because register merge is a
    ``max``, the read side folds all partitions with one tiny
    aggregation (streaming_hll_estimate); a partition per batch costs
    <= |groups| * 2^p rows each — still sketch-sized, compact with the
    same groupBy when batch count ever matters.
    """
    from corpus_lab.operators.sketch import hll_registers

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, group_col, value_col, p)
        (regs.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", "lz4")
         .partitionBy("batch_id")
         .parquet(register_path))

    return fn


def streaming_hll_estimate(spark: SparkSession, register_path: str,
                           group_col: str = "source",
                           p: int = 8) -> DataFrame:
    """Fold the batch-partitioned register table into per-group
    estimates: max-merge across batches, then the batch estimator —
    equals the batch sketch over everything ingested so far exactly
    (same registers, same arithmetic)."""
    from corpus_lab.operators.sketch import hll_estimate

    regs = (spark.read.parquet(register_path)
            .groupBy(group_col, "bucket")
            .agg(F.max("register").alias("register")))
    return hll_estimate(regs, group_col, p)


def incremental_cms_sink(counter_path: str, value_col: str,
                         d: int = 4, w: int = 256):
    """foreachBatch sink maintaining a running Count-Min counter table —
    streaming frequency estimates WITHOUT keeping per-value counts in
    state (the heavy-hitter monitoring companion to the HLL sink).

    Identical crash-atomicity protocol to :func:`incremental_hll_sink`:
    each micro-batch writes ITS OWN d x w counters into a
    ``batch_id=<n>`` partition via dynamic partition overwrite, so a
    replayed batch idempotently replaces only its own partition and
    history is never rewritten.  CMS merge is a SUM (counter tables of
    two slices sum into the sketch of their union), so the read side
    folds all partitions with one sketch-sized aggregation
    (:func:`streaming_cms_estimate`).

    Recovery contract — one notch weaker than the HLL sink, because sum
    is not idempotent where max is: with the CHECKPOINT INTACT, a batch
    replayed after a mid-batch crash carries the same batch_id and data
    and overwrites its own partition — exactly-once.  After a FULL
    checkpoint wipe the file source may re-batch history under
    different boundaries, and summed partitions would double-count the
    overlap — wipe the counter table together with the checkpoint (the
    register-table rebuild is one linear pass; the HLL sink survives
    this case only because max-merge is duplicate-blind)."""
    from corpus_lab.operators.sketch import cms_counters

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        counters = cms_counters(batch_df, value_col, d, w)
        (counters.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", "lz4")
         .partitionBy("batch_id")
         .parquet(counter_path))

    return fn


def streaming_cms_estimate(spark: SparkSession, counter_path: str,
                           candidates: DataFrame, value_col: str,
                           d: int = 4, w: int = 256) -> DataFrame:
    """Fold the batch-partitioned counter table (sum across batches) and
    point-estimate the candidate values — equals the batch sketch over
    everything ingested so far exactly (counter sum is associative)."""
    from corpus_lab.operators.sketch import cms_estimate

    counters = (spark.read.parquet(counter_path)
                .groupBy("depth", "pos")
                .agg(F.sum("cnt").alias("cnt")))
    return cms_estimate(counters, candidates, value_col, d, w)


def streaming_enrichment_join(left: DataFrame, right: DataFrame,
                              key_col: str = "doc_id",
                              left_ts: str = "doc_ts",
                              right_ts: str = "media_ts",
                              max_lag: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-STREAM inner join — the enrichment shape the
    reference performs synchronously (article fetch -> photo fetch in
    one loop body, src/feeds/rss_feeds/mod.rs:194-211) decoupled into
    two independent streams: a ``right`` row (media fetch result)
    enriches the ``left`` row (article) with the same ``key_col`` whose
    event time it follows by at most ``max_lag``.

    Both sides carry watermarks and the join predicate bounds
    ``right_ts`` to ``[left_ts, left_ts + max_lag]`` — the two
    conditions Structured Streaming needs to know when a buffered left
    row can never match again, so join STATE is evicted at the
    watermark horizon instead of growing with stream history (the same
    bounded-state story as the TTL dedup and windowed counts).  A right
    row arriving later than the watermark behind the stream's max event
    time finds its left side already evicted and joins nothing — late
    media is dropped, never paired with a resurrected article.  Inner
    join: articles whose media never arrives produce no row here (the
    batch path's NULL-photo articles); append-mode sinks see each
    matched pair exactly once.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    return lw.join(rw, F.expr(
        f"l.{key_col} = r.{key_col} AND "
        f"r.{right_ts} >= l.{left_ts} AND "
        f"r.{right_ts} <= l.{left_ts} + interval {max_lag}"
    )).drop(rw[key_col])


DOCUMENTS_DDL = ("doc_id bigint, text string, lang string, "
                 "source string, n_chars bigint")


def run_streaming_hll(spark: SparkSession, input_path: str,
                      register_path: str, checkpoint_path: str,
                      group_col: str = "source", value_col: str = "text",
                      p: int = 8, schema: str = DOCUMENTS_DDL,
                      timeout_secs: int = 300) -> None:
    """availableNow tick: fold newly-landed documents into the running
    HLL register table.  Read the estimate any time with
    ``streaming_hll_estimate(spark, register_path, group_col, p)``."""
    docs = spark.readStream.schema(schema).parquet(input_path)
    q = (docs.writeStream
         .foreachBatch(incremental_hll_sink(register_path, group_col,
                                            value_col, p))
         .option("checkpointLocation", checkpoint_path)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(timeout_secs)
    if q.isActive:
        q.stop()


def run_streaming_quantile(spark: SparkSession, input_path: str,
                           sketch_path: str, checkpoint_path: str,
                           value_col: str = "n_chars",
                           id_col: str = "doc_id", k: int = 1024,
                           schema: str = DOCUMENTS_DDL,
                           timeout_secs: int = 300) -> None:
    """availableNow tick: fold newly-landed documents into the running
    bottom-k quantile sketch.  Read estimates any time with
    ``streaming_quantile_estimate(spark, sketch_path, k)``."""
    docs = spark.readStream.schema(schema).parquet(input_path)
    q = (docs.writeStream
         .foreachBatch(incremental_quantile_sink(sketch_path, value_col,
                                                 id_col, k))
         .option("checkpointLocation", checkpoint_path)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(timeout_secs)
    if q.isActive:
        q.stop()


def incremental_quantile_sink(sketch_path: str, value_col: str,
                              id_col: str = "doc_id", k: int = 1024):
    """foreachBatch sink maintaining a running bottom-k quantile sketch
    (operators/sketch.py::quantile_sample_sketch) — streaming corpus
    percentiles without keeping the corpus.

    Same crash-atomic protocol as incremental_hll_sink: each micro-batch
    lands ITS OWN bottom-k rows in a ``batch_id=<n>`` partition via
    dynamic overwrite (replay == identical overwrite of one partition;
    history untouched).  The merge rule is min-k — order-free, so the
    read side just re-limits the union (streaming_quantile_estimate):
    <= k rows per batch, compactable with the same re-limit whenever
    batch count matters."""
    from corpus_lab.operators.sketch import quantile_sample_sketch

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        sk = quantile_sample_sketch(batch_df, value_col, id_col, k)
        (sk.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", "lz4")
         .partitionBy("batch_id")
         .parquet(sketch_path))

    return fn


def streaming_quantile_estimate(spark: SparkSession, sketch_path: str,
                                k: int = 1024,
                                qs: tuple = (0.1, 0.25, 0.5, 0.75, 0.9,
                                             0.99)) -> DataFrame:
    """Fold the batch-partitioned sketch table into quantile estimates:
    union + re-limit (the min-k merge), then the pinned nearest-rank
    estimator — equals the batch sketch over everything ingested so far
    EXACTLY (the md5 draws don't care which batch a row arrived in)."""
    from corpus_lab.operators.sketch import sketch_quantile_estimates

    # DISTINCT before the re-limit: a replayed/overwritten batch (or a
    # wiped checkpoint re-ingesting history) overlaps older partitions,
    # and duplicate (h, v) rows would crowd real rows out of the bottom-k
    merged = (spark.read.parquet(sketch_path)
              .select("h", "v").distinct().orderBy("h", "v").limit(k))
    return sketch_quantile_estimates(merged, qs)
