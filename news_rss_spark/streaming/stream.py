"""Structured-Streaming form of the reference daemon's steady-state loop
(SURVEY.md §7 M5): one poller with one dedup rule.

Reference semantics being mirrored:

- S3 interval poller (src/feeds/rss_feeds/mod.rs:71-92: infinite loop,
  ``tokio::time::interval`` tick -> fetch -> process) -> one
  ``trigger(availableNow=True)`` pass of
  :func:`run_streaming_feed_ingestion_exactly_once` processes every raw
  feed snapshot landed since the last checkpoint and stops; re-invoking it
  on a schedule IS the poller, with the checkpoint replacing the
  in-process loop state.
- D1/D2 TTL dedup cache (cacher.contains/set with ``expired_secs``,
  src/cache/local/mod.rs:31-54) -> the batch job's rule, applied inside
  :func:`exactly_once_news_sink`: ``dedup_within_run`` over the
  micro-batch, then a left-anti join against the ids of the sink's other
  ``batch_id`` partitions whose ``first_seen`` lies within
  ``DEFAULT_TTL_SECS``.  ``first_seen`` is the pass's ``now_utc``, written
  on every row, so the TTL runs from insertion like moka's
  ``time_to_live`` (src/cache/local/mod.rs:32-34) and an undated or old
  article is suppressed like any other.  There is no watermark and no
  state store: the sink is the dedup state.  A
  ``dropDuplicatesWithinWatermark`` in front of the same sink was
  measured and rejected: it runs a no-data micro-batch after every data
  batch, and a poll tick took about 1.5x as long.
- The per-item extraction (mod.rs:157-211) runs unchanged: ``mapInArrow``
  stages compose with streaming sources, so batch and streaming share ONE
  kernel code path.

A lost checkpoint is refused, never silently re-batched.  Each micro-batch
overwrites only its own ``batch_id=<n>`` partition, so replaying batch
``n`` (a crash before the checkpoint commit, or a wipe after the first
pass) rewrites identical rows.  A checkpoint that is behind its sink by
more than that restarts batch ids below partitions the sink already holds,
and the pass would overwrite history; the sink raises before it writes.
Recover by restoring the checkpoint, or by wiping the sink with it.

Scale note: each pass lists the whole sink and anti-joins the live ids,
so a pass's cost grows with the sink's history.
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_rss_spark.kernel.dates import EPOCH
from news_rss_spark.operators.dedup import (
    DEFAULT_TTL_SECS,
    anti_join_seen,
    dedup_within_run,
)
from news_rss_spark.operators.extraction import extract_articles, to_publish_news
from news_rss_spark.operators.lineage import overwrite_partitions, read_written
from news_rss_spark.sources.rss_xml import documents_from_feeds

FEEDS_DDL = "feed_id string, xml string, fetched_at timestamp"

_BATCH_PARTITION = re.compile(r"/batch_id=(\d+)/")


def _raise_on_empty_files(spark: SparkSession, sink_path: str) -> None:
    """Raise if a data file of the sink is zero-length.  Spark's scan skips
    such a file without a word, so its ids would drop out of the anti-join
    and the pass would publish them again.  One Hadoop FileSystem glob
    (any scheme), not a Spark job; hidden files (checksums, staging dirs)
    are not data."""
    pattern = spark._jvm.org.apache.hadoop.fs.Path(
        f"{sink_path}/batch_id=*/[!._]*")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.globStatus(pattern) or []:
        if st.getLen() == 0:
            raise RuntimeError(
                f"sink file {st.getPath().toString()} is empty: the sink was"
                " damaged; restore it, or wipe it with its checkpoint")


def exactly_once_news_sink(sink_path: str, now_utc: datetime = EPOCH):
    """foreachBatch sink with REAL exactly-once semantics (not just
    at-least-once append): each micro-batch lands in its own
    ``batch_id=<n>`` partition via dynamic partition overwrite, so a batch
    REPLAYED after a crash (checkpoint not yet committed) overwrites its
    own partition with identical content instead of appending duplicates —
    the same idempotent-replace protocol as the batch pipeline's bucket
    resume, keyed by batch id instead of bucket.

    Dedup is the batch job's rule: first within the micro-batch (two
    snapshots of one feed landed before a pass share most guids), then a
    left-anti join against every OTHER batch's ids (own partition excluded
    — on replay the batch's previous rows must not suppress themselves)
    with the TTL retention predicate on their ``first_seen``.  Raises
    before writing if the sink holds a partition above ``batch_id`` (the
    checkpoint is behind its sink; see the module docstring) or a
    zero-length data file.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        out = (dedup_within_run(batch_df, key="id")
               .withColumn("first_seen", F.lit(now_utc)))
        _raise_on_empty_files(spark, sink_path)
        # only nothing-written-yet may skip the dedup (first batch ever); a
        # corrupt sink, IO failure, or schema drift must FAIL the batch
        # loudly — a swallowed error here would silently append re-fetched
        # items as duplicates
        prev = read_written(spark.read, sink_path)
        if prev is not None:
            if "batch_id" not in prev.columns:
                raise ValueError(
                    f"sink at {sink_path} lacks the batch_id partition "
                    "column — not an exactly-once sink; refusing to write")
            # the file listing the read already holds: no Spark job
            newest = max((int(m.group(1)) for m in
                          map(_BATCH_PARTITION.search, prev.inputFiles())
                          if m), default=-1)
            if newest > batch_id:
                raise RuntimeError(
                    f"sink at {sink_path} holds batch_id={newest} but the "
                    f"checkpoint is at batch {batch_id}: the checkpoint is "
                    "behind its sink and this pass would overwrite history; "
                    "restore the checkpoint, or wipe the sink with it")
            seen = prev.filter(F.col("batch_id") != batch_id) \
                       .select("id", "first_seen")
            out = anti_join_seen(out, seen, now_utc, DEFAULT_TTL_SECS,
                                 key="id", ts_col="first_seen")
        # Reading and overwriting the same path in one plan is safe here:
        # the read is pruned to the other partitions, and the dynamic
        # overwrite replaces only batch_id=<n>.
        overwrite_partitions(out.withColumn("batch_id", F.lit(int(batch_id))),
                             "batch_id", sink_path)

    return fn


def run_streaming_feed_ingestion_exactly_once(
    spark: SparkSession,
    feeds_path: str,
    sink_path: str,
    checkpoint_path: str,
    now_utc: datetime = EPOCH,
    timeout_secs: int = 300,
) -> None:
    """One poller tick: an availableNow pass over the raw feed snapshots
    (``FEEDS_DDL`` rows) landed since the last pass -> parse -> extract ->
    :func:`exactly_once_news_sink`.  A pass still running after
    ``timeout_secs`` is stopped and raises ``TimeoutError``; the next pass
    resumes from the checkpoint."""
    feeds = spark.readStream.schema(FEEDS_DDL).parquet(feeds_path)
    news = to_publish_news(extract_articles(documents_from_feeds(feeds),
                                            now_utc=now_utc))
    q = (
        news.writeStream
        .foreachBatch(exactly_once_news_sink(sink_path, now_utc))
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_secs):
        q.stop()
        raise TimeoutError(
            f"poll pass over {feeds_path} did not finish within "
            f"{timeout_secs} s; stopped it")
