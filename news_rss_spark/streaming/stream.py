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
  src/cache/local/mod.rs:31-54) -> the batch job's rule
  (``operators.dedup``), applied inside :func:`exactly_once_news_sink`:
  ``dedup_within_run`` over the micro-batch, then a left-anti join against
  the sink's live ids — every batch's, its own included — whose
  ``first_seen`` lies within ``DEFAULT_TTL_SECS``.  ``first_seen`` is the
  pass's ``now_utc``, a required parameter written on every row, so the
  TTL runs from insertion like moka's ``time_to_live``
  (src/cache/local/mod.rs:32-34) and an undated or old article is
  suppressed like any other.  There is no watermark and no state store:
  the sink is the dedup state.  A ``dropDuplicatesWithinWatermark`` in
  front of the same sink was measured and rejected: it runs a no-data
  micro-batch after every data batch, and a poll tick took about 1.5x as
  long.
- The per-item loop (parse, ``extract_item``, mod.rs:115-211) is ONE
  ``mapInArrow`` pass, ``sources.rss_xml.extract_feeds``: feed XML in,
  extracted rows out, with the span rule (``kernel.feedxml.item_spans``)
  and the kernel the batch job runs.  A one-file micro-batch is one split,
  so the in-batch dedup runs in place without an exchange: a steady tick
  runs two Spark jobs, the sink-id broadcast and the write.

The sink is append-only, so a replay never loses or repeats a row.
Replaying batch ``n`` (a crash before the checkpoint commit) or a lost
checkpoint (every landed snapshot re-read as new batches) finds the ids
already live and appends only the ones that are not.

Scale note: the sink is flat parquet with ``batch_id`` an ordinary
column, so a pass lists one dir and starts no listing job.  Each pass
globs the sink's files and anti-joins its live ids, and every pass that
lands rows adds one file per write task, so the sink-id scan still grows
by a task per file with the sink's history.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_rss_spark.operators.dedup import (
    anti_join_seen,
    append_rows,
    dedup_within_run,
    sink_ids,
)
from news_rss_spark.operators.extraction import to_publish_news
from news_rss_spark.sources.rss_xml import extract_feeds

FEEDS_DDL = "feed_id string, xml string, fetched_at timestamp"


def exactly_once_news_sink(sink_path: str, now_utc: datetime):
    """foreachBatch sink with REAL exactly-once semantics (not just
    at-least-once append): each micro-batch appends, with its
    ``batch_id`` as a column, only the rows whose id is not live in the
    sink, so a batch REPLAYED after a crash (checkpoint not yet committed)
    appends nothing it already landed — the batch pipeline's rule.

    Dedup is first within the micro-batch (two snapshots of one feed
    landed before a pass share most guids), then a left-anti join against
    the live ids of every batch, its own included.  A micro-batch of one
    split is coalesced to one partition, which Spark then knows holds
    every row, so the in-batch dedup needs no exchange; with more splits
    the dedup exchanges rows by id.  ``now_utc`` is the pass's clock, the
    ``first_seen`` of every row it appends.  Raises before writing on a
    zero-length data file or a directory in the sink.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.rdd.getNumPartitions() == 1:
            batch_df = batch_df.coalesce(1)
        out = (dedup_within_run(batch_df, key="id")
               .withColumn("first_seen", F.lit(now_utc)))
        out = anti_join_seen(out, sink_ids(out, "id", sink_path), now_utc,
                             ts_col="first_seen")
        append_rows(out.withColumn("batch_id", F.lit(int(batch_id))),
                    sink_path)

    return fn


def run_streaming_feed_ingestion_exactly_once(
    spark: SparkSession,
    feeds_path: str,
    sink_path: str,
    checkpoint_path: str,
    now_utc: datetime,
    timeout_secs: int = 300,
) -> None:
    """One poller tick: an availableNow pass over the raw feed snapshots
    (``FEEDS_DDL`` rows) landed since the last pass -> parse and extract
    in one pass (``extract_feeds``) -> :func:`exactly_once_news_sink`.
    ``now_utc`` is the pass's clock: the kernel's date fallback and the
    ``first_seen`` the TTL runs from.  A pass still running after
    ``timeout_secs`` is stopped and raises ``TimeoutError``; the next pass
    resumes from the checkpoint."""
    feeds = spark.readStream.schema(FEEDS_DDL).parquet(feeds_path)
    news = to_publish_news(extract_feeds(feeds, now_utc))
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
