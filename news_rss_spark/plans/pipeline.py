"""The flagship batch job: the reference daemon's steady-state loop
(src/feeds/rss_feeds/mod.rs:71-155) as one declarative Spark plan.

    read documents (doc_id, spans)                 # S1: feed fetch -> pre-landed table scan
      -> with_bucket                               # stable logical partitioning
      -> bucket NOT IN completed (ledger, ≤ n_buckets rows)  # lineage checkpoint (engine-new)
      -> [hash-repartition by bucket]              # only if the scan under-splits
      -> mapInArrow extract + in-kernel dedup      # P1-P9 + L1-L3 + D1 within-run
      -> write extracted spans partitionBy(bucket), dynamic overwrite  # S4/S5 publish
      -> one groupBy(bucket) over the landed sink  # D3 ledger + duplicate-id guard

Cross-run dedup (D1) needs no join here: completed buckets never reach the
kernel, and every other bucket is rewritten wholesale, so no extracted id
can already be live in the sink.  All relational steps are stock
Catalyst-optimized DataFrame ops; the only Python is the Arrow-batched
kernel.  The sink is partitioned parquet written by dynamic partition
overwrite (``operators.lineage.overwrite_partitions``); an Iceberg sink
would be a change to that write helper.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_rss_spark import EXTRACTOR_VERSION
from news_rss_spark.operators.dedup import dedup_within_run
from news_rss_spark.operators.extraction import extract_articles
from news_rss_spark.operators.lineage import (
    DEFAULT_N_BUCKETS,
    LINEAGE_DDL,
    lineage_rows,
    overwrite_partitions,
    read_written,
    with_bucket,
)


@dataclass
class JobResult:
    published_count: int
    skipped_buckets: int
    lineage_buckets: int
    gc_staging_dirs: int = 0


def _gc_orphan_staging(spark: SparkSession, sink_path: str) -> int:
    """Remove orphaned write-staging dirs a killed predecessor left under
    the sink (``.spark-staging-<uuid>`` from dynamic partition overwrite,
    ``_temporary`` from the classic FileOutputCommitter).

    A SIGKILL between staging and commit strands the full staged output —
    at 100 TB that is an entire extra copy of the sink per crash, and it
    sits INSIDE the sink path where nothing else ever reclaims it
    (measured: a killed 50M-doc run left 30 GB of staging that OOM'd the
    resume until cleared).  The lineage protocol is single-writer-per-sink
    (concurrent runs would race the ledger append), so any staging dir
    present before the job's own write belongs to a dead run by definition.

    Scheme-agnostic via the Hadoop FileSystem API — works for file://,
    hdfs:// and s3a:// sinks alike; Spark's own scans never read dot/
    underscore-prefixed dirs, so this is purely a storage reclaim.  A
    missing sink is a first run (nothing to reclaim); any other failure to
    resolve, list or delete raises, before the job writes anything.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(sink_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    removed = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(".spark-staging-") or name == "_temporary":
            fs.delete(st.getPath(), True)
            removed += 1
    return removed


def _completed(spark: SparkSession, lineage_path: str,
               extractor_version: str) -> dict[int, set[int]]:
    """Buckets the ledger records as done by ``extractor_version``, each
    with the ``doc_count``s its rows recorded.  An unwritten ledger means
    nothing is done (first run); any other read failure propagates, since
    swallowing it would recompute every bucket and append to a ledger that
    still cannot be read."""
    ledger = read_written(spark.read.schema(LINEAGE_DDL), lineage_path)
    if ledger is None:
        return {}
    done: dict[int, set[int]] = {}
    # one small collect (≤ n_buckets rows per extractor version), no shuffle
    for r in (ledger.filter(F.col("extractor_version") == extractor_version)
                    .select("bucket", "doc_count").collect()):
        done.setdefault(r["bucket"], set()).add(r["doc_count"])
    return done


def _bucketed_input(spark: SparkSession, df: DataFrame, n_buckets: int,
                    done: dict[int, set[int]], only_buckets: list[int] | None,
                    clustered: bool) -> tuple[DataFrame, bool]:
    """Assign buckets, drop completed (and out-of-wave) buckets, and spread
    an under-split scan over ``bucket``.  Returns the pending rows and
    whether equal buckets now share a partition."""
    df = with_bucket(df, n_buckets=n_buckets)
    if only_buckets is not None:
        # wave-scoped invocation: a driver loop that chunks the bucket space
        # across separate spark-submit runs bounds how much progress one
        # crash can lose to a single wave (the ledger lands per run)
        df = df.filter(F.col("bucket").isin([int(b) for b in only_buckets]))
    if done:
        # ≤ n_buckets literals: a plain filter, no join, no extra job
        df = df.filter(~F.col("bucket").isin(sorted(done)))

    # kernel-stage parallelism guard + write clustering in one exchange:
    # news text compresses ~10x, so a default 128 MB scan split holds >1 GB
    # of raw HTML and the planner may emit far fewer splits than the cluster
    # has cores — fine for a scan, fatal for a CPU-heavy Arrow kernel stage.
    # Hash-partitioning on bucket keeps equal buckets (hence equal doc_ids)
    # together, which makes the in-kernel dedup global and bounds the
    # partitioned write to ~1 file per bucket (a range partitioner would do
    # the same but costs an extra full sampling pass over the input).  At
    # 100 TB the scan yields ~800k splits and the table layout should
    # provide the clustering instead (pass input_clustered_by_bucket=True).
    width = max(spark.sparkContext.defaultParallelism * 2, n_buckets)
    if not clustered and df.rdd.getNumPartitions() < width:
        return df.repartition(width, "bucket"), True
    return df, clustered


def _publish(spark: SparkSession, rows: DataFrame, sink_path: str,
             lineage_path: str, extractor_version: str, run_id: str,
             done: dict[int, set[int]]) -> JobResult:
    """The bucketed write plus the ledger append.

    Orphaned staging dirs of a dead run are reclaimed first.  ``rows``
    (carrying ``bucket``) replace their buckets in the sink via
    dynamic partition overwrite; then ONE aggregate over a read-back of
    the landed ``(bucket, status, byte_count, id)`` yields the ledger
    rows — the ledger can never claim more than the sink holds (a crash
    between write and append leaves an un-recorded bucket that the next
    run idempotently rewrites).

    The same aggregate counts non-null ids and distinct ids per bucket,
    and the job raises before the ledger append when a newly written
    bucket holds a duplicate id (null ids are legitimate repeats:
    missing-guid skip rows), or when a completed bucket's landed
    ``doc_count`` is none of the counts its ledger rows recorded.
    """
    gc_staging = _gc_orphan_staging(spark, sink_path)
    overwrite_partitions(rows, "bucket", sink_path)

    # the schema just written: the read-back runs no schema-inference job
    landed = (spark.read.schema(rows.schema).parquet(sink_path)
              .select("bucket", "status", "byte_count", "id"))
    lin = lineage_rows(landed, extractor_version, run_id,
                       F.count("id").alias("id_count"),
                       F.countDistinct("id").alias("id_distinct"))
    # the collected aggregate (≤ n_buckets rows) carries ok_count per
    # bucket, so the published total needs no second sink scan.  Only
    # buckets NOT already recorded get appended — the read-back sees the
    # whole sink, including completed buckets.
    lin_rows = lin.collect()
    new_rows = [r for r in lin_rows if r["bucket"] not in done]
    dup_buckets = sorted(r["bucket"] for r in new_rows
                         if r["id_count"] != r["id_distinct"])
    doc_counts = {r["bucket"]: r["doc_count"] for r in lin_rows}
    torn = sorted(b for b, recorded in done.items()
                  if doc_counts.get(b, 0) not in recorded)
    if torn:
        # Spark skips a zero-length file without a word, so an emptied or
        # removed file of a completed bucket reads as missing rows, and
        # the resume skip would never rewrite the bucket
        raise RuntimeError(
            f"completed sink buckets {torn} hold a row count their ledger"
            " rows never recorded: a sink file was emptied, cut or removed;"
            " rerun with resume=False to rewrite every bucket")
    if dup_buckets:
        # the clustered-layout promise (equal ids share one scan split, so
        # partition-local dedup is globally correct) is trusted, not
        # planned; a violated layout surfaces here.  Raising before the
        # append leaves these buckets un-recorded, so the next run rewrites
        # them.
        raise RuntimeError(
            f"duplicate ids landed in sink buckets {dup_buckets}: the"
            " input layout violated the clustering promise; rerun with"
            " input_clustered_by_bucket=False")
    if new_rows:
        (spark.createDataFrame(new_rows, schema=lin.schema)
              .drop("id_count", "id_distinct")
              .coalesce(1).write.mode("append").parquet(lineage_path))
    return JobResult(
        published_count=int(sum(r["ok_count"] for r in lin_rows)),
        skipped_buckets=len(done),
        lineage_buckets=len(new_rows),
        gc_staging_dirs=gc_staging,
    )


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    sink_path: str,
    lineage_path: str,
    now_utc: datetime,
    run_id: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    resume: bool = True,
    extractor_version: str = EXTRACTOR_VERSION,
    input_clustered_by_bucket: bool = False,
    only_buckets: list[int] | None = None,
) -> JobResult:
    """Run (or resume) the extraction pipeline over ``docs``.

    Idempotent: re-running with the same inputs produces a byte-identical
    sink; a partially-completed previous run is finished by processing only
    buckets absent from the lineage table.

    The sink holds the FULL extracted rows — ordered spans, article fields,
    status, byte counts — partitioned by the resume bucket (north rule:
    "writes extracted spans plus per-partition lineage rows").  The
    reference's 6-column ``news`` table is the ``to_publish_news``
    projection over it, not a second copy.

    Single-pass plan (shuffle accounting at 100 TB):
    - when the input table is laid out clustered by ``bucket =
      pmod(xxhash64(doc_id), n_buckets)`` (Iceberg ``bucket(doc_id)``
      partition transform), the whole job is shuffle-free: narrow kernel
      map -> partitioned write, with dedup folded into the kernel pass
      (equal ids share a partition by layout; a violated layout raises
      before the ledger append);
    - otherwise ONE hash-repartition on ``bucket`` both fixes kernel-stage
      parallelism (compressed text under-splits the scan) and clusters the
      write (1 file per bucket instead of tasks x buckets);
    - lineage derives from a column-pruned read-back of the written sink
      (bucket/status/byte_count/id only) — no persist of the heavy
      extraction output, the kernel runs exactly once.
    """
    done = _completed(spark, lineage_path, extractor_version) if resume else {}
    docs_b, clustered = _bucketed_input(spark, docs, n_buckets, done,
                                        only_buckets, input_clustered_by_bucket)

    extracted = extract_articles(docs_b.select("doc_id", "spans"),
                                 now_utc=now_utc,
                                 dedup_within_partition=clustered)
    if not clustered:
        # equal ids may span partitions — fall back to a real exchange
        extracted = dedup_within_run(extracted, key="id")
    # mapInArrow replaces the schema, so re-derive the bucket from the
    # stable key (same hash expression — no join needed); skip rows carry
    # their doc_id as ``id`` so failures attribute to the right bucket.
    extracted = with_bucket(extracted, n_buckets=n_buckets, key="id")

    # the text column is byte-for-byte derivable from the text spans
    # (kernel joins them with "\n") — storing both would double the write
    # volume; readers re-attach it via extraction.with_text_from_spans
    return _publish(spark, extracted.drop("text"), sink_path, lineage_path,
                    extractor_version, run_id, done)


def run_feed_ingestion_job(
    spark: SparkSession,
    feeds: DataFrame,
    sink_path: str,
    lineage_path: str,
    now_utc: datetime,
    run_id: str,
    xml_col: str = "xml",
    feed_id_col: str = "feed_id",
    **job_kwargs,
) -> JobResult:
    """The complete reference user story in one batch call: raw feed XML
    snapshots (feed_id, xml) -> item rows -> kernel documents -> the full
    idempotent extraction pipeline (resume, dedup, bucketed sink, lineage).

    A news-rss user switches to this engine by landing their fetched feed
    bodies as a table and invoking this; everything downstream (S1-S7,
    P1-P10, D1-D3, L1-L6) is the same single-pass plan as
    ``run_extraction_job``.  The feed parse is one extra narrow mapInArrow
    stage fused ahead of the extraction kernel — no added shuffle.
    """
    from news_rss_spark.sources.rss_xml import documents_from_feeds

    docs = documents_from_feeds(feeds, xml_col=xml_col, id_col=feed_id_col)
    return run_extraction_job(spark, docs, sink_path, lineage_path,
                              now_utc, run_id, **job_kwargs)
