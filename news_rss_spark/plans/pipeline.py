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
kernel. Sink format is parquet here; on a real cluster the same plan
targets an Iceberg table (``writeTo(...).append()``) — parquet + dynamic
partition overwrite gives the same idempotent-replace semantics locally.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_rss_spark import EXTRACTOR_VERSION
from news_rss_spark.operators.dedup import dedup_within_run
from news_rss_spark.operators.extraction import extract_articles
from news_rss_spark.operators.lineage import (
    DEFAULT_N_BUCKETS,
    LINEAGE_DDL,
    lineage_rows,
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
    underscore-prefixed dirs, so this is purely a storage reclaim.
    """
    try:
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
    except Exception:
        # best-effort reclaim: a listing/permission hiccup must never fail
        # the job itself
        return 0


def _completed(spark: SparkSession, lineage_path: str,
               extractor_version: str) -> set[int]:
    """Buckets the ledger records as done by ``extractor_version``.

    Only a missing ledger path means "nothing completed" (first run); a
    corrupt file or an IO error propagates.  Swallowing it would silently
    recompute every bucket and append to a ledger that still cannot be
    read.  With an explicit schema an empty directory reads as no rows.
    """
    from pyspark.errors import AnalysisException

    try:
        ledger = spark.read.schema(LINEAGE_DDL).parquet(lineage_path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc.getCondition() or exc):
            raise
        return set()
    # one small collect (≤ n_buckets rows per extractor version), no shuffle
    return {r["bucket"] for r in
            ledger.filter(F.col("extractor_version") == extractor_version)
                  .select("bucket").collect()}


def _bucketed_input(spark: SparkSession, df: DataFrame, n_buckets: int,
                    done: set[int], only_buckets: list[int] | None = None,
                    clustered: bool = False) -> tuple[DataFrame, bool]:
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
             done: set[int],
             lineage_source: Callable[[DataFrame], DataFrame],
             id_col: str | None = None) -> JobResult:
    """The bucketed-write-plus-ledger step both batch jobs share.

    Orphaned staging dirs of a dead run are reclaimed first.  ``rows``
    (carrying ``bucket``) replace their buckets in the sink via
    dynamic partition overwrite; then ONE aggregate over a column-pruned
    read-back of what landed yields the ledger rows — the ledger can never
    claim more than the sink holds (a crash between write and append
    leaves an un-recorded bucket that the next run idempotently rewrites).
    ``lineage_source`` maps the landed sink to ``(bucket, status,
    byte_count[, id_col])``.

    With ``id_col``, the same aggregate counts non-null ids and distinct
    ids per bucket, and the job raises before the ledger append when a
    newly written bucket holds a duplicate id (null ids are legitimate
    repeats: missing-guid skip rows).
    """
    gc_staging = _gc_orphan_staging(spark, sink_path)
    # per-write options, NOT session confs, so the caller's session is left
    # as it was.  Dynamic overwrite is correctness-critical: a static one
    # would truncate every completed bucket out of the sink on resume.  lz4:
    # snappy-java's JNI path collapses under many writer threads (measured
    # 3.6x slower at local[32]); storage-optimized tables can compact to
    # zstd out-of-band.
    (rows.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .option("compression", "lz4")
         .partitionBy("bucket")
         .parquet(sink_path))

    # the schema just written: the read-back runs no schema-inference job
    landed = lineage_source(spark.read.schema(rows.schema).parquet(sink_path))
    id_aggs = ([F.count(id_col).alias("id_count"),
                F.countDistinct(id_col).alias("id_distinct")]
               if id_col else [])
    lin = lineage_rows(landed, extractor_version, run_id, *id_aggs)
    # the collected aggregate (≤ n_buckets rows) carries ok_count per
    # bucket, so the published total needs no second sink scan.  Only
    # buckets NOT already recorded get appended — the read-back sees the
    # whole sink, including completed buckets.
    lin_rows = lin.collect()
    new_rows = [r for r in lin_rows if r["bucket"] not in done]
    dup_buckets = sorted(r["bucket"] for r in new_rows
                         if id_col and r["id_count"] != r["id_distinct"])
    if dup_buckets:
        # the clustered-layout promise (equal ids share one scan split, so
        # partition-local dedup is globally correct) is trusted, not
        # planned; a violated layout surfaces here.  Raising before the
        # append leaves these buckets un-recorded, so the next run rewrites
        # them.
        raise RuntimeError(
            f"duplicate {id_col}s landed in sink buckets {dup_buckets}: the"
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
    done = _completed(spark, lineage_path, extractor_version) if resume else set()
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
    return _publish(
        spark, extracted.drop("text"), sink_path, lineage_path,
        extractor_version, run_id, done,
        lambda sink: sink.select("bucket", "status", "byte_count", "id"),
        id_col="id")


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


def run_warc_extraction_job(
    spark: SparkSession,
    warc_files: DataFrame,
    sink_path: str,
    lineage_path: str,
    now_utc: datetime,
    run_id: str,
    content_col: str = "content",
    file_id_col: str = "file_id",
    **job_kwargs,
) -> JobResult:
    """The web-crawl user story in one batch call: WARC archives
    (file_id, content bytes) -> HTTP 200 HTML records -> kernel documents
    -> the full idempotent extraction pipeline (resume, dedup, bucketed
    sink, lineage).

    Same single-pass plan as ``run_extraction_job``; the WARC record
    parse (kernel/warcx.py — gzip members, Content-Length slicing) is one
    extra narrow mapInArrow stage fused ahead of the extraction kernel,
    no added shuffle.  Discovery and politeness live upstream:
    sources/sitemap.py::crawl_frontier -> operators/robots.py::
    filter_by_robots produce the fetch list whose responses land here.
    """
    from news_rss_spark.sources.warc import documents_from_warc

    docs = documents_from_warc(warc_files, content_col=content_col,
                               id_col=file_id_col)
    return run_extraction_job(spark, docs, sink_path, lineage_path,
                              now_utc, run_id, **job_kwargs)


def run_page_bundle_job(
    spark: SparkSession,
    pages: DataFrame,
    sink_path: str,
    lineage_path: str,
    run_id: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    resume: bool = True,
    extractor_version: str = EXTRACTOR_VERSION,
) -> JobResult:
    """The raw-page user story with the same idempotent checkpoint-resume
    protocol as the flagship job: pages ``(doc_id, html, base_url)`` ->
    ONE fused Arrow pass (body spans + head metadata + outlinks + table
    census — ``operators/full_page.py``) -> bucketed dynamic-overwrite
    sink + lineage ledger.

    Shares the flagship machinery: the ledger skip, orphan-staging GC, the
    parallelism/clustering exchange and the bucketed-write-plus-ledger
    step.  Differences, documented: the fused kernels never raise (empty
    products, not failures), so lineage ``status`` is constant ``'ok'``
    and ``byte_count`` records bytes EMITTED (span text) rather than the
    article path's extracted-byte accounting; duplicate doc_ids are the
    caller's contract (pre-deduped crawl tables), as re-running the pure
    kernel on repeats is wasteful but harmless.
    """
    from news_rss_spark.operators.full_page import extract_page_bundle_df

    done = _completed(spark, lineage_path, extractor_version) if resume else set()
    pages_b, _ = _bucketed_input(spark, pages, n_buckets, done)

    bundle = extract_page_bundle_df(
        pages_b.select("doc_id", "html", "base_url"))
    bundle = with_bucket(bundle, n_buckets=n_buckets, key="doc_id")
    return _publish(
        spark, bundle, sink_path, lineage_path, extractor_version, run_id,
        done,
        lambda sink: sink.select(
            "bucket", F.lit("ok").alias("status"),
            F.octet_length(F.concat_ws(
                "\n", F.transform("spans", lambda s: s["text"])))
            .cast("bigint").alias("byte_count")))
