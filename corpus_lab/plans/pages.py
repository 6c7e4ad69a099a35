"""Batch jobs over raw pages and web archives with the ingestion job's
idempotent checkpoint-resume protocol (news_rss_spark.plans.pipeline):
the ledger skip, orphan-staging GC and bucketed dynamic-overwrite sink.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_rss_spark import EXTRACTOR_VERSION
from news_rss_spark.operators.lineage import lineage_rows, with_bucket
from news_rss_spark.plans.pipeline import (
    DEFAULT_N_BUCKETS,
    JobResult,
    _bucketed_input,
    _completed,
    _gc_orphan_staging,
    run_extraction_job,
)


def _publish_bundle(spark: SparkSession, bundle: DataFrame, sink_path: str,
                    lineage_path: str, extractor_version: str, run_id: str,
                    done: set[int]) -> JobResult:
    """The ingestion job's bucketed write plus ledger append, for a page
    bundle sink: replace the written buckets by dynamic partition
    overwrite, then derive the ledger rows from ONE aggregate over the
    read-back, so the ledger never claims more than the sink holds.
    Lineage ``status`` is constant ``'ok'`` and ``byte_count`` is the
    emitted span text."""
    gc_staging = _gc_orphan_staging(spark, sink_path)
    (bundle.write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .option("compression", "lz4")
           .partitionBy("bucket")
           .parquet(sink_path))
    landed = spark.read.schema(bundle.schema).parquet(sink_path).select(
        "bucket", F.lit("ok").alias("status"),
        F.octet_length(F.concat_ws(
            "\n", F.transform("spans", lambda s: s["text"])))
        .cast("bigint").alias("byte_count"))
    lin = lineage_rows(landed, extractor_version, run_id)
    lin_rows = lin.collect()
    new_rows = [r for r in lin_rows if r["bucket"] not in done]
    if new_rows:
        (spark.createDataFrame(new_rows, schema=lin.schema)
              .coalesce(1).write.mode("append").parquet(lineage_path))
    return JobResult(
        published_count=int(sum(r["ok_count"] for r in lin_rows)),
        skipped_buckets=len(done),
        lineage_buckets=len(new_rows),
        gc_staging_dirs=gc_staging,
    )


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
    from corpus_lab.sources.warc import documents_from_warc

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
    from corpus_lab.operators.full_page import extract_page_bundle_df

    done = _completed(spark, lineage_path, extractor_version) if resume else set()
    pages_b, _ = _bucketed_input(spark, pages, n_buckets, done, None, False)

    bundle = extract_page_bundle_df(
        pages_b.select("doc_id", "html", "base_url"))
    bundle = with_bucket(bundle, n_buckets=n_buckets, key="doc_id")
    return _publish_bundle(spark, bundle, sink_path, lineage_path,
                           extractor_version, run_id, done)
