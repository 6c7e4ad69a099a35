"""Vectorized extraction stage: the reference's per-item ``extract_item``
loop (src/feeds/rss_feeds/mod.rs:115-211) as ONE ``mapInArrow`` stage.

Design notes (scale):

- ``mapInArrow`` is a narrow map — no shuffle.  Input parquet splits (128 MB
  default) flow straight through the Python worker pool; at 100 TB that is
  ~800k independent tasks with no coordination.
- The kernel is called once per Arrow record batch (bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``), never per row from the
  Spark API layer — the per-document Python loop lives inside the batch,
  which is the standard Arrow-UDF execution shape (same as applyInPandas).
- Column pruning: the stage reads exactly (doc_id, spans); Catalyst prunes
  everything else at the parquet scan.
- Failures never fail the task (reference log-and-continue, mod.rs:120-126):
  bad docs come back as ``status='skip'`` rows and are counted into lineage.
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_rss_spark.kernel.dates import EPOCH
from news_rss_spark.kernel.extract import extract_batch

SPAN_FIELDS = [
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
]
SPAN_TYPE = pa.list_(pa.struct(SPAN_FIELDS))

EXTRACTED_ARROW_SCHEMA = pa.schema([
    ("status", pa.string()),
    ("error", pa.string()),
    ("id", pa.string()),
    ("title", pa.string()),
    ("description", pa.string()),
    ("link", pa.string()),
    ("source", pa.string()),
    ("pub_date", pa.timestamp("us")),  # TimestampNTZ
    ("photo_path", pa.string()),
    ("text", pa.string()),
    ("spans", SPAN_TYPE),
    ("byte_count", pa.int64()),
])

EXTRACTED_DDL = (
    "status string, error string, id string, title string, description string, "
    "link string, source string, pub_date timestamp_ntz, photo_path string, "
    "text string, "
    "spans array<struct<kind:string, text:string, media_ref:string, offset:int>>, "
    "byte_count bigint"
)


def extracted_batch(doc_ids: list[str | None], spans: list[list[dict] | None],
                    now_utc: datetime) -> pa.RecordBatch:
    """The kernel's rows for one batch of documents, as one Arrow batch of
    ``EXTRACTED_ARROW_SCHEMA``."""
    results = extract_batch(doc_ids, spans, now_utc)
    arrays = [
        pa.array([r.get(f.name) for r in results], type=f.type)
        for f in EXTRACTED_ARROW_SCHEMA
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=EXTRACTED_ARROW_SCHEMA)


def _extract_arrow_batches(
    batches: Iterator[pa.RecordBatch], now_utc: datetime,
    dedup_within_partition: bool = False,
) -> Iterator[pa.RecordBatch]:
    seen: set | None = set() if dedup_within_partition else None
    for batch in batches:
        cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
        doc_ids = cols["doc_id"].to_pylist()
        spans = cols["spans"].to_pylist()
        if seen is not None:
            # None never enters the seen set: distinct missing-guid failures
            # must each surface as their own skip row, not collapse into one
            keep = [i for i, d in enumerate(doc_ids)
                    if d is None or not (d in seen or seen.add(d))]
            if len(keep) < len(doc_ids):
                doc_ids = [doc_ids[i] for i in keep]
                spans = [spans[i] for i in keep]
            if not doc_ids:
                continue
        yield extracted_batch(doc_ids, spans, now_utc)


def extract_articles(docs: DataFrame, now_utc: datetime = EPOCH,
                     dedup_within_partition: bool = False) -> DataFrame:
    """(doc_id, spans) -> extracted article rows (status/error included).

    ``now_utc`` pins the reference's ``Utc::now()`` date-parse fallback
    (mod.rs:189) to a job parameter for determinism.

    ``dedup_within_partition`` drops repeat doc_ids inside each partition
    (first occurrence wins) during the same Arrow pass — when the input is
    clustered so equal ids share a partition (e.g. partitioned on
    ``bucket = hash(doc_id)``), this IS a correct global dedup with zero
    extra shuffle, replacing a full-payload ``dropDuplicates`` exchange.
    """
    pruned = docs.select("doc_id", "spans")

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _extract_arrow_batches(it, now_utc, dedup_within_partition)

    return pruned.mapInArrow(fn, schema=EXTRACTED_DDL)


def ok_articles(extracted: DataFrame) -> DataFrame:
    """P2 predicate outcome: keep successfully extracted rows."""
    return extracted.filter(F.col("status") == "ok")


def text_from_spans_col():
    """JVM-side reconstruction of the article text from the ordered spans —
    exactly the kernel's ``"\\n".join(text-span texts)`` — so the sink need
    not store the text twice (spans already carry every text block)."""
    return F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        "\n",
    )


def with_text_from_spans(sink_df: DataFrame) -> DataFrame:
    """Re-attach the ``text`` column to rows read back from the sink."""
    return sink_df.withColumn(
        "text", F.when(F.col("status") == "ok", text_from_spans_col())
    )


def to_publish_news(extracted: DataFrame) -> DataFrame:
    """Project to the reference's PublishNews sink schema
    (publish/models.rs:8-15): id, message_url, datetime, source,
    photo_path, text."""
    return ok_articles(extracted).select(
        F.col("id"),
        F.col("link").alias("message_url"),
        F.col("pub_date").alias("datetime"),
        F.col("source"),
        F.col("photo_path"),
        F.col("text"),
    )
