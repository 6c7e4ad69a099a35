"""Feed-XML -> item rows -> kernel documents, each as ONE vectorized stage.

This is the missing front door of the reference parity surface (S1): every
real user's first input is raw feed XML (``rss::Channel::read_from``,
src/feeds/rss_feeds/mod.rs:66-68).  The pre-landed span documents the rest
of the engine consumes are produced HERE, from actual XML, not by a
fixture generator.

Plan shape at 100 TB: feeds arrive as a table (feed_id, xml) — one row per
fetched feed snapshot (a few KB-MB each).  Each function here is a single
mapInArrow pass (Arrow batches in/out, no per-row Python) that fans each
feed out to its items inside the batch — a narrow map, no shuffle, no
explode exchange:

- ``feed_items``: the parsed item rows (``ITEM_DDL``), one error row per
  failed or empty feed;
- ``documents_from_feeds`` / ``documents_from_feed_items``: the kernel
  documents (doc_id, spans), from feed XML or from item rows, built by the
  one span rule ``kernel.feedxml.item_spans``; the batch job feeds them to
  ``plans/pipeline.run_extraction_job``, which anti-joins them on
  ``doc_id`` before its kernel;
- ``extract_feeds``: parse, ``item_spans`` and the extraction kernel in
  the same pass (the reference's per-item loop, mod.rs:115-211), giving
  ``extract_articles``' rows; the poller runs it.
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_rss_spark.kernel.feedxml import item_spans, parse_feed_batch
from news_rss_spark.operators.extraction import (
    EXTRACTED_DDL,
    SPAN_TYPE,
    extracted_batch,
)

ITEM_ARROW_SCHEMA = pa.schema([
    ("feed_id", pa.string()),
    ("feed_format", pa.string()),
    ("channel_title", pa.string()),
    ("item_index", pa.int32()),
    ("guid", pa.string()),
    ("title", pa.string()),
    ("link", pa.string()),
    ("description", pa.string()),
    ("content", pa.string()),
    ("pub_date", pa.string()),
    ("itunes_image", pa.string()),
    ("media", pa.list_(pa.struct([("kind", pa.string()),
                                  ("url", pa.string())]))),
    ("parse_error", pa.string()),
])

ITEM_DDL = (
    "feed_id string, feed_format string, channel_title string, "
    "item_index int, guid string, title string, link string, "
    "description string, content string, pub_date string, "
    "itunes_image string, media array<struct<kind:string,url:string>>, "
    "parse_error string"
)

DOCS_DDL = ("doc_id string, "
            "spans array<struct<kind:string, text:string, media_ref:string,"
            " offset:int>>")


def _items_arrow_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        names = batch.schema.names
        feed_ids = batch.column(names.index("feed_id")).to_pylist()
        xmls = batch.column(names.index("xml")).to_pylist()
        rows: list[dict] = []
        for fid, parsed in zip(feed_ids, parse_feed_batch(xmls)):
            base = {
                "feed_id": fid,
                "feed_format": parsed["format"],
                "channel_title": parsed["channel_title"],
                "parse_error": parsed["error"],
            }
            if parsed["error"] is not None or not parsed["items"]:
                # one accountable row per failed/empty feed (log-and-skip
                # parity, mod.rs:86-89 — failures are data, not exceptions)
                rows.append({**base, "item_index": None, "guid": None,
                             "title": None, "link": None, "description": None,
                             "content": None, "pub_date": None,
                             "itunes_image": None, "media": None})
                continue
            for i, it in enumerate(parsed["items"]):
                rows.append({**base, "item_index": i, "guid": it["guid"],
                             "title": it["title"], "link": it["link"],
                             "description": it["description"],
                             "content": it["content"],
                             "pub_date": it["pub_date"],
                             "itunes_image": it["itunes_image"],
                             "media": it["media"]})
        arrays = [
            pa.array([r.get(f.name) for r in rows], type=f.type)
            for f in ITEM_ARROW_SCHEMA
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=ITEM_ARROW_SCHEMA)


def _feed_documents(
    batch: pa.RecordBatch,
) -> tuple[list[str | None], list[list[dict]]]:
    """The doc ids and spans of the items of one Arrow batch of feeds (a
    failed feed has no items)."""
    doc_ids, spans = [], []
    for parsed in parse_feed_batch(batch.column("xml").to_pylist()):
        for item in parsed["items"]:
            doc_ids.append(item["guid"])
            spans.append(item_spans(item))
    return doc_ids, spans


def _documents_batch(doc_ids: list[str | None],
                     spans: list[list[dict]]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids, pa.string()), pa.array(spans, SPAN_TYPE)],
        names=["doc_id", "spans"])


def feed_items(feeds: DataFrame) -> DataFrame:
    """(feed_id, xml) -> one row per feed item (or one error row per
    unparseable feed).  Single Arrow pass; the item fan-out happens inside
    the batch, so no explode exchange appears in the plan."""
    pruned = feeds.select(F.col("feed_id").cast("string").alias("feed_id"),
                          "xml")
    return pruned.mapInArrow(_items_arrow_batches, ITEM_DDL)


def documents_from_feed_items(items: DataFrame) -> DataFrame:
    """Item rows (``ITEM_DDL``) -> the kernel input shape (doc_id, spans)
    by ``item_spans``; error rows never become documents."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ok = [r for r in batch.to_pylist()
                  if r["parse_error"] is None and r["item_index"] is not None]
            yield _documents_batch([r["guid"] for r in ok],
                                   [item_spans(r) for r in ok])

    return items.mapInArrow(fn, DOCS_DDL)


def documents_from_feeds(feeds: DataFrame) -> DataFrame:
    """Raw feed XML straight to kernel documents (S1 end-to-end)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _documents_batch(*_feed_documents(batch))

    return feeds.select("xml").mapInArrow(fn, DOCS_DDL)


def extract_feeds(feeds: DataFrame, now_utc: datetime) -> DataFrame:
    """Raw feed XML straight to extracted article rows: the rows of
    ``extract_articles(documents_from_feeds(feeds), now_utc)``, from one
    Python pass."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield extracted_batch(*_feed_documents(batch), now_utc)

    return feeds.select("xml").mapInArrow(fn, EXTRACTED_DDL)
