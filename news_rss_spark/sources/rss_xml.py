"""Feed-XML -> item rows -> kernel documents, as ONE vectorized stage.

This is the missing front door of the reference parity surface (S1): every
real user's first input is raw feed XML (``rss::Channel::read_from``,
src/feeds/rss_feeds/mod.rs:66-68).  The pre-landed span documents the rest
of the engine consumes are produced HERE, from actual XML, not by a
fixture generator.

Plan shape at 100 TB: feeds arrive as a table (feed_id, xml) — one row per
fetched feed snapshot (a few KB-MB each).  ``feed_items`` runs the pure-
Python parser in a single mapInArrow pass (Arrow batches in/out, no
per-row Python), fanning each feed out to its items inside the batch —
a narrow map, no shuffle, no explode exchange.  ``documents_from_feed_
items`` is all JVM column expressions.  The composition plugs straight
into plans/pipeline.run_extraction_job.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_rss_spark.kernel.feedxml import parse_feed_batch

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


def feed_items(feeds: DataFrame) -> DataFrame:
    """(feed_id, xml) -> one row per feed item (or one error row per
    unparseable feed).  Single Arrow pass; the item fan-out happens inside
    the batch, so no explode exchange appears in the plan."""
    pruned = feeds.select(F.col("feed_id").cast("string").alias("feed_id"),
                          "xml")
    return pruned.mapInArrow(_items_arrow_batches, ITEM_DDL)


def _span(kind, text, ref, off):
    return F.struct(
        kind.alias("kind"), text.alias("text"),
        ref.alias("media_ref"), off.cast("int").alias("offset"),
    )


def documents_from_feed_items(items: DataFrame) -> DataFrame:
    """Item rows -> the kernel input shape (doc_id, spans) — all JVM
    column expressions (BASELINE input_hint; span kinds per
    kernel/extract.py:13-19):

    - meta span: JSON {title, link, description, pub_date_rfc822}
    - html span from <content:encoded> when present, else desc span from
      <description> (the kernel re-applies the reference's own 3-way
      fallback either way)
    - img span from <itunes:image href> (mod.rs:194-197)
    - img/video spans from Media-RSS refs, trailing, in feed order
    """
    ok = items.filter(F.col("parse_error").isNull()
                      & F.col("item_index").isNotNull())
    meta_json = F.to_json(F.struct(
        F.col("title"), F.col("link"), F.col("description"),
        F.col("pub_date").alias("pub_date_rfc822"),
    ))
    null_s = F.lit(None).cast("string")
    meta_span = _span(F.lit("meta"), meta_json, null_s, F.lit(0))
    content_span = F.when(
        F.length(F.coalesce(F.col("content"), F.lit(""))) > 0,
        _span(F.lit("html"), F.col("content"), null_s, F.lit(1)),
    ).otherwise(F.when(
        F.col("description").isNotNull(),
        _span(F.lit("desc"), F.col("description"), null_s, F.lit(1)),
    ))
    itunes_span = F.when(
        F.col("itunes_image").isNotNull(),
        _span(F.lit("img"), null_s, F.col("itunes_image"), F.lit(2)),
    )
    head = F.filter(F.array(meta_span, content_span, itunes_span),
                    lambda s: s["kind"].isNotNull())
    media_spans = F.transform(
        F.coalesce(F.col("media"), F.array()),
        lambda m, i: _span(
            F.when(m["kind"] == "video", F.lit("video")).otherwise(F.lit("img")),
            null_s, m["url"], F.lit(3) + i,
        ),
    )
    return ok.select(
        F.col("guid").alias("doc_id"),
        F.concat(head, media_spans).alias("spans"),
    )


def documents_from_feeds(feeds: DataFrame) -> DataFrame:
    """Raw feed XML straight to kernel documents (S1 end-to-end)."""
    return documents_from_feed_items(feed_items(feeds))
