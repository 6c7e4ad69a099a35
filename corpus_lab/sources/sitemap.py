"""Sitemap XML parsing + crawl-frontier construction (engine-new; the
discovery stage upstream of the reference's fixed feed registry,
src/feeds/rss_feeds/mod.rs:119 — a real crawl finds its URLs via
sitemaps.org documents, then filters them before fetching).

Parser follows kernel/feedxml.py's conventions: pure Python ElementTree,
namespace-tolerant (any-or-no namespace on <urlset>/<sitemapindex>),
never raises — malformed XML yields an ``error`` row.  Spark stage is one
``mapInArrow`` pass (entry fan-out inside the batch, no explode exchange).

``crawl_frontier`` composes the engine's own URL operators on top: parse
-> canonicalize + C4-style filter (operators/url_ops.py, JVM exprs) ->
canonical-URL aggregation (one hash agg, map-side combine) -> optional
broadcast anti-join against already-crawled URLs.  At 100 TB of sitemap
snapshots every stage is a narrow map or a single partial-agg shuffle.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_rss_spark.kernel.feedxml import _split_tag, _text

ENTRY_ARROW_SCHEMA = pa.schema([
    ("sitemap_id", pa.string()),
    ("kind", pa.string()),          # urlset | sitemapindex
    ("entry_index", pa.int32()),
    ("loc", pa.string()),
    ("lastmod", pa.string()),
    ("changefreq", pa.string()),
    ("priority", pa.string()),
    ("parse_error", pa.string()),
])

ENTRY_DDL = (
    "sitemap_id string, kind string, entry_index int, loc string, "
    "lastmod string, changefreq string, priority string, parse_error string"
)


def parse_sitemap(xml: str | None) -> dict:
    """Sitemap document -> ``{kind, entries, error}``; entries carry
    loc/lastmod/changefreq/priority (urlset) or loc/lastmod (index)."""
    if not xml or not xml.strip():
        return {"kind": None, "entries": [], "error": "empty document"}
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as exc:
        return {"kind": None, "entries": [], "error": f"xml: {exc}"}
    _, kind = _split_tag(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        return {"kind": None, "entries": [],
                "error": f"not a sitemap root: <{kind}>"}
    child_tag = "url" if kind == "urlset" else "sitemap"
    entries = []
    for el in root:
        _, local = _split_tag(el.tag)
        if local != child_tag:
            continue
        fields = {}
        for sub in el:
            _, f = _split_tag(sub.tag)
            if f in ("loc", "lastmod", "changefreq", "priority") and f not in fields:
                fields[f] = _text(sub)
        if fields.get("loc"):
            entries.append({"loc": fields["loc"],
                            "lastmod": fields.get("lastmod"),
                            "changefreq": fields.get("changefreq"),
                            "priority": fields.get("priority")})
    return {"kind": kind, "entries": entries, "error": None}


def _entries_arrow_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        names = batch.schema.names
        ids = batch.column(names.index("sitemap_id")).to_pylist()
        xmls = batch.column(names.index("xml")).to_pylist()
        rows: list[dict] = []
        for sid, xml in zip(ids, xmls):
            parsed = parse_sitemap(xml)
            if parsed["error"] is not None or not parsed["entries"]:
                rows.append({"sitemap_id": sid, "kind": parsed["kind"],
                             "entry_index": None, "loc": None,
                             "lastmod": None, "changefreq": None,
                             "priority": None,
                             "parse_error": parsed["error"] or "no entries"})
                continue
            for i, en in enumerate(parsed["entries"]):
                rows.append({"sitemap_id": sid, "kind": parsed["kind"],
                             "entry_index": i, "parse_error": None, **en})
        arrays = [pa.array([r.get(f.name) for r in rows], type=f.type)
                  for f in ENTRY_ARROW_SCHEMA]
        yield pa.RecordBatch.from_arrays(arrays, schema=ENTRY_ARROW_SCHEMA)


def sitemap_entries(sitemaps: DataFrame, xml_col: str = "xml",
                    id_col: str = "sitemap_id") -> DataFrame:
    """(sitemap_id, xml) -> one row per <url>/<sitemap> entry (or one
    error row per unparseable document).  Single narrow Arrow pass."""
    pruned = sitemaps.select(F.col(id_col).cast("string").alias("sitemap_id"),
                             F.col(xml_col).alias("xml"))
    return pruned.mapInArrow(_entries_arrow_batches, ENTRY_DDL)


def crawl_frontier(sitemaps: DataFrame, seen: DataFrame | None = None,
                   xml_col: str = "xml",
                   id_col: str = "sitemap_id") -> DataFrame:
    """Sitemap snapshots -> deduplicated, filtered fetch frontier:
    (canon_url, n_listings) for every URL that survives canonicalization
    + the C4-style filter and (optionally) is not already in ``seen``
    (a frame with a ``canon_url`` column; broadcast anti-join — the seen
    set a scheduler holds is small relative to the crawl)."""
    from corpus_lab.operators.url_ops import filter_urls

    urls = (sitemap_entries(sitemaps, xml_col, id_col)
            .filter(F.col("parse_error").isNull()
                    & (F.col("kind") == "urlset"))
            .select(F.col("loc").alias("url")))
    kept = filter_urls(urls, keep_only=True)
    frontier = (kept.groupBy("canon_url")
                .agg(F.count("*").cast("long").alias("n_listings")))
    if seen is not None:
        frontier = frontier.join(
            F.broadcast(seen.select("canon_url").distinct()),
            "canon_url", "left_anti")
    return frontier
