"""S1 proper: raw feed XML -> items -> documents -> extraction, locked
against the reference's real 103 KB RSS snapshot (20 <item>s with CDATA
content:encoded) read from the read-only reference checkout."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

NDTV = "/root/reference/tests/resources/ndtv-world-news.xml"
NOW = datetime(2025, 1, 15, 12, 0, 0)

ATOM = """<feed xmlns="http://www.w3.org/2005/Atom"><title>T-Feed</title>
<entry><id>urn:a1</id><title>Atom One</title><summary>Sum one.</summary>
<link rel="alternate" href="http://x.example/a"/>
<published>2024-01-01T00:00:00Z</published>
<content type="html">&lt;p&gt;Hello &amp;amp; welcome&lt;/p&gt;</content></entry>
</feed>"""


ITUNES = """<rss version="2.0"
 xmlns:itunes="http://www.itunes.com/dtds/podcast-1.0.dtd">
<channel><title>Pod</title>
<item><guid>https://pod.example/e1</guid><title>Ep 1</title>
<description>A show about things.</description>
<itunes:image href="https://pod.example/art.jpg"/></item>
</channel></rss>"""

# the NDTV layout (CDATA content:encoded, trailing media:content), with a
# title holding non-ASCII text, quotes, a backslash and a tab, and items
# lacking a link, a body, a description or a title
NDTV_LIKE = """<?xml version="1.0" encoding="UTF-8"?>
<rss version="2.0" xmlns:content="http://purl.org/rss/1.0/modules/content/"
 xmlns:media="http://search.yahoo.com/mrss/"><channel>
<title>NDTV News-World-news</title>
<item>
<title><![CDATA[Cuba's "Grid" Fails — Ünïcode \\ back\ttab]]></title>
<link>https://www.ndtv.com/world-news/cuba-grid-6833795</link>
<guid>https://www.ndtv.com/world-news/cuba-grid-6833795</guid>
<description><![CDATA[Millions of Cubans awoke to a "third" outage.]]></description>
<content:encoded><![CDATA[<p>Millions of Cubans awoke &amp; waited.</p><p>Power returned — slowly.</p>]]></content:encoded>
<pubDate>Sun, 20 Oct 2024 21:34:25 +0530</pubDate>
<media:content url="https://c.ndtvimg.com/2024-10/cuba.jpg" type="image/jpeg"/>
</item>
<item>
<title>Desc only</title>
<guid>https://www.ndtv.com/world-news/desc-only-1</guid>
<description>Only a description here.</description>
<media:content url="https://c.ndtvimg.com/v/clip.mp4" type="video/mp4"/>
<media:content url="https://c.ndtvimg.com/a/pod.mp3" type="audio/mpeg"/>
</item>
<item>
<title>Content only</title>
<link>https://www.ndtv.com/world-news/content-only-2</link>
<guid>https://www.ndtv.com/world-news/content-only-2</guid>
<content:encoded><![CDATA[<p>Body without a description.</p>]]></content:encoded>
<pubDate>Mon, 21 Oct 2024 08:00:00 +0000</pubDate>
</item>
<item>
<title></title>
<guid>https://www.ndtv.com/world-news/empty-title-3</guid>
<description>Untitled.</description>
</item>
</channel></rss>"""

GUIDLESS = """<rss version="2.0"><channel><title>C</title>
<item><title>No guid</title><description>d</description></item>
</channel></rss>"""

# (feed_id, xml) inputs of the span-rule checks; the reference's NDTV
# snapshot joins them when the checkout is present
SHAPES = [("ndtv-like", NDTV_LIKE), ("atom", ATOM), ("itunes", ITUNES),
          ("malformed", "<rss><channel><title>x"), ("guidless", GUIDLESS)]
if os.path.exists(NDTV):
    SHAPES.append(("ndtv", open(NDTV, encoding="utf-8").read()))


def _feeds_df(spark, rows):
    return spark.createDataFrame(rows, "feed_id string, xml string")


@pytest.mark.skipif(not os.path.exists(NDTV), reason="reference absent")
class TestNdtvGolden:
    def test_item_fields(self, spark):
        from news_rss_spark.sources.rss_xml import feed_items
        xml = open(NDTV, encoding="utf-8").read()
        items = feed_items(_feeds_df(spark, [("ndtv", xml)])).collect()
        assert len(items) == 20
        assert all(r["channel_title"] == "NDTV News-World-news" for r in items)
        assert all(r["parse_error"] is None for r in items)
        first = next(r for r in items if r["item_index"] == 0)
        assert first["guid"].endswith("grid-failure-6833795")
        assert first["title"] == ("Millions Of Cubans Still Without Power "
                                  "After 3rd Grid Failure")
        assert first["link"] == first["guid"]  # permalink feed
        assert first["pub_date"] == "Sun, 20 Oct 2024 21:34:25 +0530"
        assert first["description"].startswith("Millions of Cubans awoke")
        assert first["content"].startswith("<p>Millions of Cubans awoke")
        assert [m["kind"] for m in first["media"]] == ["img"]
        assert first["media"][0]["url"].startswith("https://c.ndtvimg.com/")
        # every NDTV item carries content:encoded and one media:content
        assert all(r["content"] for r in items)
        assert all(len(r["media"]) == 1 for r in items)

    def test_end_to_end_extraction(self, spark):
        """XML -> documents -> kernel: all 20 items extract ok; the fast
        tag-strip path applies to content:encoded; feed-level media trail
        the text spans and supply photo_path."""
        from news_rss_spark.operators.extraction import extract_articles
        from news_rss_spark.sources.rss_xml import documents_from_feeds
        xml = open(NDTV, encoding="utf-8").read()
        docs = documents_from_feeds(_feeds_df(spark, [("ndtv", xml)]))
        assert docs.count() == 20
        out = extract_articles(docs, now_utc=NOW).collect()
        assert len(out) == 20
        assert all(r["status"] == "ok" for r in out)
        first = next(r for r in out
                     if r["id"].endswith("grid-failure-6833795"))
        assert first["source"] == "www.ndtv.com"
        assert str(first["pub_date"]) == "2024-10-20 16:04:25"  # +0530 -> UTC
        assert first["text"].startswith("Millions of Cubans awoke")
        kinds = [s["kind"] for s in first["spans"]]
        assert kinds[-1] == "img" and "text" in kinds
        assert first["photo_path"].startswith("https://c.ndtvimg.com/")

    def test_full_pipeline_over_feed_xml(self, spark, tmp_path):
        from news_rss_spark.plans.pipeline import run_extraction_job
        from news_rss_spark.sources.rss_xml import documents_from_feeds
        xml = open(NDTV, encoding="utf-8").read()
        docs = documents_from_feeds(_feeds_df(spark, [("ndtv", xml)]))
        res = run_extraction_job(spark, docs, str(tmp_path / "sink"),
                                 str(tmp_path / "lin"), NOW, "rss-e2e",
                                 n_buckets=4)
        assert res.published_count == 20


class TestFeedShapes:
    def test_atom(self, spark):
        from news_rss_spark.sources.rss_xml import feed_items
        rows = feed_items(_feeds_df(spark, [("a", ATOM)])).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["feed_format"] == "atom"
        assert r["channel_title"] == "T-Feed"
        assert r["guid"] == "urn:a1"
        assert r["link"] == "http://x.example/a"
        assert r["content"] == "<p>Hello &amp; welcome</p>"
        assert r["pub_date"] == "2024-01-01T00:00:00Z"

    def test_malformed_and_empty(self, spark):
        from news_rss_spark.sources.rss_xml import (
            documents_from_feed_items, feed_items)
        rows = feed_items(_feeds_df(spark, [
            ("bad", "<rss><channel><title>x"),
            ("empty", "   "),
            ("wrongroot", "<html><body/></html>"),
        ]))
        got = {r["feed_id"]: r["parse_error"] for r in rows.collect()}
        assert len(got) == 3 and all(v for v in got.values())
        # error rows never become documents
        assert documents_from_feed_items(rows).count() == 0

    def test_entity_and_guid_fallbacks(self, spark):
        """Entities unescape; a guid-less link-less item still parses; the
        kernel's link<-guid coalesce is downstream (P3)."""
        from news_rss_spark.sources.rss_xml import feed_items
        xml = """<rss version="2.0"><channel><title>C &amp; T</title>
        <item><guid>g1</guid><title>A &lt;b&gt; B</title>
        <description>d &amp; e</description></item>
        </channel></rss>"""
        r = feed_items(_feeds_df(spark, [("f", xml)])).collect()[0]
        assert r["channel_title"] == "C & T"
        assert r["title"] == "A <b> B"
        assert r["description"] == "d & e"
        assert r["link"] is None and r["content"] is None

    def test_itunes_image_to_photo_path(self, spark):
        from news_rss_spark.operators.extraction import extract_articles
        from news_rss_spark.sources.rss_xml import documents_from_feeds
        docs = documents_from_feeds(_feeds_df(spark, [("p", ITUNES)]))
        out = extract_articles(docs, now_utc=NOW).collect()[0]
        assert out["status"] == "ok"
        assert out["photo_path"] == "https://pod.example/art.jpg"
        assert out["text"] == "A show about things."  # desc fallback path

    def test_no_explode_exchange_in_plan(self, spark):
        """The item fan-out happens inside the Arrow batch: no generate/
        explode node and no shuffle between scan and items."""
        from news_rss_spark.sources.rss_xml import feed_items
        plan = feed_items(_feeds_df(spark, [("a", ATOM)])) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Generate" not in plan and "Exchange" not in plan


class TestSpanRule:
    """``item_spans`` is the one item -> kernel-span rule of batch and
    stream.  Its meta span must keep the bytes Spark's ``to_json`` wrote
    for it, since the kernel's ``byte_count`` counts input span text."""

    def test_item_spans_literal(self):
        from news_rss_spark.kernel.feedxml import item_spans, parse_feed
        items = parse_feed(NDTV_LIKE)["items"]
        meta = ('{"title":"Cuba\'s \\"Grid\\" Fails — Ünïcode \\\\ back\\ttab",'
                '"link":"https://www.ndtv.com/world-news/cuba-grid-6833795",'
                '"description":"Millions of Cubans awoke to a \\"third\\" outage.",'
                '"pub_date_rfc822":"Sun, 20 Oct 2024 21:34:25 +0530"}')
        assert item_spans(items[0]) == [
            {"kind": "meta", "text": meta, "media_ref": None, "offset": 0},
            {"kind": "html", "text": "<p>Millions of Cubans awoke &amp; "
             "waited.</p><p>Power returned — slowly.</p>",
             "media_ref": None, "offset": 1},
            {"kind": "img", "text": None,
             "media_ref": "https://c.ndtvimg.com/2024-10/cuba.jpg",
             "offset": 3},
        ]
        assert item_spans(items[1]) == [
            {"kind": "meta", "text": '{"title":"Desc only","description":'
             '"Only a description here."}', "media_ref": None, "offset": 0},
            {"kind": "desc", "text": "Only a description here.",
             "media_ref": None, "offset": 1},
            {"kind": "video", "text": None,
             "media_ref": "https://c.ndtvimg.com/v/clip.mp4", "offset": 3},
            {"kind": "img", "text": None,
             "media_ref": "https://c.ndtvimg.com/a/pod.mp3", "offset": 4},
        ]
        assert [s["text"] for s in item_spans(items[3])] == [
            '{"title":"","description":"Untitled."}', "Untitled."]
        itunes = parse_feed(ITUNES)["items"][0]
        assert item_spans(itunes)[2] == {
            "kind": "img", "text": None,
            "media_ref": "https://pod.example/art.jpg", "offset": 2}

    def test_meta_span_is_to_json_bytes(self, spark):
        """On every input shape, the meta span equals Spark's ``to_json``
        of the item's (title, link, description, pub_date_rfc822)."""
        from news_rss_spark.sources.rss_xml import (
            documents_from_feeds, feed_items)
        items = feed_items(_feeds_df(spark, SHAPES)).filter(
            F.col("parse_error").isNull() & F.col("item_index").isNotNull())
        want = items.select(F.to_json(F.struct(
            "title", "link", "description",
            F.col("pub_date").alias("pub_date_rfc822"))).alias("meta"))
        got = documents_from_feeds(_feeds_df(spark, SHAPES)).select(
            F.col("spans")[0]["text"].alias("meta"))
        assert len(want.collect()) >= 7
        assert sorted(r["meta"] for r in got.collect()) == \
            sorted(r["meta"] for r in want.collect())

    def test_extract_feeds_equals_two_pass_rows(self, spark):
        """The one-pass ``extract_feeds`` gives the rows of
        ``extract_articles(documents_from_feeds(...))``, column for column,
        skip rows included."""
        from news_rss_spark.operators.extraction import extract_articles
        from news_rss_spark.sources.rss_xml import (
            documents_from_feeds, extract_feeds)
        feeds = _feeds_df(spark, SHAPES)
        one = extract_feeds(feeds, NOW)
        two = extract_articles(documents_from_feeds(feeds), now_utc=NOW)
        assert one.schema == two.schema
        rows = sorted(map(repr, one.collect()))
        assert rows == sorted(map(repr, two.collect()))
        assert len(rows) >= 7 and "status='skip'" in "".join(rows)

    def test_byte_count_pinned(self, spark):
        """``byte_count`` of the NDTV-layout items, as the JVM span rule
        made them before the rule moved to Python."""
        from news_rss_spark.sources.rss_xml import extract_feeds
        rows = extract_feeds(_feeds_df(spark, [("n", NDTV_LIKE)]), NOW)
        got = {r["id"].rsplit("/", 1)[1]: (r["status"], r["byte_count"])
               for r in rows.collect()}
        assert got == {"cuba-grid-6833795": ("ok", 345),
                       "desc-only-1": ("ok", 149),
                       "content-only-2": ("skip", None),
                       "empty-title-3": ("skip", None)}
