"""OPML import kernel + operator tests (kernel/opmlx.py)."""

import pytest

from corpus_lab.kernel.opmlx import parse_opml

OPML = """<?xml version="1.0"?>
<opml version="2.0">
  <head><title>Subs</title></head>
  <body>
    <outline text="News">
      <outline text="World" title="World">
        <outline text="NDTV" title="NDTV" type="rss"
                 xmlUrl="https://feeds.example/ndtv.xml"
                 htmlUrl="https://ndtv.example"/>
      </outline>
      <outline title="Wire" xmlurl="https://feeds.example/wire.xml"/>
    </outline>
    <outline title="Lone" xmlUrl="https://feeds.example/lone.xml"/>
  </body>
</opml>
"""


class TestKernel:
    def test_category_paths_and_casings(self):
        rows = parse_opml(OPML)
        assert rows == [
            {"feed_url": "https://feeds.example/ndtv.xml",
             "title": "NDTV", "site_url": "https://ndtv.example",
             "category": "News/World"},
            {"feed_url": "https://feeds.example/wire.xml",
             "title": "Wire", "site_url": None, "category": "News"},
            {"feed_url": "https://feeds.example/lone.xml",
             "title": "Lone", "site_url": None, "category": None},
        ]

    def test_malformed_and_empty(self):
        assert parse_opml(None) == []
        assert parse_opml("") == []
        assert parse_opml("<opml><body><outline") == []
        assert parse_opml("<opml/>") == []
        assert parse_opml("<opml><body/></opml>") == []

    def test_text_attr_fallback(self):
        rows = parse_opml(
            '<opml><body><outline text="T Only" '
            'xmlUrl="u"/></body></opml>')
        assert rows[0]["title"] == "T Only"


class TestSparkOperator:
    def test_registry_rows(self, spark):
        from corpus_lab.sources.opml import registry_from_opml
        df = spark.createDataFrame([("u1", OPML), ("u2", "<bad")],
                                   "user_id string, opml string")
        got = {(r["user_id"], r["feed_url"]): (r["category"], r["title"])
               for r in registry_from_opml(df).collect()}
        assert len(got) == 3
        assert got[("u1", "https://feeds.example/ndtv.xml")] == (
            "News/World", "NDTV")
