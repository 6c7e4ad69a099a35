"""Sitemap parsing (sources/sitemap.py) and crawl-frontier composition:
urlset/sitemapindex, namespace tolerance, malformed-input contract, the
Spark entry stage, and the filter/dedup/anti-join pipeline."""

from corpus_lab.sources.sitemap import (
    crawl_frontier,
    parse_sitemap,
    sitemap_entries,
)

NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'

URLSET = f"""<urlset {NS}>
  <url><loc>https://ex.org/a</loc><lastmod>2025-01-05</lastmod>
       <changefreq>daily</changefreq><priority>0.8</priority></url>
  <url><loc>https://ex.org/b?x=1&amp;utm_source=s</loc></url>
  <url><lastmod>2025-01-01</lastmod></url>
</urlset>"""

INDEX = f"""<sitemapindex {NS}>
  <sitemap><loc>https://ex.org/sitemap1.xml</loc>
           <lastmod>2025-01-02</lastmod></sitemap>
</sitemapindex>"""


class TestParseSitemap:
    def test_urlset_fields_and_entity_unescape(self):
        got = parse_sitemap(URLSET)
        assert got["kind"] == "urlset" and got["error"] is None
        assert [e["loc"] for e in got["entries"]] == [
            "https://ex.org/a", "https://ex.org/b?x=1&utm_source=s"]
        assert got["entries"][0]["lastmod"] == "2025-01-05"
        assert got["entries"][0]["changefreq"] == "daily"
        assert got["entries"][0]["priority"] == "0.8"
        # loc-less <url> entries are skipped, not emitted half-empty

    def test_sitemapindex_and_no_namespace(self):
        got = parse_sitemap(INDEX)
        assert got["kind"] == "sitemapindex"
        assert got["entries"][0]["loc"] == "https://ex.org/sitemap1.xml"
        bare = parse_sitemap("<urlset><url><loc>u</loc></url></urlset>")
        assert bare["kind"] == "urlset" and len(bare["entries"]) == 1

    def test_malformed_never_raises(self):
        assert parse_sitemap(None)["error"] == "empty document"
        assert parse_sitemap("<urlset><loc>")["error"].startswith("xml")
        assert "not a sitemap root" in parse_sitemap("<rss/>")["error"]


class TestSitemapSpark:
    def test_entries_stage_and_error_rows(self, spark):
        df = spark.createDataFrame(
            [("s1", URLSET), ("s2", "<broken"), ("s3", INDEX)],
            "sitemap_id string, xml string")
        rows = sitemap_entries(df).collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r["sitemap_id"], []).append(r)
        assert [r["loc"] for r in by_id["s1"]] == [
            "https://ex.org/a", "https://ex.org/b?x=1&utm_source=s"]
        assert by_id["s2"][0]["parse_error"].startswith("xml")
        assert by_id["s3"][0]["kind"] == "sitemapindex"

    def test_frontier_filters_dedupes_and_skips_seen(self, spark):
        xml = f"""<urlset {NS}>
          <url><loc>HTTP://Ex.COM:80/a?utm_source=x&amp;b=1#f</loc></url>
          <url><loc>http://ex.com/a?b=1</loc></url>
          <url><loc>https://spam.example.com/p/1</loc></url>
          <url><loc>https://ok.example.org/seen</loc></url>
          <url><loc>https://ok.example.org/new</loc></url>
        </urlset>"""
        sitemaps = spark.createDataFrame([("s", xml)],
                                         "sitemap_id string, xml string")
        got = {r["canon_url"]: r["n_listings"]
               for r in crawl_frontier(sitemaps).collect()}
        # two spellings of the same URL collapse; spam domain dropped
        assert got == {"http://ex.com/a?b=1": 2,
                       "https://ok.example.org/seen": 1,
                       "https://ok.example.org/new": 1}
        seen = spark.createDataFrame([("https://ok.example.org/seen",)],
                                     "canon_url string")
        got2 = {r["canon_url"] for r in
                crawl_frontier(sitemaps, seen=seen).collect()}
        assert got2 == {"http://ex.com/a?b=1", "https://ok.example.org/new"}


class TestSitemapRobustness:
    def test_parse_never_raises_on_arbitrary_text(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.text(max_size=300))
        def check(xml):
            out = parse_sitemap(xml)
            assert isinstance(out["entries"], list)
            assert out["kind"] in (None, "urlset", "sitemapindex")

        check()
