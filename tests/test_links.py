"""Outlink/anchor-text kernel + operator tests (kernel/linkx.py)."""

import pytest

from corpus_lab.kernel.linkx import extract_links, resolve_url

BASE = "https://news.example.org/world/asia/story.html?p=1"


class TestResolveUrl:
    @pytest.mark.parametrize("href,want", [
        ("https://other.example/x", "https://other.example/x"),
        ("//cdn.example/lib.js", "https://cdn.example/lib.js"),
        ("/top/page", "https://news.example.org/top/page"),
        ("sibling.html", "https://news.example.org/world/asia/sibling.html"),
        ("../europe/a", "https://news.example.org/world/europe/a"),
        ("./same/b", "https://news.example.org/world/asia/same/b"),
        ("..", "https://news.example.org/world/"),
        # RFC 3986 §5.3: query-only refs keep the base PATH unchanged
        ("?q=2", "https://news.example.org/world/asia/story.html?q=2"),
        ("?page=2&s=d", "https://news.example.org/world/asia/story.html"
                        "?page=2&s=d"),
        ("x?a=1&b=2", "https://news.example.org/world/asia/x?a=1&b=2"),
        ("x#frag", "https://news.example.org/world/asia/x"),
        ("../../../../up", "https://news.example.org/up"),
    ])
    def test_resolution(self, href, want):
        assert resolve_url(BASE, href) == want

    @pytest.mark.parametrize("href", [
        "", "   ", "#section", "javascript:void(0)", "mailto:a@b.c",
        "data:text/plain,x", "tel:+15550100",
    ])
    def test_dropped(self, href):
        assert resolve_url(BASE, href) is None

    def test_bare_host_base(self):
        assert resolve_url("https://h.example", "x") == "https://h.example/x"

    def test_query_only_on_bare_host_base(self):
        # empty base path + query-only ref -> root path, ref query
        assert resolve_url("https://h.example", "?p=2") \
            == "https://h.example/?p=2"

    def test_scheme_relative_preserves_base_scheme(self):
        assert resolve_url("http://h.example/a", "//c.example/y") \
            == "http://c.example/y"


class TestExtractLinks:
    def test_basic_and_order(self):
        links = extract_links(
            '<p><a href="/a">First</a> and <a href="b.html">Second</a></p>',
            BASE)
        assert links == [
            ("https://news.example.org/a", "First", False),
            ("https://news.example.org/world/asia/b.html", "Second", False),
        ]

    def test_nofollow_rel_tokens(self):
        links = extract_links(
            '<a href="/a" rel="ugc NOFOLLOW">x</a>'
            '<a href="/b" rel="sponsored,nofollow">y</a>'
            '<a href="/c" rel="me">z</a>', BASE)
        assert [l[2] for l in links] == [True, True, False]

    def test_nested_markup_flattens(self):
        links = extract_links(
            '<a href="/a"><b>Bold</b> &amp; <i>ital</i></a>', BASE)
        assert links[0][1] == "Bold & ital"

    def test_new_anchor_autocloses(self):
        links = extract_links(
            '<a href="/a">one<a href="/b">two</a>', BASE)
        assert [(l[0].rsplit("/", 1)[1], l[1]) for l in links] == [
            ("a", "one"), ("b", "two")]

    def test_entity_in_href(self):
        links = extract_links('<a href="/s?a=1&amp;b=2">q</a>', BASE)
        assert links[0][0] == "https://news.example.org/s?a=1&b=2"

    def test_pseudo_links_skipped(self):
        links = extract_links(
            '<a href="#top">skip</a><a href="javascript:f()">skip</a>'
            '<a href="/keep">keep</a>', BASE)
        assert len(links) == 1 and links[0][1] == "keep"

    def test_anchor_without_href_ignored(self):
        assert extract_links('<a name="x">no href</a>', BASE) == []

    def test_empty_and_none(self):
        assert extract_links(None, BASE) == []
        assert extract_links("", BASE) == []

    def test_unclosed_trailing_anchor_emitted(self):
        links = extract_links('<p><a href="/a">dangling text', BASE)
        assert links == [("https://news.example.org/a", "dangling text",
                          False)]

    def test_image_only_anchor_empty_text(self):
        links = extract_links('<a href="/a"><img src="i.png"></a>', BASE)
        assert links[0][1] == ""


class TestSparkOperators:
    @pytest.fixture(scope="class")
    def links_df(self, spark):
        from corpus_lab.operators.links import extract_links_df
        rows = [
            ("d1", '<a href="/t">alpha</a><a href="/t" rel="nofollow">beta'
                   "</a>", "https://a.example/p"),
            ("d2", '<a href="https://a.example/t">alpha</a>',
             "https://b.example/"),
            ("d3", "<p>no links</p>", "https://c.example/"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, html string, base_url string")
        return extract_links_df(df)

    def test_link_rows(self, links_df):
        got = {(r["doc_id"], r["target_url"], r["anchor_text"], r["nofollow"])
               for r in links_df.collect()}
        assert got == {
            ("d1", "https://a.example/t", "alpha", False),
            ("d1", "https://a.example/t", "beta", True),
            ("d2", "https://a.example/t", "alpha", False),
        }

    def test_anchor_index(self, spark, links_df):
        from corpus_lab.operators.links import anchor_text_index
        idx = {r["target_url"]: r
               for r in anchor_text_index(links_df).collect()}
        row = idx["https://a.example/t"]
        assert row["n_links"] == 3 and row["n_docs"] == 2
        assert row["n_nofollow"] == 1
        assert row["anchors"] == ["alpha", "beta"]


class TestHreflang:
    def test_kernel(self):
        from corpus_lab.kernel.metax import hreflang_links
        html = ('<html><head>'
                '<link rel="alternate" hreflang="EN" href="/en">'
                '<link rel="alternate" hreflang="fr" href="/fr">'
                '<link rel="alternate" hreflang="x-default" href="/">'
                '<link rel="alternate" type="application/rss+xml" '
                'href="/feed">'
                '<link rel="canonical" href="/c"></head></html>')
        assert hreflang_links(html) == [
            ("en", "/en"), ("fr", "/fr"), ("x-default", "/")]
        assert hreflang_links(None) == []

    def test_clusters(self, spark):
        from corpus_lab.operators.links import hreflang_clusters
        # symmetric 2-variant cluster + a singleton self-referencing page
        rows = [
            ("https://s/en", "en", "https://s/en"),
            ("https://s/en", "fr", "https://s/fr"),
            ("https://s/fr", "en", "https://s/en"),
            ("https://s/fr", "fr", "https://s/fr"),
            ("https://t/solo", "de", "https://t/solo"),
        ]
        df = spark.createDataFrame(rows, "url string, lang string, "
                                         "href string")
        got = {r["url"]: (r["cluster_id"], r["n_langs"])
               for r in hreflang_clusters(df).collect()}
        assert got["https://s/en"] == ("https://s/en", 2)
        assert got["https://s/fr"] == ("https://s/en", 2)
        assert got["https://t/solo"] == ("https://t/solo", 1)
