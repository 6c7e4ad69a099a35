"""HTML head-metadata kernel + operator tests (kernel/metax.py)."""

import json

import pytest

from corpus_lab.kernel.metax import extract_metadata


def page(head: str, body: str = "") -> str:
    return f"<html><head>{head}</head><body>{body}</body></html>"


class TestPrecedence:
    def test_og_title_wins(self):
        m = extract_metadata(page(
            '<meta property="og:title" content="OG headline">'
            "<title>Title tag</title>", "<h1>H1 text</h1>"))
        assert m["headline"] == "OG headline"
        assert m["title"] == "Title tag"

    def test_jsonld_beats_title(self):
        ld = json.dumps({"@type": "NewsArticle", "headline": "LD headline"})
        m = extract_metadata(page(
            f'<script type="application/ld+json">{ld}</script>'
            "<title>Title tag</title>"))
        assert m["headline"] == "LD headline"

    def test_title_beats_h1(self):
        m = extract_metadata(page("<title>Title tag</title>",
                                  "<h1>H1 text</h1>"))
        assert m["headline"] == "Title tag"

    def test_h1_last_resort(self):
        m = extract_metadata(page("", "<p>x</p><h1>H1 <b>bold</b> text</h1>"))
        assert m["headline"] == "H1 bold text"

    def test_all_absent(self):
        m = extract_metadata(page("", "<p>no headline anywhere</p>"))
        assert m["headline"] is None

    def test_broken_jsonld_falls_through(self):
        m = extract_metadata(page(
            '<script type="application/ld+json">{"headline": "LD",</script>'
            "<title>Fallback</title>"))
        assert m["headline"] == "Fallback"

    def test_jsonld_graph_array(self):
        ld = json.dumps([{"@type": "WebSite"},
                         {"@type": "NewsArticle", "headline": "In array"}])
        m = extract_metadata(page(
            f'<script type="application/ld+json">{ld}</script>'))
        # first dict wins (no headline) — documented first-resolvable rule
        assert m["headline"] is None

    def test_published_chain(self):
        m = extract_metadata(page(
            '<meta property="article:published_time" content="2025-01-02">'
            '<meta name="date" content="1999-01-01">'))
        assert m["published"] == "2025-01-02"
        m = extract_metadata(page('<meta name="date" content="1999-01-01">'))
        assert m["published"] == "1999-01-01"
        ld = json.dumps({"datePublished": "2020-05-05T10:00:00Z"})
        m = extract_metadata(page(
            f'<script type="application/ld+json">{ld}</script>'))
        assert m["published"] == "2020-05-05T10:00:00Z"

    def test_canonical_chain(self):
        m = extract_metadata(page(
            '<link rel="canonical" href="https://a.example/x">'
            '<meta property="og:url" content="https://b.example/y">'))
        assert m["canonical_url"] == "https://a.example/x"
        m = extract_metadata(page(
            '<meta property="og:url" content="https://b.example/y">'))
        assert m["canonical_url"] == "https://b.example/y"

    def test_canonical_rel_token_set(self):
        # rel is a whitespace token list (same matching as feed/
        # pagination/hreflang links): multi-token and padded values hit
        m = extract_metadata(page(
            '<link rel="canonical alternate" href="https://a.example/m">'))
        assert m["canonical_url"] == "https://a.example/m"
        m = extract_metadata(page(
            '<link rel="  canonical " href="https://a.example/p">'))
        assert m["canonical_url"] == "https://a.example/p"
        m = extract_metadata(page(
            '<link rel="canonicalish" href="https://a.example/no">'))
        assert m["canonical_url"] is None


class TestParsingRobustness:
    def test_attribute_order_and_quotes(self):
        m = extract_metadata(page(
            "<META CONTENT='swapped &amp; single-quoted' "
            "PROPERTY='og:title'/>"))
        assert m["headline"] == "swapped & single-quoted"

    def test_first_occurrence_wins(self):
        m = extract_metadata(page(
            '<meta property="og:title" content="first">'
            '<meta property="og:title" content="second">'))
        assert m["headline"] == "first"

    def test_entity_and_ws_normalization(self):
        m = extract_metadata(page(
            "<title>A &amp;\n  B &#169; C</title>"))
        assert m["title"] == "A & B © C"

    def test_author_object_and_list(self):
        for author in ({"name": "Jo Doe"}, [{"x": 1}, {"name": "Jo Doe"}],
                       "Jo Doe", ["Jo Doe"]):
            ld = json.dumps({"author": author})
            m = extract_metadata(page(
                f'<script type="application/ld+json">{ld}</script>'))
            assert m["author"] == "Jo Doe", author

    def test_meta_author_beats_jsonld(self):
        ld = json.dumps({"author": {"name": "LD Author"}})
        m = extract_metadata(page(
            '<meta name="author" content="Meta Author">'
            f'<script type="application/ld+json">{ld}</script>'))
        assert m["author"] == "Meta Author"

    def test_meta_tag_count(self):
        m = extract_metadata(page(
            '<meta charset="utf-8"><meta name="viewport" content="w">'
            '<meta property="og:title" content="t">'))
        assert m["n_meta_tags"] == 3

    def test_none_and_empty(self):
        for html in (None, "", "plain text, no tags"):
            m = extract_metadata(html)
            assert m["headline"] is None and m["n_meta_tags"] == 0

    def test_quoted_gt_in_content(self):
        m = extract_metadata(page(
            '<meta property="og:title" content="a > b">'))
        assert m["headline"] == "a > b"

    def test_og_description_beats_meta(self):
        m = extract_metadata(page(
            '<meta name="description" content="meta desc">'
            '<meta property="og:description" content="og desc">'))
        assert m["description"] == "og desc"

    def test_nested_h1_markup_flattened(self):
        m = extract_metadata(page("", "<h1><span>Part</span> two</h1>"))
        assert m["headline"] == "Part two"

    def test_whitespace_only_title_falls_through(self):
        m = extract_metadata(page("<title>   </title>", "<h1>H1</h1>"))
        assert m["title"] is None and m["headline"] == "H1"


class TestSparkOperator:
    @pytest.fixture(scope="class")
    def result(self, spark):
        from corpus_lab.operators.metadata import extract_metadata_df
        rows = [
            ("a", page('<meta property="og:title" content="OG A">'
                       "<title>T A</title>")),
            ("b", page("<title>T B</title>")),
            ("c", None),
        ]
        df = spark.createDataFrame(rows, "doc_id string, html string")
        out = extract_metadata_df(df)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_rows_and_values(self, result):
        assert result["a"]["headline"] == "OG A"
        assert result["b"]["headline"] == "T B"
        assert result["c"]["headline"] is None
        assert result["a"]["n_meta_tags"] == 1
        assert result["b"]["n_meta_tags"] == 0


class TestFeedDiscovery:
    def test_kernel_cases(self):
        from corpus_lab.kernel.metax import discover_feeds
        html = page(
            '<link rel="alternate" type="application/rss+xml" '
            'href="/rss.xml" title="Main">'
            '<link REL="ALTERNATE" TYPE="application/atom+xml" '
            "HREF='/atom.xml'/>"
            '<link rel="alternate stylesheet" '
            'type="application/rss+xml" href="/alt.xml">'
            '<link rel="alternate" type="text/html" href="/mobile">'
            '<link rel="stylesheet" href="/style.css">')
        assert discover_feeds(html) == [
            ("/rss.xml", "rss", "Main"),
            ("/atom.xml", "atom", None),
            ("/alt.xml", "rss", None),
        ]
        assert discover_feeds(None) == []
        assert discover_feeds("<p>none</p>") == []

    def test_spark_operator(self, spark):
        from corpus_lab.operators.metadata import discover_feeds_df
        rows = [
            ("a", page('<link rel="alternate" '
                       'type="application/rss+xml" href="/f">')),
            ("b", page("")),
        ]
        df = spark.createDataFrame(rows, "doc_id string, html string")
        got = [(r["doc_id"], r["feed_url"], r["kind"])
               for r in discover_feeds_df(df).collect()]
        assert got == [("a", "/f", "rss")]


class TestRobotsDirectives:
    def test_kernel_cases(self):
        from corpus_lab.kernel.metax import robots_directives
        d = robots_directives(page(
            '<meta name="robots" content="NOINDEX, nofollow noai">'))
        assert d["noindex"] and d["nofollow"] and d["noai"]
        assert not d["noarchive"] and not d["noimageai"]
        d = robots_directives(page('<meta name="googlebot" content="none">'))
        assert d["noindex"] and d["nofollow"]
        d = robots_directives(page('<meta name="viewport" content="noindex">'))
        assert not d["noindex"]
        assert robots_directives(None) == {
            k: False for k in ("noindex", "nofollow", "noarchive",
                               "nosnippet", "noai", "noimageai")}

    def test_train_ok_gate(self, spark):
        from corpus_lab.operators.metadata import page_policy_df
        rows = [
            ("ok", page("")),
            ("ni", page('<meta name="robots" content="noindex">')),
            ("na", page('<meta name="robots" content="noai">')),
            ("nf", page('<meta name="robots" content="nofollow">')),
        ]
        df = spark.createDataFrame(rows, "doc_id string, html string")
        got = {r["doc_id"]: r["train_ok"]
               for r in page_policy_df(df).collect()}
        assert got == {"ok": True, "ni": False, "na": False, "nf": True}
