"""Property-based robustness tests for the extraction kernel (hypothesis).

The kernel's contract (SURVEY.md §7 hard parts): never raise on arbitrary
byte soup (reference log-and-continue, mod.rs:120-126), emit only valid
span kinds, keep offsets cumulative over text spans, and keep the fast-path
tag strip in exact parity with the reference regex ``<[^>]*>`` on any
well-formed-tag input.
"""

import json
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from news_rss_spark.kernel.extract import extract_document
from news_rss_spark.kernel.htmlx import extract_page_spans, strip_tags

VALID_KINDS = {"text", "img", "video"}

# text fragments that cannot themselves open a tag context
plain = st.text(
    alphabet=st.characters(blacklist_characters="<>", blacklist_categories=("Cs",)),
    max_size=40,
)
tag = st.builds(
    lambda name, attr: f"<{name}{attr}>",
    st.sampled_from(["p", "div", "b", "i", "br", "img", "span", "/p", "/div"]),
    st.sampled_from(["", " a=1", ' src="x.jpg"', " unclosed='q", " <nested"]),
)
html_soup = st.lists(st.one_of(plain, tag), max_size=20).map("".join)
any_soup = st.text(max_size=200)


class TestKernelNeverRaises:
    @settings(max_examples=200, deadline=None)
    @given(any_soup, any_soup, any_soup)
    def test_arbitrary_spans_never_raise(self, a, b, c):
        meta = json.dumps({"title": "t", "description": "d", "link": "https://x/y"})
        spans = [
            {"kind": "meta", "text": meta, "media_ref": None, "offset": 0},
            {"kind": "html", "text": a, "media_ref": None, "offset": 1},
            {"kind": "page", "text": b, "media_ref": None, "offset": 2},
            {"kind": "img", "text": c, "media_ref": c or None, "offset": 3},
        ]
        out = extract_document("guid-1", spans, None)
        assert out["status"] in ("ok", "skip")
        if out["status"] == "ok":
            for s in out["spans"]:
                assert s["kind"] in VALID_KINDS

    @settings(max_examples=100, deadline=None)
    @given(any_soup)
    def test_garbage_meta_skips_not_raises(self, garbage):
        spans = [{"kind": "meta", "text": garbage, "media_ref": None, "offset": 0}]
        out = extract_document("guid-1", spans, None)
        assert out["status"] in ("ok", "skip")


class TestOffsets:
    @settings(max_examples=100, deadline=None)
    @given(html_soup)
    def test_offsets_are_cumulative_text_lengths(self, soup):
        meta = json.dumps({"title": "t", "description": "d", "link": "https://x/y"})
        spans = [
            {"kind": "meta", "text": meta, "media_ref": None, "offset": 0},
            {"kind": "html", "text": soup, "media_ref": None, "offset": 1},
        ]
        out = extract_document("guid-1", spans, None)
        assert out["status"] == "ok"
        expect = 0
        for s in out["spans"]:
            assert s["offset"] == expect
            if s["text"] is not None:
                expect += len(s["text"])


class TestTagStripRegexParity:
    @settings(max_examples=200, deadline=None)
    @given(html_soup)
    def test_matches_reference_regex(self, soup):
        """Fast-path strip == the reference regex <[^>]*> (mod.rs:213-217)
        on any input whose tags are well-formed enough for the regex."""
        assert strip_tags(soup) == re.sub(r"<[^>]*>", "", soup)


media_tag = st.sampled_from([
    '<video src="v.mp4">', '<video>', "</video>", '<source src="s.mp4">',
    '<img src="i.jpg">', "<img>", '<video src="v2.mp4"/>', "<figure>",
    "</figure>", "<nav>", "</nav>", "<p>", "</p>", "<div>", "</div>",
    '<div class="related">', '<article>', "</article>", "<a href=x>", "</a>",
    "<li>", "<td>",
])
media_soup = st.lists(st.one_of(plain, tag, media_tag), max_size=30).map("".join)


class TestStreamingDomParity:
    @settings(max_examples=400, deadline=None)
    @given(media_soup)
    def test_streaming_equals_dom_route(self, soup):
        """The fused streaming page extractor must be byte-identical to the
        readable DOM route on arbitrary tag soup — autoclose, mismatched
        end tags, prune subtrees, media capture, anonymous runs and all."""
        from news_rss_spark.kernel.htmlx import extract_page_spans_dom
        assert extract_page_spans(soup) == extract_page_spans_dom(soup)


class TestPageExtraction:
    @settings(max_examples=100, deadline=None)
    @given(html_soup)
    def test_page_spans_are_valid(self, soup):
        spans = extract_page_spans(f"<html><body>{soup}</body></html>")
        for kind, text, ref in spans:
            assert kind in VALID_KINDS
            if kind == "text":
                assert text
            else:
                assert ref


class TestFeedXmlRobustness:
    @settings(max_examples=200, deadline=None)
    @given(any_soup)
    def test_parse_feed_never_raises(self, soup):
        from news_rss_spark.kernel.feedxml import parse_feed
        out = parse_feed(soup)
        assert isinstance(out["items"], list)
        assert (out["error"] is None) or isinstance(out["error"], str)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
        max_size=30), min_size=1, max_size=5))
    def test_rss_item_field_roundtrip(self, titles):
        """Entity-escaped field values survive synth->parse exactly."""
        from xml.sax.saxutils import escape
        from news_rss_spark.kernel.feedxml import parse_feed
        items = "".join(
            f"<item><guid>g{i}</guid><title>{escape(t)}</title>"
            f"<description>d</description></item>"
            for i, t in enumerate(titles))
        feed = f"<rss version='2.0'><channel><title>c</title>{items}</channel></rss>"
        parsed = parse_feed(feed)
        assert parsed["error"] is None
        got = [it["title"] for it in parsed["items"]]
        # parser trims whole values (rss-crate trim_text semantics)
        assert got == [t.strip() for t in titles]


class TestPdfRobustness:
    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=300))
    def test_pdf_raises_only_valueerror(self, payload):
        from corpus_lab.kernel.pdfx import extract_pdf_text
        try:
            out = extract_pdf_text(b"%PDF-1.4\n" + payload)
            assert isinstance(out, str)
        except ValueError:
            pass  # the documented skip-row contract

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc"),
                               max_codepoint=0xFF),
        max_size=40), min_size=1, max_size=4),
        st.booleans())
    def test_pdf_text_roundtrip(self, lines, compress):
        from corpus_lab.kernel.pdfx import extract_pdf_text, synth_pdf
        out = extract_pdf_text(synth_pdf(lines, compress=compress))
        assert out == "\n".join(lines)
