"""Hypothesis fuzzing for the round-3 page-structure kernels: metadata,
tables, links, feeds/robots, subtitles, EXIF, ID3 — the never-raise
contract plus structural invariants, over adversarial soup."""

from hypothesis import given, settings
from hypothesis import strategies as st

from corpus_lab.kernel.exifx import extract_exif
from corpus_lab.kernel.id3x import extract_id3
from corpus_lab.kernel.linkx import extract_links, resolve_url
from corpus_lab.kernel.metax import (
    discover_feeds,
    extract_metadata,
    robots_directives,
)
from corpus_lab.kernel.subx import parse_subtitles
from corpus_lab.kernel.tablex import extract_tables

plain = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60)
tagish = st.builds(
    lambda n, a: f"<{n}{a}>",
    st.sampled_from(["meta", "META", "link", "title", "/title", "table",
                     "tr", "td", "th", "/td", "/table", "a", "/a",
                     "script", "/script", "h1", "/h1", "img", "br"]),
    st.sampled_from(["", ' name="robots" content="noindex,noai"',
                     ' property="og:title" content="x"',
                     ' rel="alternate" type="application/rss+xml" href="/f"',
                     ' href="../x?a=1&amp;b" rel="nofollow"',
                     " unclosed='q", ' type="application/ld+json"',
                     ' content="a > b"', " <nested"]),
)
soup = st.lists(st.one_of(plain, tagish), max_size=25).map("".join)
any_text = st.text(max_size=300)
any_bytes = st.binary(max_size=300)


class TestNeverRaiseAndInvariants:
    @settings(max_examples=200, deadline=None)
    @given(soup)
    def test_metadata_total(self, html):
        m = extract_metadata(html)
        assert m["n_meta_tags"] >= 0
        for k in ("headline", "author", "title"):
            v = m[k]
            # extracted strings are ws-normalized (no doubles, no edges)
            assert v is None or (v == v.strip() and "  " not in v)

    @settings(max_examples=200, deadline=None)
    @given(soup)
    def test_tables_grid_invariants(self, html):
        cells = extract_tables(html)
        seen = set()
        for t, r, c, hdr, text in cells:
            assert t >= 0 and r >= 0 and c >= 0
            assert (t, r, c) not in seen  # grid positions unique
            seen.add((t, r, c))
            assert isinstance(hdr, bool) and isinstance(text, str)

    @settings(max_examples=200, deadline=None)
    @given(soup)
    def test_links_resolved_or_dropped(self, html):
        for url, anchor, nofollow in extract_links(
                html, "https://h.example/a/b?q=1"):
            assert url and not url.startswith("#")
            assert isinstance(nofollow, bool)
            assert anchor == anchor.strip()

    @settings(max_examples=200, deadline=None)
    @given(any_text, any_text)
    def test_resolve_url_total(self, base, href):
        got = resolve_url(base, href)
        assert got is None or isinstance(got, str)

    @settings(max_examples=200, deadline=None)
    @given(soup)
    def test_feeds_and_robots_total(self, html):
        for href, kind, _ in discover_feeds(html):
            assert kind in ("rss", "atom") and href
        d = robots_directives(html)
        assert set(d) == {"noindex", "nofollow", "noarchive",
                          "nosnippet", "noai", "noimageai"}

    @settings(max_examples=200, deadline=None)
    @given(any_text)
    def test_subtitles_invariants(self, content):
        cues = parse_subtitles(content)
        for i, (idx, start, end, text) in enumerate(cues):
            assert idx == i  # ordinals dense
            assert start >= 0 and end >= 0
            assert "\n" not in text

    @settings(max_examples=200, deadline=None)
    @given(any_bytes)
    def test_exif_id3_total_on_garbage(self, payload):
        m = extract_exif(payload)
        assert set(m) == {"make", "model", "orientation", "datetime",
                          "datetime_original", "gps_lat", "gps_lon"}
        t = extract_id3(payload)
        assert set(t) == {"title", "artist", "album", "year",
                          "tag_version"}

    @settings(max_examples=100, deadline=None)
    @given(any_bytes)
    def test_exif_on_jpeg_prefixed_garbage(self, tail):
        # a real SOI marker followed by garbage must still never raise
        m = extract_exif(b"\xff\xd8" + tail)
        assert m["gps_lat"] is None or isinstance(m["gps_lat"], float)
