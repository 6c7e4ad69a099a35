"""HTML document-metadata extraction (head parse) — from scratch.

The reference's extractor consumes whole article pages but only mines the
body (``src/feeds/rss_feeds/mod.rs`` html2text path); a crawl-scale
training pipeline also needs the page HEAD: ``<title>``, OpenGraph
``<meta property="og:*">`` tags, plain ``<meta name=...>`` tags,
``<link rel="canonical">`` and Schema.org JSON-LD — the
trafilatura/newspaper-style metadata block that feeds URL canonicalization,
dedup keys and date filters.  This kernel reuses the page tokenizer
(:func:`news_rss_spark.kernel.htmlx.tokenize` — real byte-stream tokenizer,
quoted ``>`` safe, rawtext-element aware) so head parsing inherits the same
parity-tested token semantics as body extraction.

Precedence (documented contract, replayed verbatim by the DuckDB oracle in
``__spark_entry__.py::oracle_sql()['html_metadata']``):

- ``headline``    = og:title  →  JSON-LD headline  →  <title>  →  first <h1>
- ``author``      = <meta name=author>  →  JSON-LD author(.name)
- ``description`` = og:description  →  <meta name=description>
- ``canonical``   = <link rel=canonical href>  →  og:url
- ``published``   = <meta property=article:published_time>
                    →  <meta name=date>  →  JSON-LD datePublished
- ``image``       = og:image

First occurrence wins inside each source (duplicate ``og:title`` tags keep
the first — the crawl-observed convention); all extracted strings are
entity-decoded and whitespace-normalized with the SAME helpers the block
extractor uses, so `"A &amp;  B"` equals `"A & B"` in both paths.
JSON-LD parse failures are silently skipped (the never-raise kernel
contract): a broken ``<script type="application/ld+json">`` block simply
drops out of the fallback chain.
"""

from __future__ import annotations

import json
import re
from typing import Any

from news_rss_spark.kernel.htmlx import decode_entities, tokenize
from corpus_lab.kernel.markup import _norm_text, _parse_attrs

# the body tokenizer deliberately DROPS script/style raw text (boilerplate
# never lives there), so JSON-LD blocks are mined in a dedicated pre-scan:
# start tags via this regex (quoted '>' safe for the attribute shapes that
# occur in type= declarations), body up to the first '</script'
_SCRIPT_OPEN_RE = re.compile(
    r"""<script((?:[^>"']|"[^"]*"|'[^']*')*)>""", re.IGNORECASE)
_SCRIPT_CLOSE_RE = re.compile(r"</script", re.IGNORECASE)

__all__ = ["extract_metadata", "METADATA_FIELDS", "discover_feeds",
           "robots_directives"]

# output field order (stable schema for the Arrow stage)
METADATA_FIELDS = (
    "headline", "author", "description", "canonical_url", "image",
    "published", "title", "n_meta_tags",
)

# <meta name=...> keys worth keeping (lowercased); others are counted but
# not stored — the counter feeds head-quality scoring
_META_NAME_KEYS = frozenset((
    "author", "description", "keywords", "date",
))


def _clean(s: str | None) -> str | None:
    if s is None:
        return None
    out = _norm_text(decode_entities(s)).strip()
    return out if out else None


def _jsonld_author(author: Any) -> str | None:
    """Schema.org author may be a string, an object with ``name``, or a
    list of either — take the first resolvable name."""
    if isinstance(author, str):
        return author
    if isinstance(author, dict):
        name = author.get("name")
        return name if isinstance(name, str) else None
    if isinstance(author, list):
        for item in author:
            got = _jsonld_author(item)
            if got is not None:
                return got
    return None


def _find_jsonld(html: str) -> dict[str, Any] | None:
    """First parseable ``<script type="application/ld+json">`` block as a
    dict (top-level arrays take their first dict element).  Parse failures
    skip to the next block (never-raise contract)."""
    for m in _SCRIPT_OPEN_RE.finditer(html):
        attrs = _parse_attrs(m.group(1))
        if attrs.get("type", "").strip().lower() != "application/ld+json":
            continue
        close = _SCRIPT_CLOSE_RE.search(html, m.end())
        body = html[m.end():close.start() if close else len(html)]
        try:
            parsed = json.loads(body)
        except (ValueError, RecursionError):
            continue
        if isinstance(parsed, list):  # @graph-style top-level array
            parsed = next((x for x in parsed if isinstance(x, dict)), None)
        if isinstance(parsed, dict):
            return parsed
    return None


def extract_metadata(html: str | None,
                     tokens: list | None = None) -> dict[str, Any]:
    """Parse one HTML document's metadata; see module docstring for the
    precedence contract.  Never raises; absent fields are ``None``.
    ``tokens`` shares a pre-tokenized page (fused-pass path); identical
    semantics either way."""
    out: dict[str, Any] = {k: None for k in METADATA_FIELDS}
    out["n_meta_tags"] = 0
    if not html:
        return out

    og: dict[str, str] = {}
    meta: dict[str, str] = {}
    title: str | None = None
    h1: str | None = None
    canonical: str | None = None
    jsonld: dict[str, Any] | None = _find_jsonld(html)
    published_prop: str | None = None

    tokens = tokenize(html) if tokens is None else tokens
    i, n = 0, len(tokens)
    while i < n:
        tok = tokens[i]
        kind = tok[0]
        if kind == "start":
            name, attrs = tok[1], tok[2]
            if name == "meta":
                out["n_meta_tags"] += 1
                content = attrs.get("content")
                prop = attrs.get("property", "").lower()
                if prop and content is not None:
                    if prop.startswith("og:") and prop not in og:
                        og[prop] = content
                    elif (prop == "article:published_time"
                          and published_prop is None):
                        published_prop = content
                else:
                    mname = attrs.get("name", "").lower()
                    if (mname in _META_NAME_KEYS and content is not None
                            and mname not in meta):
                        meta[mname] = content
            elif name == "link":
                # token-based rel matching, same as discover_feeds /
                # pagination_links / hreflang_links below: handles
                # rel="canonical alternate" and padded values
                rel_tokens = {t.lower() for t in _REL_WS_RE.split(
                    attrs.get("rel", "").strip()) if t}
                if "canonical" in rel_tokens and canonical is None:
                    href = attrs.get("href")
                    if href:
                        canonical = href.strip()
            elif name == "title" and title is None:
                # rawtext element: tokenizer emits ("text", raw) next
                if i + 1 < n and tokens[i + 1][0] == "text":
                    title = tokens[i + 1][1]
            elif name == "h1" and h1 is None:
                # concatenate text up to the matching </h1> (or EOF)
                parts: list[str] = []
                depth = 0
                j = i + 1
                while j < n:
                    t2 = tokens[j]
                    if t2[0] == "text":
                        parts.append(t2[1])
                    elif t2[0] == "start" and t2[1] == "h1":
                        depth += 1
                    elif t2[0] == "end" and t2[1] == "h1":
                        if depth == 0:
                            break
                        depth -= 1
                    j += 1
                h1 = "".join(parts)
        i += 1

    ld = jsonld or {}
    ld_headline = ld.get("headline")
    ld_date = ld.get("datePublished")

    out["title"] = _clean(title)
    out["headline"] = (
        _clean(og.get("og:title"))
        or _clean(ld_headline if isinstance(ld_headline, str) else None)
        or out["title"]
        or _clean(h1)
    )
    out["author"] = (_clean(meta.get("author"))
                     or _clean(_jsonld_author(ld.get("author"))))
    out["description"] = (_clean(og.get("og:description"))
                          or _clean(meta.get("description")))
    out["canonical_url"] = canonical or (
        og.get("og:url").strip() if og.get("og:url") else None)
    out["image"] = og.get("og:image", "").strip() or None
    out["published"] = (
        (published_prop or "").strip()
        or _clean(meta.get("date"))
        or (ld_date.strip() if isinstance(ld_date, str) else None)
        or None
    )
    return out


_FEED_TYPES = {
    "application/rss+xml": "rss",
    "application/atom+xml": "atom",
}


def discover_feeds(html: str | None) -> list[tuple[str, str, str | None]]:
    """RSS/Atom feed autodiscovery (the ``<link rel="alternate"
    type="application/rss+xml">`` convention every browser/reader
    implements): ``[(href, kind, title), ...]`` in document order, where
    kind is ``'rss'``/``'atom'``.  This is the reference's S1 source
    bootstrap — how a crawler turns a site URL into the feed URL the
    news-rss registry stores (reference analog: the seeded source URLs in
    ``migrations/20241025113452_fill.up.sql`` are exactly such feeds).

    Never raises; rel matching is token-based (``rel="alternate
    stylesheet"`` still counts) and case-insensitive."""
    if not html:
        return []
    out: list[tuple[str, str, str | None]] = []
    for tok in tokenize(html):
        if tok[0] != "start" or tok[1] != "link":
            continue
        attrs = tok[2]
        rel_tokens = {t.lower() for t in _REL_WS_RE.split(
            attrs.get("rel", "")) if t}
        if "alternate" not in rel_tokens:
            continue
        kind = _FEED_TYPES.get(attrs.get("type", "").strip().lower())
        href = (attrs.get("href") or "").strip()
        if kind and href:
            out.append((href, kind, attrs.get("title") or None))
    return out


# meta-robots directive tokens recognized (comma/space separated,
# case-insensitive).  noai/noimageai are the published opt-out convention
# for ML-training use (adopted by several large publishers and tooling);
# a training-data pipeline that ignores them ships data the publisher
# explicitly refused — so they are first-class gates here.
_DIRECTIVE_FIELDS = ("noindex", "nofollow", "noarchive", "nosnippet",
                     "noai", "noimageai")
_ROBOTS_META_NAMES = frozenset(("robots", "googlebot"))
_TOKEN_SPLIT_RE = re.compile(r"[,\s]+")
_REL_WS_RE = re.compile(r"\s+")


def robots_directives(html: str | None,
                      tokens: list | None = None) -> dict[str, bool]:
    """Page-level robots policy from ``<meta name="robots">`` (and the
    ``googlebot`` variant): dict of the recognized directive booleans,
    plus ``none`` expanding to noindex+nofollow per the standard.  The
    in-page counterpart of the RFC 9309 robots.txt gate
    (``operators/robots.py``) — robots.txt decides FETCH, this decides
    USE of the fetched page."""
    out = {k: False for k in _DIRECTIVE_FIELDS}
    if not html:
        return out
    for tok in (tokenize(html) if tokens is None else tokens):
        if tok[0] != "start" or tok[1] != "meta":
            continue
        attrs = tok[2]
        if attrs.get("name", "").strip().lower() not in _ROBOTS_META_NAMES:
            continue
        for token in _TOKEN_SPLIT_RE.split(
                attrs.get("content", "").lower()):
            if token in out:
                out[token] = True
            elif token == "none":
                out["noindex"] = True
                out["nofollow"] = True
    return out


def pagination_links(html: str | None) -> dict[str, str | None]:
    """``{"next": href|None, "prev": href|None}`` from ``<link
    rel="next"/"prev">`` head declarations (token-based rel matching,
    ``previous`` accepted as the common ``prev`` alias; first occurrence
    wins) — the signal multi-page articles publish for reassembly
    (``operators/pagination.py`` builds the chains)."""
    out: dict[str, str | None] = {"next": None, "prev": None}
    if not html:
        return out
    for tok in tokenize(html):
        if tok[0] != "start" or tok[1] != "link":
            continue
        attrs = tok[2]
        rel_tokens = {t.lower() for t in _REL_WS_RE.split(
            attrs.get("rel", "")) if t}
        href = (attrs.get("href") or "").strip()
        if not href:
            continue
        if "next" in rel_tokens and out["next"] is None:
            out["next"] = href
        if (("prev" in rel_tokens or "previous" in rel_tokens)
                and out["prev"] is None):
            out["prev"] = href
    return out


def hreflang_links(html: str | None) -> list[tuple[str, str]]:
    """``[(lang, href), ...]`` from ``<link rel="alternate"
    hreflang=...>`` declarations in document order — the multilingual
    variant map publishers ship for the SAME article in other languages
    (``x-default`` included verbatim).  Feeds translation-cluster
    grouping: translations must NOT be near-dup'd away across languages
    but SHOULD count as one logical article for language-balanced
    sampling (``operators/links.py::hreflang_clusters``)."""
    if not html:
        return []
    out: list[tuple[str, str]] = []
    for tok in tokenize(html):
        if tok[0] != "start" or tok[1] != "link":
            continue
        attrs = tok[2]
        rel_tokens = {t.lower() for t in _REL_WS_RE.split(
            attrs.get("rel", "")) if t}
        lang = attrs.get("hreflang", "").strip()
        href = (attrs.get("href") or "").strip()
        if "alternate" in rel_tokens and lang and href:
            out.append((lang.lower(), href))
    return out
