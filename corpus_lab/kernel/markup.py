"""Markup helpers the corpus parsers share, frozen from the ingestion
kernel's private helpers so that ``corpus_lab`` depends only on public
``news_rss_spark`` names (``tests/test_product_boundary.py``)."""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

# frozen copy of news_rss_spark.kernel.urls._SCHEME_RE
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

_WS_RE = re.compile(r"[ \t\r\n\f\xa0]+")
_WS_NEEDS_RE = re.compile(r"[\t\r\n\f\xa0]|  ")

_ATTR_RE = re.compile(
    r"""([A-Za-z_:][-A-Za-z0-9_:.]*)\s*(?:=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*)))?"""
)
_EMPTY_ATTRS: dict[str, str] = {}


def _norm_text(s: str) -> str:
    """Frozen copy of news_rss_spark.kernel.htmlx._norm_text."""
    if _WS_NEEDS_RE.search(s) is None:
        return s.strip()
    return _WS_RE.sub(" ", s).strip()


def _parse_attrs(raw: str) -> dict[str, str]:
    """Frozen copy of news_rss_spark.kernel.htmlx._parse_attrs."""
    if not raw or raw.isspace():
        return _EMPTY_ATTRS
    attrs: dict[str, str] = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        val = m.group(2) if m.group(2) is not None else m.group(3)
        if val is None:
            val = m.group(4) or ""
        if name not in attrs:
            attrs[name] = val
    return attrs


def _split_tag(tag: str) -> tuple[str, str]:
    """Frozen copy of news_rss_spark.kernel.feedxml._split_tag."""
    if tag.startswith("{"):
        ns, _, local = tag[1:].partition("}")
        return ns, local
    return "", tag


def _text(el: ET.Element | None) -> str | None:
    """Frozen copy of news_rss_spark.kernel.feedxml._text."""
    if el is None:
        return None
    parts = [el.text or ""]
    for child in el:
        parts.append(child.tail or "")
    return "".join(parts).strip()
