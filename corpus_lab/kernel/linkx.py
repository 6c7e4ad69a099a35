"""Outlink + anchor-text extraction and relative-URL resolution — from
scratch.

The body extractor keeps link-density as a boilerplate SIGNAL but throws
the links themselves away; a crawl pipeline needs them as DATA: the
outlink graph (frontier expansion, PageRank/HITS edges) and the anchor
text pointing at each target (the classic relevance/quality signal, and
the label source for anchor-text language models).  Reuses the parity
-tested byte-stream tokenizer (:func:`htmlx.tokenize`) and the entity/ws
normalization of the block path.

Contract (unit-locked in ``tests/test_links.py``, replayed by the DuckDB
oracles for ``link_extract`` / ``anchor_index``):

- one record per ``<a>`` start tag that carries a non-empty ``href``
  (pure page anchors — href starting with ``#`` — and ``javascript:`` /
  ``mailto:`` / ``data:`` pseudo-links are dropped);
- anchor text = entity-decoded, ws-normalized flatten of everything up to
  the matching ``</a>``; a new ``<a>`` auto-closes an open one (HTML5
  rule), so nested anchors never swallow each other's text;
- ``nofollow`` is True when the ``rel`` attribute contains the token
  ``nofollow`` (comma/space separated, case-insensitive);
- hrefs resolve against the page URL with an RFC 3986 merge: absolute
  kept, ``//host/...`` adopts the base scheme, ``/path`` roots at the
  base authority, relative paths merge + dot-segment normalize, query
  kept, fragment stripped;
- never raises; empty/None input yields no links.
"""

from __future__ import annotations

import re

from news_rss_spark.kernel.htmlx import decode_entities, tokenize
from corpus_lab.kernel.markup import _SCHEME_RE, _norm_text

__all__ = ["extract_links", "resolve_url"]

_SKIP_SCHEMES = ("javascript:", "mailto:", "data:", "tel:")
_REL_SPLIT_RE = re.compile(r"[,\s]+")


def resolve_url(base: str, href: str) -> str | None:
    """RFC 3986-style reference resolution (absolute/net-path/abs-path/
    relative-path; dot segments normalized; fragment stripped).  Returns
    None for non-http(s) pseudo-links and unresolvable inputs."""
    href = (href or "").strip()
    if not href:
        return None
    low = href.lower()
    if low.startswith(_SKIP_SCHEMES) or low.startswith("#"):
        return None
    href = href.split("#", 1)[0]
    if not href:
        return None
    if _SCHEME_RE.match(href):
        return href
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):(//[^/?#]*)?([^?#]*)(\?[^#]*)?",
                 base or "")
    if not m:
        return None
    scheme, auth = m.group(1), (m.group(2) or "")[2:]
    base_path = m.group(3) or ""
    if href.startswith("//"):
        return f"{scheme}:{href}"
    if href.startswith("/"):
        path, _, query = href.partition("?")
    else:
        rel_path, _, query = href.partition("?")
        if not rel_path and query:
            # RFC 3986 §5.3: an empty-path reference with a query keeps
            # the base path unchanged ('?page=2' on /a/b.html stays on
            # /a/b.html, not /a/)
            path = base_path or "/"
        else:
            # merge: drop the base path's last segment, append the ref
            merged = base_path.rsplit("/", 1)[0] + "/" if "/" in base_path else "/"
            path = merged + rel_path
    # dot-segment removal (RFC 3986 §5.2.4)
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
        else:
            out.append(seg)
    # a trailing '.'/'..' keeps the directory slash
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    norm = "/".join(out)
    if not norm.startswith("/"):
        norm = "/" + norm
    return f"{scheme}://{auth}{norm}" + (f"?{query}" if query else "")


def extract_links(html: str | None,
                  base_url: str = "",
                  tokens: list | None = None) -> list[tuple[str, str, bool]]:
    """``[(resolved_url, anchor_text, nofollow), ...]`` in document
    order; see module contract.  ``tokens`` shares a pre-tokenized page
    (fused-pass path); identical semantics either way."""
    if not html:
        return []
    out: list[tuple[str, str, bool]] = []
    open_href: str | None = None
    open_nofollow = False
    parts: list[str] = []

    def close() -> None:
        nonlocal open_href
        if open_href is not None:
            out.append((open_href,
                        _norm_text(decode_entities("".join(parts))),
                        open_nofollow))
        open_href = None
        parts.clear()

    for tok in (tokenize(html) if tokens is None else tokens):
        kind = tok[0]
        if kind == "text":
            if open_href is not None:
                parts.append(tok[1])
        elif kind == "start":
            if tok[1] == "a":
                close()  # HTML5: a new <a> closes an open one
                # attribute values carry markup entities (&amp; in query
                # strings is near-universal) — decode before resolving
                href = decode_entities(tok[2].get("href", ""))
                resolved = resolve_url(base_url, href)
                if resolved is not None:
                    open_href = resolved
                    rel = tok[2].get("rel", "")
                    open_nofollow = "nofollow" in (
                        t.lower() for t in _REL_SPLIT_RE.split(rel))
        elif tok[1] == "a":  # end tag
            close()
    close()  # unclosed trailing anchor
    return out
