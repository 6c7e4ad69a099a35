"""Raw RSS / Atom feed-XML item parsing (reference S1 proper: the
``rss::Channel::read_from`` + per-item field access the reference performs
in ``load_news``/``extract_item``, src/feeds/rss_feeds/mod.rs:50-69 and
:157-197).  Pure Python, batch-shaped — the Spark adapter wraps
``parse_feed_batch`` in one mapInArrow stage (no per-row Python).

Field semantics mirrored from the reference's rss-crate usage:

- ``guid``        — <guid> element value (mod.rs:158); CDATA or text
- ``title``       — <title> (mod.rs:159)
- ``link``        — <link>; the *caller* applies the guid fallback
                    (mod.rs:160 does ``link().unwrap_or(guid.value())``)
- ``description`` — <description> (mod.rs:166-168)
- ``content``     — <content:encoded> (content-module namespace), the
                    rss crate's ``item.content()`` (mod.rs:170)
- ``pub_date``    — raw <pubDate> string; date parsing happens downstream
                    (kernel/dates.py mirrors mod.rs:184-191)
- ``itunes_image``— <itunes:image href=...> (mod.rs:194-197)
- ``media``       — Media-RSS <media:content url=... type=...> refs, kind
                    derived from the MIME class (the NDTV fixture layout)

Whitespace: the rss crate configures quick-xml with ``trim_text(true)``,
so whitespace-only text events around CDATA islands vanish and text is
edge-trimmed while CDATA content is untouched.  ElementTree merges CDATA
and text indistinguishably, so we approximate with a whole-value strip —
identical on every real-world layout where CDATA carries the value and
raw text is indentation (e.g. the reference's ndtv-world-news.xml).

Atom (engine extension; the reference is RSS-only but the north rule
says "RSS/Atom"): <feed><entry> with id->guid, summary->description,
content->content, published|updated->pub_date, link[rel=alternate]@href
-> link.

Never raises: malformed XML yields ``{"error": ..., "items": []}``,
mirroring the reference's log-and-skip on a failed feed fetch
(mod.rs:86-89).

``item_spans`` maps a parsed item to the kernel's input spans
(kernel/extract.py); batch and stream both build their documents with it.
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET

NS_CONTENT = "http://purl.org/rss/1.0/modules/content/"
NS_ITUNES = "http://www.itunes.com/dtds/podcast-1.0.dtd"
NS_MEDIA = "http://search.yahoo.com/mrss/"
NS_ATOM = "http://www.w3.org/2005/Atom"


def _split_tag(tag: str) -> tuple[str, str]:
    """ET tag '{ns}local' -> (ns, local); no-namespace -> ('', local)."""
    if tag.startswith("{"):
        ns, _, local = tag[1:].partition("}")
        return ns, local
    return "", tag


def _text(el: ET.Element | None) -> str | None:
    """Merged text content, whole-value stripped (see module docstring);
    an absent element is None, a present-but-empty one is ''. """
    if el is None:
        return None
    parts = [el.text or ""]
    for child in el:
        # rss-crate element_text ignores child markup; keep tails so
        # text<br/>text still yields both halves
        parts.append(child.tail or "")
    return "".join(parts).strip()


def _media_kind(mime: str | None, url: str | None) -> str:
    if mime:
        if mime.startswith("video/"):
            return "video"
        if mime.startswith("audio/"):
            return "audio"
        return "img"
    if url and url.rsplit(".", 1)[-1].lower() in ("mp4", "webm", "mov", "avi"):
        return "video"
    return "img"


def _parse_rss_item(item: ET.Element) -> dict:
    out = {
        "guid": None, "title": None, "link": None, "description": None,
        "content": None, "pub_date": None, "itunes_image": None, "media": [],
    }
    for child in item:
        ns, local = _split_tag(child.tag)
        if ns in ("", None):
            if local == "guid":
                out["guid"] = _text(child)
            elif local == "title":
                out["title"] = _text(child)
            elif local == "link":
                out["link"] = _text(child)
            elif local == "description":
                out["description"] = _text(child)
            elif local == "pubDate":
                out["pub_date"] = _text(child)
        elif ns == NS_CONTENT and local == "encoded":
            out["content"] = _text(child)
        elif ns == NS_ITUNES and local == "image":
            # itunes:image carries the url in @href (podcast spec)
            out["itunes_image"] = child.get("href") or _text(child)
        elif ns == NS_MEDIA and local == "content":
            url = child.get("url")
            if url:
                out["media"].append(
                    {"kind": _media_kind(child.get("type"), url), "url": url}
                )
    return out


def _parse_atom_entry(entry: ET.Element) -> dict:
    out = {
        "guid": None, "title": None, "link": None, "description": None,
        "content": None, "pub_date": None, "itunes_image": None, "media": [],
    }
    published = updated = None
    first_link = None
    for child in entry:
        ns, local = _split_tag(child.tag)
        if ns not in (NS_ATOM, ""):
            if ns == NS_MEDIA and local == "content" and child.get("url"):
                out["media"].append({
                    "kind": _media_kind(child.get("type"), child.get("url")),
                    "url": child.get("url"),
                })
            continue
        if local == "id":
            out["guid"] = _text(child)
        elif local == "title":
            out["title"] = _text(child)
        elif local == "summary":
            out["description"] = _text(child)
        elif local == "content":
            out["content"] = _text(child)
        elif local == "published":
            published = _text(child)
        elif local == "updated":
            updated = _text(child)
        elif local == "link":
            href = child.get("href")
            if href and first_link is None:
                first_link = href
            if href and child.get("rel") in (None, "alternate"):
                out["link"] = out["link"] or href
    out["link"] = out["link"] or first_link
    out["pub_date"] = published or updated
    return out


def parse_feed(xml: str | None) -> dict:
    """One feed document -> {"format", "channel_title", "items", "error"}."""
    empty = {"format": None, "channel_title": None, "items": []}
    if not xml or not xml.strip():
        return {**empty, "error": "empty feed document"}
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as exc:
        return {**empty, "error": f"xml parse error: {exc}"}
    ns, local = _split_tag(root.tag)
    if local == "rss" or local == "channel":
        channel = root if local == "channel" else None
        if channel is None:
            for child in root:
                if _split_tag(child.tag)[1] == "channel":
                    channel = child
                    break
        if channel is None:
            return {**empty, "format": "rss", "error": "rss without channel"}
        title = None
        items = []
        for child in channel:
            cns, clocal = _split_tag(child.tag)
            if clocal == "title" and cns in ("", None) and title is None:
                title = _text(child)
            elif clocal == "item":
                items.append(_parse_rss_item(child))
        return {"format": "rss", "channel_title": title, "items": items,
                "error": None}
    if ns == NS_ATOM and local == "feed":
        title = None
        items = []
        for child in root:
            _, clocal = _split_tag(child.tag)
            if clocal == "title" and title is None:
                title = _text(child)
            elif clocal == "entry":
                items.append(_parse_atom_entry(child))
        return {"format": "atom", "channel_title": title, "items": items,
                "error": None}
    return {**empty, "error": f"unrecognized feed root <{local}>"}


def parse_feed_batch(xmls: list[str | None]) -> list[dict]:
    """Batch entry point for the Arrow adapter."""
    return [parse_feed(x) for x in xmls]


def item_spans(item: dict) -> list[dict]:
    """One parsed item -> the kernel's input spans, in this order:

    - meta (offset 0): the JSON object {title, link, description,
      pub_date_rfc822}, fields in that order, null ones left out, compact
      separators, non-ASCII unescaped.  These are the bytes Spark's
      ``to_json`` writes for the same struct, and the kernel's
      ``byte_count`` counts them;
    - html (offset 1) from a non-empty <content:encoded>, else desc
      (offset 1) from a present <description> (the kernel re-applies the
      reference's own 3-way fallback either way);
    - img (offset 2) from <itunes:image href> (mod.rs:194-197);
    - img/video (offset 3, 4, ...) from the Media-RSS refs, in feed
      order; audio counts as img.
    """
    meta = {k: v for k, v in (("title", item["title"]),
                              ("link", item["link"]),
                              ("description", item["description"]),
                              ("pub_date_rfc822", item["pub_date"]))
            if v is not None}
    spans = [{"kind": "meta", "media_ref": None, "offset": 0,
              "text": json.dumps(meta, separators=(",", ":"),
                                 ensure_ascii=False)}]
    if item["content"]:
        spans.append({"kind": "html", "text": item["content"],
                      "media_ref": None, "offset": 1})
    elif item["description"] is not None:
        spans.append({"kind": "desc", "text": item["description"],
                      "media_ref": None, "offset": 1})
    if item["itunes_image"] is not None:
        spans.append({"kind": "img", "text": None,
                      "media_ref": item["itunes_image"], "offset": 2})
    for i, m in enumerate(item["media"] or []):
        spans.append({"kind": "video" if m["kind"] == "video" else "img",
                      "text": None, "media_ref": m["url"], "offset": 3 + i})
    return spans
