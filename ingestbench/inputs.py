"""Seeded input generators for the workloads, their ground truth, and the
order-insensitive content hashes that pin them.

Every input is a pure function of ``(spec, seed)``.  Article bodies come
from ``news_rss_spark.sources.synth.generate_documents``; the RSS 2.0
wrapping, the snapshot windows and the publication dates are built here, so
the expected sink content is known without running the code under test:

- ``expected_ids``  every id a batch sink must hold (ok and skip rows),
- ``valid_ids``     the ids with a guid, a title and a description,
- ``kernel_docs``   the kernel input document of each id, which the
  correctness check re-extracts with ``kernel.extract.extract_document``.

Feed traffic follows the facts the repository documents about the
reference deployment, and nothing else:

- ``REGISTRY_FEEDS``: the feed registry is seeded with two feeds, NDTV and
  Sky News (``news_rss_spark/sources/registry.py``), each polled every
  ``POLL_INTERVAL_S`` (the registry's ``interval_secs`` default);
- ``SNAPSHOT_ITEMS``: a snapshot holds 20 items, as the reference's NDTV
  fixture does (SURVEY.md section 6);
- every item carries ``content:encoded`` HTML and one ``media:content``
  image, and no ``itunes:image``, as in that fixture (SURVEY.md section 5);
- items missing a title or a description are ``synth``'s own fault rates.

``NEW_PER_POLL`` (items a feed adds between two polls) has no documented
source; it is an unverified choice.  Publication dates follow from it: a
feed publishes ``NEW_PER_POLL`` items per poll interval, newest last.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from xml.sax.saxutils import escape, quoteattr

from news_rss_spark.sources.synth import HEAVY_MIX, generate_documents

# pinned stand-in for the wall clock: the date fallback and the dedup TTL
# are evaluated against it, so outputs do not depend on when a run happens
NOW = datetime(2025, 1, 15, 12, 0, 0)

REGISTRY_FEEDS = 2
SNAPSHOT_ITEMS = 20
POLL_INTERVAL_S = 3600
NEW_PER_POLL = 2      # unverified: no documented source

_FEED_MIX = (1.0, 0.0, 0.0)  # every item has content:encoded
_DAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_NS = ('xmlns:content="http://purl.org/rss/1.0/modules/content/" '
       'xmlns:media="http://search.yahoo.com/mrss/"')
_MASK = (1 << 64) - 1


def content_hash(rows) -> str:
    """Order-insensitive hash: the sum mod 2^64 of per-row blake2b digests."""
    acc = 0
    for row in rows:
        blob = json.dumps(row, sort_keys=True, default=str).encode()
        acc = (acc + int.from_bytes(
            hashlib.blake2b(blob, digest_size=8).digest(), "little")) & _MASK
    return f"{acc:016x}"


@dataclass
class Input:
    """One workload's generated tables plus what the sink must end up as."""
    rows: list                       # landed rows (documents)
    n_docs: int                      # input documents a job or tick consumes
    expected_ids: set                # ids a batch sink must hold
    valid_ids: set                   # of those, the ids with status ok
    # (poll_ticks: every id its ticks can land; the stream sink holds the
    # valid ones among the ticks actually run)
    kernel_docs: dict                # id -> kernel input doc {doc_id, spans}
    ticks: list = field(default_factory=list)     # poll_ticks: per-tick rows
    tick_ids: list = field(default_factory=list)  # poll_ticks: ids per tick

    def pin(self) -> dict:
        rows = self.rows if not self.ticks else [
            [t, r] for t, tick in enumerate(self.ticks) for r in tick]
        return {"rows": len(rows), "hash": content_hash(rows)}


def _rfc822(ts: datetime) -> str:
    return (f"{_DAYS[ts.weekday()]}, {ts.day:02d} {_MONTHS[ts.month - 1]} "
            f"{ts.year} {ts.strftime('%H:%M:%S')} +0000")


def _feed_items(per_feed: int, seed: int) -> list[list[dict]]:
    """``REGISTRY_FEEDS`` histories of ``per_feed`` items each, oldest
    first, built from synth documents.  Item ``j`` of a history is
    published ``per_feed - 1 - j`` poll shares before ``NOW``, well within
    the dedup TTL, so a repeated guid is always suppressed."""
    docs = generate_documents(REGISTRY_FEEDS * per_feed, seed=seed, mix=_FEED_MIX)
    step = timedelta(seconds=POLL_INTERVAL_S / NEW_PER_POLL)
    feeds = []
    for f in range(REGISTRY_FEEDS):
        items = []
        for j, doc in enumerate(docs[f * per_feed:(f + 1) * per_feed]):
            meta = json.loads(doc["spans"][0]["text"])
            items.append({
                "guid": doc["doc_id"],
                "title": meta.get("title"),
                "link": meta.get("link"),
                "description": meta.get("description"),
                "content": doc["spans"][1]["text"],
                "pub_date": _rfc822(NOW - (per_feed - 1 - j) * step),
                "image": f"https://{meta['source_domain']}/media/{f}-{j}.jpg",
            })
        feeds.append(items)
    return feeds


def _valid_item(it: dict) -> bool:
    """The reference's required fields: a guid, a title and a description."""
    return bool(it["guid"] and it["title"] and it["description"])


def _valid_doc(doc: dict) -> bool:
    """Required fields of a landed document; a desc span stands in for a
    missing meta description."""
    meta = json.loads(doc["spans"][0]["text"])
    desc = meta.get("description")
    if desc is None:
        desc = next((s["text"] for s in doc["spans"] if s["kind"] == "desc"), None)
    return bool(doc["doc_id"] and meta.get("title") and desc)


def _item_xml(it: dict) -> str:
    out = [f"<item><guid>{escape(it['guid'])}</guid>"]
    for tag in ("title", "link", "description"):
        if it[tag] is not None:
            out.append(f"<{tag}>{escape(it[tag])}</{tag}>")
    out.append(f"<pubDate>{escape(it['pub_date'])}</pubDate>")
    out.append(f"<content:encoded><![CDATA[{it['content']}]]></content:encoded>")
    out.append(f"<media:content url={quoteattr(it['image'])} type=\"image/jpeg\"/>")
    out.append("</item>")
    return "".join(out)


def _snapshot_xml(feed_id: str, items: list[dict]) -> str:
    body = "".join(_item_xml(it) for it in items)
    return (f'<?xml version="1.0" encoding="UTF-8"?><rss version="2.0" {_NS}>'
            f"<channel><title>{escape(feed_id)}</title>{body}</channel></rss>")


def _kernel_doc(it: dict) -> dict:
    """The kernel input document of one feed item, built the way the
    documented feed-to-document mapping defines it (meta JSON without null
    fields; html span from content:encoded; Media-RSS refs in feed order)."""
    meta = {k: v for k, v in (("title", it["title"]), ("link", it["link"]),
                              ("description", it["description"]),
                              ("pub_date_rfc822", it["pub_date"]))
            if v is not None}
    spans = [{"kind": "meta", "text": json.dumps(meta), "media_ref": None},
             {"kind": "html", "text": it["content"], "media_ref": None},
             {"kind": "img", "text": None, "media_ref": it["image"]}]
    for i, s in enumerate(spans):
        s["offset"] = i
    return {"doc_id": it["guid"], "spans": spans}


@dataclass(frozen=True)
class CorpusSpec:
    """A pre-landed corpus of ``docs`` synth documents in the page-heavy mix."""
    docs: int


def corpus_input(spec: CorpusSpec, seed: int) -> Input:
    docs = generate_documents(spec.docs, seed=seed, mix=HEAVY_MIX)
    return Input(rows=docs, n_docs=len(docs),
                 expected_ids={d["doc_id"] for d in docs},
                 valid_ids={d["doc_id"] for d in docs if _valid_doc(d)},
                 kernel_docs={d["doc_id"]: d for d in docs})


@dataclass(frozen=True)
class TickSpec:
    """Every registry feed polled once per tick; each snapshot holds the
    feed's newest ``window`` items, ``new`` of them never landed before.
    Inputs exist for up to ``max_ticks`` ticks."""
    window: int
    new: int
    max_ticks: int


def poll_ticks_input(spec: TickSpec, seed: int) -> Input:
    per_feed = spec.window + spec.new * (spec.max_ticks - 1)
    feeds = _feed_items(per_feed, seed)
    ticks, tick_ids = [], []
    for t in range(spec.max_ticks):
        rows, ids = [], []
        for f, items in enumerate(feeds):
            window = items[t * spec.new:][:spec.window]
            rows.append((f"feed-{f}", _snapshot_xml(f"feed-{f}", window)))
            ids.extend(it["guid"] for it in window)
        ticks.append(rows)
        tick_ids.append(ids)
    items = [it for history in feeds for it in history]
    return Input(rows=[], n_docs=len(feeds) * spec.window,
                 expected_ids={it["guid"] for it in items},
                 valid_ids={it["guid"] for it in items if _valid_item(it)},
                 kernel_docs={it["guid"]: _kernel_doc(it) for it in items},
                 ticks=ticks, tick_ids=tick_ids)
