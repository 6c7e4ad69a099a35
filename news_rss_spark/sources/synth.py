"""Deterministic synthesizer for the interleaved-documents input table.

Produces the BASELINE ``input_hint`` shape::

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>

shaped like the reference's fixture corpus (tests/resources/ndtv-world-news.xml:
20 <item>s with CDATA content:encoded HTML holding <p>/<strong>/<i>/&nbsp;
and inline <img>, plus feed-level media:content entries).  Seeded and free of
wall-clock/network so goldens are stable across runs (FIXTURES.md §1):

- ~70% docs carry ``html`` content spans (inline-content path),
- ~15% ``desc``-only (empty-content fallback path),
- ~15% ``page``-only (crawler scrape path, with nav/header/footer chrome),
- 0-3 feed-level media spans each,
- skewed publisher distribution (zipf-ish: a few domains own most docs),
- ~2% docs missing title / description (P2 drop-and-count predicate),
- ~5% malformed pub_date strings (P7 pinned-now fallback).
"""

from __future__ import annotations

import json
import random

WORDS = (
    "government power grid failure crisis officials residents electricity "
    "service country province capital news world report minister election "
    "storm rescue market economy growth talks summit border security forces "
    "court ruling protest climate energy supply health outbreak vaccine "
    "technology launch satellite mission flight airline strike union deal"
).split()

PUBLISHERS = [
    # zipf-ish weights: first few publishers dominate
    ("www.ndtv.com", 400),
    ("news.sky.com", 250),
    ("www.example-news.com", 120),
    ("feeds.bbci.co.uk", 60),
    ("rss.cnn.com", 40),
    ("www.reuters.com", 30),
    ("apnews.com", 20),
    ("www.theguardian.com", 15),
    ("smallpaper.example.org", 10),
    ("local-gazette.example.net", 5),
]

_MONTH_NAMES = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_WDAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


def _sentence(rng: random.Random, lo: int = 8, hi: int = 18) -> str:
    n = rng.randint(lo, hi)
    ws = [rng.choice(WORDS) for _ in range(n)]
    return (" ".join(ws)).capitalize() + "."


def _paragraph(rng: random.Random, n_sent: int | None = None) -> str:
    n = n_sent or rng.randint(2, 5)
    return " ".join(_sentence(rng) for _ in range(n))


def _rfc822(rng: random.Random) -> str:
    y = rng.randint(2023, 2025)
    mo = rng.randint(1, 12)
    d = rng.randint(1, 28)
    h, mi, s = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
    wd = rng.choice(_WDAYS)
    tz = rng.choice(["+0530", "+0000", "-0500", "GMT", "+0100"])
    return f"{wd}, {d:02d} {_MONTH_NAMES[mo - 1]} {y} {h:02d}:{mi:02d}:{s:02d} {tz}"


def _weighted_publisher(rng: random.Random) -> str:
    total = sum(w for _, w in PUBLISHERS)
    x = rng.randrange(total)
    for name, w in PUBLISHERS:
        if x < w:
            return name
        x -= w
    return PUBLISHERS[0][0]


def _html_fragment(rng: random.Random, domain: str, doc_idx: int) -> tuple[str, int]:
    """A content:encoded-shaped fragment; returns (html, n_inline_imgs)."""
    parts = []
    n_paras = rng.randint(2, 6)
    n_imgs = 0
    for i in range(n_paras):
        para = _paragraph(rng)
        deco = rng.random()
        if deco < 0.2:
            para = f"<strong>{_sentence(rng, 3, 6)}</strong> {para}"
        elif deco < 0.3:
            para = f"{para} <i>{_sentence(rng, 3, 6)}</i>"
        if rng.random() < 0.15:
            para = para.replace(" ", "&nbsp;", 1)
        parts.append(f"<p>{para}</p>")
        if rng.random() < 0.25:
            n_imgs += 1
            parts.append(
                f'<img src="https://{domain}/images/{doc_idx}-{i}.jpg">'
            )
    return "\n\n".join(parts), n_imgs


def _page_html(rng: random.Random, domain: str, doc_idx: int, title: str) -> str:
    """Full article page with boilerplate chrome around the body."""
    nav_links = "".join(
        f'<a href="/{w}">{w.capitalize()}</a> ' for w in rng.sample(WORDS, 6)
    )
    body_paras = "\n".join(
        f"<p>{_paragraph(rng)}</p>" for _ in range(rng.randint(3, 7))
    )
    inline_img = (
        f'<img src="https://{domain}/media/{doc_idx}-lead.jpg">'
        if rng.random() < 0.5 else ""
    )
    related = "".join(
        f'<li><a href="/story/{i}">{_sentence(rng, 4, 8)}</a></li>'
        for i in range(rng.randint(3, 6))
    )
    return f"""<!DOCTYPE html>
<html><head><title>{title}</title><meta charset="utf-8"></head>
<body>
<header><div class="masthead">{domain}</div></header>
<nav class="main-menu">{nav_links}</nav>
<div class="content-wrap">
<article class="story-body">
<h1>{title}</h1>
{inline_img}
{body_paras}
</article>
<aside class="sidebar related-stories"><ul>{related}</ul></aside>
</div>
<div class="share-bar"><a href="#fb">Share</a><a href="#tw">Tweet</a></div>
<footer><p>Copyright {domain}. {_sentence(rng, 6, 10)}</p></footer>
</body></html>"""


def generate_documents(n_docs: int, seed: int = 42,
                       mix: tuple = (0.70, 0.15, 0.15)) -> list[dict]:
    """Generate ``n_docs`` interleaved documents, deterministically.

    ``mix`` = (html_frac, desc_frac, page_frac): share of inline-content
    docs, description-only docs, and full-article-page docs.  The default
    mirrors the fixture corpus; ``HEAVY_MIX`` weights toward full pages —
    the north-star workload (tokenizer + DOM + density scoring per doc).
    """
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        domain = _weighted_publisher(rng)
        slug = "-".join(rng.sample(WORDS, 3))
        doc_id = f"https://{domain}/world-news/{slug}-{i}"
        title = _sentence(rng, 5, 10)[:-1]
        description = _paragraph(rng, 1)

        meta: dict = {
            "title": title,
            "link": doc_id,
            "description": description,
            "pub_date_rfc822": _rfc822(rng),
            "source_domain": domain,
        }
        # fault injection
        r = rng.random()
        if r < 0.01:
            meta["title"] = None
        elif r < 0.02:
            meta["description"] = None
        if rng.random() < 0.05:
            meta["pub_date_rfc822"] = rng.choice(
                ["yesterday evening", "0000-99-99", "soon", ""]
            )
        if rng.random() < 0.03:
            meta.pop("link")  # P3 link-coalesce path: link falls back to guid

        spans = [
            {"kind": "meta", "text": json.dumps(meta, sort_keys=True),
             "media_ref": None, "offset": 0}
        ]
        shape = rng.random()
        if shape < mix[0]:
            frag, _ = _html_fragment(rng, domain, i)
            spans.append({"kind": "html", "text": frag, "media_ref": None, "offset": 1})
        elif shape < mix[0] + mix[1]:
            spans.append({"kind": "desc", "text": description, "media_ref": None, "offset": 1})
        else:
            spans.append({"kind": "page", "text": _page_html(rng, domain, i, title),
                          "media_ref": None, "offset": 1})

        # feed-level media (media:content / itunes image analogs)
        for m in range(rng.randint(0, 3)):
            kind = "img" if rng.random() < 0.8 else "video"
            ext = "jpg" if kind == "img" else "mp4"
            spans.append({
                "kind": kind,
                "text": _sentence(rng, 4, 8) if rng.random() < 0.5 else None,
                "media_ref": f"https://{domain}/media/{i}-m{m}.{ext}",
                "offset": len(spans),
            })
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs


SPANS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string, text:string, media_ref:string, offset:int>>"
)


HEAVY_MIX = (0.20, 0.10, 0.70)  # page-dominated: the full-extraction workload


def documents_df(spark, n_docs: int, seed: int = 42, num_partitions: int | None = None):
    """Materialize the synthetic corpus as a Spark DataFrame.

    Generation happens driver-side (it is test/bench fixture data, not the
    production read path — production reads the pre-landed Iceberg/parquet
    table); at 100 TB the table already exists and this function is unused.
    """
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
            for d in generate_documents(n_docs, seed)]
    df = spark.createDataFrame(rows, schema=SPANS_DDL)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df
