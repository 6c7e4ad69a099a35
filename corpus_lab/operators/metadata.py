"""Page-metadata extraction as an Arrow-batched stage.

Head-parse companion to the body extractor (north-rule "DOM heuristics"):
one ``mapInPandas`` pass turns ``(id, html)`` into typed metadata columns
(headline/author/description/canonical/image/published/title plus the
meta-tag count) via :func:`corpus_lab.kernel.metax.extract_metadata`.
Embarrassingly parallel — no shuffle; at 100 TB this rides the same scan
as body extraction (call both kernels in one stage when fusing matters).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.kernel.metax import METADATA_FIELDS, extract_metadata

METADATA_DDL = (
    "doc_id string, headline string, author string, description string, "
    "canonical_url string, image string, published string, title string, "
    "n_meta_tags int"
)


def extract_metadata_df(df: DataFrame, html_col: str = "html",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, html) -> one typed metadata row per document."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, html in zip(pdf[id_col], pdf[html_col]):
                m = extract_metadata(html)
                rows.append((str(did),) + tuple(m[k] for k in METADATA_FIELDS))
            yield pd.DataFrame(
                rows, columns=["doc_id", *METADATA_FIELDS])

    return df.select(F.col(id_col), F.col(html_col)) \
             .mapInPandas(fn, METADATA_DDL)


FEEDS_DDL = "doc_id string, feed_url string, kind string, title string"


def discover_feeds_df(df: DataFrame, html_col: str = "html",
                      id_col: str = "doc_id") -> DataFrame:
    """Feed autodiscovery over pages: one row per ``<link
    rel=alternate>`` RSS/Atom declaration — the S1 source-bootstrap
    (site page -> the feed URL a news-rss registry stores).  Scan-shaped,
    no shuffle; pages without feeds emit nothing."""
    from corpus_lab.kernel.metax import discover_feeds

    def fn(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for did, html in zip(pdf[id_col], pdf[html_col]):
                for href, kind, title in discover_feeds(html):
                    rows.append((str(did), href, kind, title))
            yield pd.DataFrame(
                rows, columns=["doc_id", "feed_url", "kind", "title"])

    return df.select(F.col(id_col), F.col(html_col)) \
             .mapInPandas(fn, FEEDS_DDL)


POLICY_DDL = ("doc_id string, noindex boolean, nofollow boolean, "
              "noarchive boolean, nosnippet boolean, noai boolean, "
              "noimageai boolean, train_ok boolean")


def page_policy_df(df: DataFrame, html_col: str = "html",
                   id_col: str = "doc_id") -> DataFrame:
    """Meta-robots policy gate per page (kernel/metax.py::
    robots_directives): the recognized directive booleans plus the
    derived ``train_ok`` gate — False when the publisher opted the page
    out of indexing or ML-training use (noindex or noai).  The in-page
    counterpart of the robots.txt fetch gate; a corpus build filters on
    ``train_ok`` right after extraction.  Scan-shaped, no shuffle."""
    from corpus_lab.kernel.metax import _DIRECTIVE_FIELDS, robots_directives

    def fn(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for did, html in zip(pdf[id_col], pdf[html_col]):
                d = robots_directives(html)
                rows.append((str(did),)
                            + tuple(d[k] for k in _DIRECTIVE_FIELDS)
                            + (not (d["noindex"] or d["noai"]),))
            yield pd.DataFrame(
                rows, columns=["doc_id", *_DIRECTIVE_FIELDS, "train_ok"])

    return df.select(F.col(id_col), F.col(html_col)) \
             .mapInPandas(fn, POLICY_DDL)
