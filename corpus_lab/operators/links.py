"""Outlink mining + anchor-text index.

``extract_links_df`` is the scan-shaped Arrow stage (one row per resolved
``<a href>``); ``anchor_text_index`` is the classic web-search aggregation:
for every link TARGET, the set of anchor texts pointing at it, how many
distinct documents link there, and the nofollow share.  The index groupBy
shuffles only compact ``(url, anchor, flags)`` rows — never page HTML — and
the anchor set is ``array_sort(collect_set(...))`` so the result is
deterministic under any partitioning (set semantics + canonical order).
At web scale the target-URL key is power-law (everyone links the same few
hubs); the count side is a plain map-side-combining agg, and the anchor
set is capped upstream with ``max_anchor_len``/per-doc dedup so hub rows
stay bounded.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.kernel.linkx import extract_links

LINKS_DDL = ("doc_id string, target_url string, anchor_text string, "
             "nofollow boolean")


def extract_links_df(df: DataFrame, html_col: str = "html",
                     base_col: str = "base_url",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, html, base_url) -> one row per resolved outlink, in-document
    order not preserved in the output relation (set semantics downstream);
    scan-shaped, no shuffle."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, html, base in zip(pdf[id_col], pdf[html_col],
                                       pdf[base_col]):
                for url, anchor, nofollow in extract_links(
                        html, base or ""):
                    rows.append((str(did), url, anchor, nofollow))
            yield pd.DataFrame(
                rows, columns=["doc_id", "target_url", "anchor_text",
                               "nofollow"])

    return df.select(F.col(id_col), F.col(html_col), F.col(base_col)) \
             .mapInPandas(fn, LINKS_DDL)


def anchor_text_index(links: DataFrame, max_anchor_len: int = 256
                      ) -> DataFrame:
    """(doc_id, target_url, anchor_text, nofollow) -> per-target index:
    ``(target_url, n_links, n_docs, n_nofollow, anchors)`` where
    ``anchors`` is the sorted distinct non-empty anchor-text set
    (truncated to ``max_anchor_len`` chars per anchor before the set, so
    one pathological page can't bloat a hub row).  One hash-agg shuffle
    on the compact link rows."""
    a = F.substring("anchor_text", 1, max_anchor_len)
    return (links
            .groupBy("target_url")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum(F.col("nofollow").cast("long")).alias("n_nofollow"),
                 F.array_sort(F.collect_set(
                     F.when(F.length(a) > 0, a))).alias("anchors")))


HREFLANG_DDL = "url string, lang string, href string"


def hreflang_alternates_df(df: DataFrame, html_col: str = "html",
                           url_col: str = "url") -> DataFrame:
    """Pages -> one row per hreflang declaration (url, lang, href);
    scan-shaped."""
    from corpus_lab.kernel.metax import hreflang_links

    def fn(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                for lang, href in hreflang_links(html):
                    rows.append((str(url), lang, href))
            yield pd.DataFrame(rows, columns=["url", "lang", "href"])

    return df.select(F.col(url_col), F.col(html_col)) \
             .mapInPandas(fn, HREFLANG_DDL)


def hreflang_clusters(alternates: DataFrame) -> DataFrame:
    """``(cluster_id, url, n_langs)`` — translation clusters from the
    alternate relation: cluster_id = lexicographic MIN over the page's
    declared alternate set INCLUDING itself.

    This one-projection rule is exact when hreflang sets are symmetric
    and complete (what the spec requires and search engines enforce —
    every variant lists every other); pages with inconsistent partial
    sets split into per-subset clusters, which is the honest reading of
    broken annotations (a full CC over the bipartite graph —
    operators/components.py — is the escape hatch when you'd rather
    merge them).  No pair join: one per-page array fold + one hash agg
    for the language count."""
    per_page = (alternates
                .groupBy("url")
                .agg(F.array_sort(F.array_union(
                        F.collect_set("href"),
                        F.array(F.first("url")))).alias("members"),
                     F.countDistinct("lang").alias("n_langs")))
    return per_page.select(
        F.element_at("members", 1).alias("cluster_id"),
        "url", "n_langs")
