"""OPML subscription import as an Arrow-batched source stage.

``(owner_id, opml_xml)`` -> one registry row per subscribed feed
``(user_id, feed_url, title, site_url, category)`` via
:func:`corpus_lab.kernel.opmlx.parse_opml` — the bulk-load
counterpart of ``sources/registry.py`` (reference seeds its sources by
migration; deployments import reader exports).  Feed the output through
``registry.dedup_by_target_url``-style dedup before merging.
Scan-shaped, no shuffle; malformed documents emit nothing.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.kernel.opmlx import parse_opml

OPML_DDL = ("user_id string, feed_url string, title string, "
            "site_url string, category string")


def registry_from_opml(df: DataFrame, opml_col: str = "opml",
                       id_col: str = "user_id") -> DataFrame:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uid, xml in zip(pdf[id_col], pdf[opml_col]):
                for rec in parse_opml(xml):
                    rows.append((str(uid), rec["feed_url"], rec["title"],
                                 rec["site_url"], rec["category"]))
            yield pd.DataFrame(
                rows, columns=["user_id", "feed_url", "title", "site_url",
                               "category"])

    return df.select(F.col(id_col), F.col(opml_col)) \
             .mapInPandas(fn, OPML_DDL)
