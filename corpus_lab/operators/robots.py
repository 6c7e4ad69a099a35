"""Robots-policy filtering for crawl frontiers (engine-new; RFC 9309
evaluation of kernel/robotsx.py over a URL table — the politeness stage
between sources/sitemap.py's frontier and the fetcher).

Plan shape: the robots table is one row per domain (crawlers cache one
robots.txt per host — dimension-sized), so it BROADCAST-joins onto the
frontier; the allow/deny evaluation runs in one Arrow stage with the
parsed rule set memoized per distinct robots text inside the batch
(thousands of URLs per domain re-use one parse).  No shuffle beyond the
broadcast.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from corpus_lab.kernel.robotsx import is_allowed, parse_robots, url_path
from corpus_lab.kernel.urlgrammar import HOST_PATTERN as _HOST


def filter_by_robots(urls: DataFrame, robots: DataFrame,
                     url_col: str = "url", user_agent: str = "*",
                     keep_only: bool = False) -> DataFrame:
    """Attach ``allowed`` (RFC 9309 longest-match verdict for
    ``user_agent``) to every URL row; with ``keep_only`` the denied rows
    are filtered out.  ``robots`` is (domain, robots_txt); a URL whose
    domain has no robots row (or a NULL/unparseable text) is allowed —
    the protocol's fail-open posture."""
    dom = F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), _HOST, 1)),
        r":\d+$", "")
    u = urls.withColumn("_domain", dom)
    r = robots.select(F.lower(F.col("domain")).alias("_domain"),
                      F.col("robots_txt").alias("_robots"))
    joined = u.join(F.broadcast(r), "_domain", "left")

    out_schema = StructType(
        [f for f in joined.schema.fields if f.name not in ("_domain", "_robots")]
        + [StructField("allowed", BooleanType())])
    keep_cols = [f.name for f in out_schema.fields if f.name != "allowed"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, dict] = {}
        for pdf in batches:
            verdicts = []
            for url, txt in zip(pdf[url_col], pdf["_robots"]):
                if txt is None:
                    verdicts.append(True)
                    continue
                rules = cache.get(txt)
                if rules is None:
                    rules = cache[txt] = parse_robots(txt)
                verdicts.append(is_allowed(rules, url_path(url), user_agent))
            out = pdf[keep_cols].copy()
            out["allowed"] = pd.Series(verdicts, dtype="bool",
                                       index=pdf.index)
            yield out

    out = joined.mapInPandas(fn, out_schema)
    return out.filter("allowed").drop("allowed") if keep_only else out
