"""GUID dedup — the reference's TTL cache probe re-expressed relationally.

Reference semantics (src/feeds/rss_feeds/mod.rs:128-151):

- ``cacher.contains(guid)`` before publish, skip if present   (D1)
- ``cache.set(guid, art)`` after confirmed publish, TTL-bounded (D2:
  moka ``time_to_live`` src/cache/local/mod.rs:32-34 / Redis ``SET EX``
  src/cache/redis/mod.rs:38-54; prod TTL = 120 days,
  config/production.toml:8,14)
- publish-then-mark ordering -> at-least-once                 (D3)

Spark mapping: the sink table itself is the dedup state, and batch and
stream share one rule.  Within-run duplicates -> ``dedup_within_run``
(first occurrence wins).  Cross-run duplicates -> LEFT ANTI join against
the sink keys, with the TTL becoming a retention predicate on the sink
side: rows whose insertion time is older than the TTL no longer suppress
re-publish — exactly the moka/Redis expiry semantics.  The streaming sink
(streaming/stream.py) applies both steps to each micro-batch, keyed on the
``first_seen`` insertion time it writes; there is no watermark.  The batch
job needs only the first: its lineage skip plus bucket-wise overwrite
already keeps every id once (plans/pipeline.py).

Scale notes:
- the anti-join shuffles on the key only after the sink side is pruned by
  the retention predicate; it is not reduced to distinct keys, because a
  left-anti join drops the same rows whatever the duplicates on its right
  side.  AQE converts the join to broadcast when the key set fits, and
  skew-join splitting handles hot keys.
- ``dropDuplicates`` is a partial-agg (map-side combine) under the hood, so
  within-run dedup does not move full rows around twice.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TTL_SECS = 10_368_000  # 120 days — config/production.toml:8


def dedup_within_run(df: DataFrame, key: str = "id") -> DataFrame:
    """D1 within one batch: first occurrence wins (cache probe analog)."""
    return df.dropDuplicates([key])


def seen_keys(
    sink: DataFrame,
    now_utc: datetime,
    ttl_secs: int = DEFAULT_TTL_SECS,
    key: str = "id",
    ts_col: str = "datetime",
) -> DataFrame:
    """The still-live dedup state: sink keys younger than the TTL (D2).
    A key may appear more than once; callers only anti-join against it."""
    cutoff = now_utc - timedelta(seconds=ttl_secs)
    return sink.filter(F.col(ts_col) >= F.lit(cutoff)).select(key)


def anti_join_seen(
    df: DataFrame,
    sink: DataFrame | None,
    now_utc: datetime,
    ttl_secs: int = DEFAULT_TTL_SECS,
    key: str = "id",
    ts_col: str = "datetime",
) -> DataFrame:
    """Drop rows whose key is already in the (retention-filtered) sink.

    This is the cross-run half of D1; placed BEFORE the expensive publish
    stage, mirroring the reference's early-exit intent (mod.rs:129-136).
    """
    if sink is None:
        return df
    keys = seen_keys(sink, now_utc, ttl_secs, key=key, ts_col=ts_col)
    return df.join(keys, on=key, how="left_anti")
