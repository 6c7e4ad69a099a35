"""GUID dedup — the reference's TTL cache probe re-expressed relationally.

Reference semantics (src/feeds/rss_feeds/mod.rs:128-151):

- ``cacher.contains(guid)`` before publish, skip if present   (D1)
- ``cache.set(guid, art)`` after confirmed publish, TTL-bounded (D2:
  moka ``time_to_live`` src/cache/local/mod.rs:32-34 / Redis ``SET EX``
  src/cache/redis/mod.rs:38-54; prod TTL = 120 days,
  config/production.toml:8,14)
- publish-then-mark ordering -> at-least-once                 (D3)

Spark mapping: the sink table itself is the dedup state, and the batch
job (plans/pipeline.py) and the poller (streaming/stream.py) share one
rule: a batch run is a bounded stream over the same relation.  Within-run
duplicates -> ``dedup_within_run`` (first occurrence wins).  Cross-run
duplicates -> :func:`anti_join_seen` against :func:`sink_ids`: a LEFT ANTI
join against the sink's ids whose ``first_seen`` insertion time lies
within the TTL — exactly the moka/Redis expiry semantics.  What survives
is appended with :func:`append_rows`; no sink row is ever rewritten,
so a replay, a crash-resume or a new input appends only ids that are
not live.  Both sinks are flat parquet dirs (``bucket`` and ``batch_id``
are ordinary columns), so a read lists one dir and starts no listing job.

Scale notes:
- the sink-id read takes two columns with the schema the sink writes,
  so Spark runs no schema-inference job; the anti-join is not reduced to
  distinct keys, because a left-anti join drops the same rows whatever
  the duplicates on its right side.  AQE converts the join to broadcast
  when the key set fits, and skew-join splitting handles hot keys.
- ``dropDuplicates`` is a partial-agg (map-side combine) under the hood, so
  within-run dedup does not move full rows around twice.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TTL_SECS = 10_368_000  # 120 days — config/production.toml:8

# the phrase every damaged-sink error carries
DAMAGED = "a sink file was emptied, cut or removed"


def dedup_within_run(df: DataFrame, key: str = "id") -> DataFrame:
    """D1 within one batch: first occurrence wins (cache probe analog)."""
    return df.dropDuplicates([key])


def seen_keys(
    sink: DataFrame,
    now_utc: datetime,
    ttl_secs: int = DEFAULT_TTL_SECS,
    key: str | list[str] = "id",
    ts_col: str = "datetime",
) -> DataFrame:
    """The still-live dedup state: sink keys younger than the TTL (D2).  A
    row without a timestamp stays live.  A key may appear more than once;
    callers only anti-join against it."""
    cutoff = now_utc - timedelta(seconds=ttl_secs)
    ts = F.col(ts_col)
    return sink.filter(ts.isNull() | (ts >= F.lit(cutoff))).select(key)


def anti_join_seen(
    df: DataFrame,
    sink: DataFrame | None,
    now_utc: datetime,
    ttl_secs: int = DEFAULT_TTL_SECS,
    key: str | list[str] = "id",
    ts_col: str = "datetime",
) -> DataFrame:
    """Drop rows whose key is already in the (retention-filtered) sink;
    ``sink`` None is a sink that holds nothing yet.

    This is the cross-run half of D1; placed BEFORE the expensive publish
    stage, mirroring the reference's early-exit intent (mod.rs:129-136).
    """
    if sink is None:
        return df
    keys = seen_keys(sink, now_utc, ttl_secs, key=key, ts_col=ts_col)
    return df.join(keys, on=key, how="left_anti")


def sink_ids(df: DataFrame, key: str, sink_path: str) -> DataFrame | None:
    """The dedup state of the sink at ``sink_path`` for ``df``: its rows'
    ``(id, first_seen)``, with ``id`` named ``key`` and typed as
    ``df[key]``; None when the sink holds no data file yet.
    :func:`anti_join_seen` with ``ts_col="first_seen"`` keeps the rows of
    ``df`` whose key is not live in it.

    One Hadoop FileSystem glob (any scheme), not a Spark job; hidden
    entries (checksums, staging dirs) are not data.  Raises on a
    zero-length data file, which Spark's scan skips without a word, and on
    a directory, since Spark reads only the partition directories of a dir
    that also holds files: either way ids would drop out of the anti-join
    and be appended again.  The read takes only the two columns, typed as
    the sink writes them, so it infers nothing."""
    spark = df.sparkSession
    pattern = spark._jvm.org.apache.hadoop.fs.Path(f"{sink_path}/[!._]*")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    files = fs.globStatus(pattern) or []
    for st in files:
        if st.isDirectory():
            raise RuntimeError(
                f"sink {sink_path} holds the directory"
                f" {st.getPath().getName()}: the sink is flat parquet, and"
                " Spark would read only its directories; move their files"
                " out or use another sink path")
        if st.getLen() == 0:
            raise RuntimeError(
                f"sink file {st.getPath().toString()} is empty: {DAMAGED};"
                " restore it")
    if not files:
        return None
    id_type = df.schema[key].dataType.simpleString()
    return (spark.read.schema(f"id {id_type}, first_seen timestamp")
            .parquet(sink_path).withColumnRenamed("id", key))


def append_rows(df: DataFrame, path: str) -> None:
    """The sink write shared by the batch job and the poller: append
    ``df``'s rows to the flat parquet dir at ``path``, one file per write
    task.  Appending never truncates, so it is safe under any session's
    overwrite mode.

    lz4 is a per-write option, NOT a session conf, so the caller's session
    (and any concurrent job sharing it) is left as it was: snappy-java's
    JNI path collapses under many writer threads (measured 3.6x slower at
    local[32]).
    """
    df.write.mode("append").option("compression", "lz4").parquet(path)
