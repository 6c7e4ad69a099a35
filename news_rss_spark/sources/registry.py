"""Feed-source registry — the reference's ``rss_sources`` Postgres table
(migrations/20241111105852_add-rss-sources.up.sql:3-17) as a small config
DataFrame (dimension table).

Operators mirrored:
- S7  registry scan                        (src/storage/pgsql/mod.rs:50-78)
- P10 LIKE search over name/link           (src/storage/pgsql/mod.rs:80-92)
- C4  sources CRUD (add/delete/update)     (src/server/routers.rs:414-624)

At scale this is a broadcast-sized table; CRUD is expressed as pure
DataFrame transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REGISTRY_DDL = (
    "id int, name string, link string, run_at_launch boolean, "
    "max_retries int, timeout int, interval_secs int"
)

# the two seed rows from the reference migration (...up.sql:13-17)
SEED_SOURCES = [
    (1, "NDTV World News", "https://feeds.feedburner.com/ndtvnews-world-news",
     True, 3, 100, 3600),
    (2, "Sky News World", "https://feeds.skynews.com/feeds/rss/world.xml",
     True, 3, 100, 3600),
]


def seed_registry(spark: SparkSession, extra_rows: list | None = None) -> DataFrame:
    return spark.createDataFrame(SEED_SOURCES + (extra_rows or []), REGISTRY_DDL)


def search(registry: DataFrame, query: str) -> DataFrame:
    """P10: name LIKE '%q%' OR link LIKE '%q%' (mod.rs:84-85)."""
    return registry.filter(
        F.col("name").contains(query) | F.col("link").contains(query)
    )


def add_source(registry: DataFrame, row: dict) -> DataFrame:
    """C4 PUT /sources/add: append with the next id."""
    spark = registry.sparkSession
    next_id = (registry.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m"))
               .collect()[0]["m"] + 1)
    defaults = {"run_at_launch": False, "max_retries": 3,
                "timeout": 100, "interval_secs": 3600}
    full = {**defaults, **row, "id": next_id}
    new = spark.createDataFrame(
        [tuple(full[c] for c in registry.columns)], REGISTRY_DDL
    )
    return registry.unionByName(new)


def delete_source(registry: DataFrame, source_id: int) -> DataFrame:
    """C4 DELETE /sources/:id."""
    return registry.filter(F.col("id") != source_id)


def update_source(registry: DataFrame, source_id: int, updates: dict) -> DataFrame:
    """C4 PATCH /sources/update: column-wise conditional overwrite."""
    out = registry
    for col, val in updates.items():
        out = out.withColumn(
            col, F.when(F.col("id") == source_id, F.lit(val)).otherwise(F.col(col))
        )
    return out


def worker_info(registry: DataFrame, job_stats: DataFrame | None = None,
                source_url: str = "") -> DataFrame:
    """C2 ``POST /workers/info`` (src/server/routers.rs:107-139): HashMap
    key lookup by source_url -> {source_name, source_url, is_launched,
    configuration}.  An empty result is the reference's 404 NotFound.

    ``is_launched`` analog: the reference checks the spawned tokio task is
    unfinished; in batch terms, the source's job has landed rows —
    ``job_stats`` (a small per-source aggregate keyed by ``link``, e.g.
    from the lineage ledger or publisher stats) has an entry.  Extra stat
    columns pass through.  The stats side is broadcast: the lookup never
    shuffles."""
    w = registry.filter(F.col("link") == source_url)
    base = w.select(F.col("name").alias("source_name"),
                    F.col("link").alias("source_url"),
                    "max_retries", "timeout", "interval_secs")
    if job_stats is None:
        return base.select(
            "source_name", "source_url", F.lit(False).alias("is_launched"),
            "max_retries", "timeout", "interval_secs")
    stats = job_stats.withColumnRenamed("link", "source_url") \
                     .withColumn("_present", F.lit(True))
    stat_cols = [c for c in stats.columns
                 if c not in ("source_url", "_present")]
    joined = base.join(F.broadcast(stats), on="source_url", how="left")
    # launch status = join PRESENCE, never the null-ness of a stat column
    # (a launched job can legitimately aggregate a NULL stat)
    return joined.select(
        "source_name", "source_url",
        F.coalesce(F.col("_present"), F.lit(False)).alias("is_launched"),
        "max_retries", "timeout", "interval_secs", *stat_cols)
