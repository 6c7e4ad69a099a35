"""Query contract (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()`` exposes one entry per SURVEY.md §2 operator that the
IMPLEMENTATION.md §2 tables name; ``oracle_sql()`` gives the bit-matched
DuckDB SQL for every one of them (md5-based hashing so both engines agree
exactly).
"""

from __future__ import annotations

import sys
import os
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PINNED_NOW = datetime(2025, 1, 15, 12, 0, 0)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC for timestamp-rendering queries.

    Timestamp RENDERING is session-timezone-dependent and happens at
    collect time, AFTER the query function returns — so the pin cannot be
    save/restored inside the function without changing the lazily-evaluated
    result.  Our own session factory already sets UTC (session.py), making
    this a no-op there; under a foreign harness session it is a defensive
    pin.  Always the same fixed value, so repeated calls never conflict.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# flagship: interleave the documents table into the input_hint shape and run
# the full extraction kernel (deterministic, no RNG — pure column mapping)
# ---------------------------------------------------------------------------

def interleave_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id,text,lang,source,n_chars) -> (doc_id, spans) in the
    BASELINE input_hint shape, deterministically."""
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/world-news/"), F.col("doc_id").cast("string"))
    meta_json = F.to_json(F.struct(
        F.substring("text", 1, 40).alias("title"),
        url.alias("link"),
        F.substring("text", 1, 80).alias("description"),
        F.concat(F.lit("Sun, 05 Jan 2025 10:00:"),
                 F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
                 F.lit(" +0000")).alias("pub_date_rfc822"),
    ))
    span = lambda kind, text, ref, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"), text.alias("text"),
        ref.alias("media_ref"), F.lit(off).cast("int").alias("offset"))
    html = F.concat(
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('<img src="https://cdn.example/'),
                        F.col("doc_id").cast("string"), F.lit('.jpg">')))
         .otherwise(F.lit("")),
    )
    spans = F.array(
        span("meta", meta_json, F.lit(None).cast("string"), 0),
        span("html", html, F.lit(None).cast("string"), 1),
    )
    return docs.select(url.alias("doc_id"), spans.alias("spans"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction + dedup over interleaved sf0.001 documents."""
    from news_rss_spark.operators.dedup import dedup_within_run
    from news_rss_spark.operators.extraction import extract_articles, to_publish_news

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    interleaved = interleave_documents(docs)
    extracted = extract_articles(interleaved, now_utc=PINNED_NOW)
    return dedup_within_run(to_publish_news(extracted), key="id")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

TAG_RE = "<[^>]*>"


def q_tag_strip(spark, sf_dir):
    """P5 (mod.rs:213-217): the reference tag-strip regex over HTML-wrapped text."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p><br>"))
    return d.select("doc_id", F.regexp_replace(html, TAG_RE, "").alias("clean_text"))


def q_required_fields(spark, sf_dir):
    """P2 (mod.rs:158-168): required-field predicate, drop-don't-fail."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
        & F.col("lang").isNotNull() & (F.col("n_chars") >= 50)
    ).select("doc_id", "source")


def q_link_coalesce(spark, sf_dir):
    """P3 (mod.rs:160): link ?? guid coalesce."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.coalesce(F.nullif(F.col("lang"), F.lit("")), F.col("source")).alias("lang_or_source"),
    )


def q_domain_extract(spark, sf_dir):
    """P4 (mod.rs:162-164): host extraction with whole-link fallback."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/a/"), F.col("doc_id").cast("string"))
    host = F.regexp_extract(url, r"^https?://([^/]+)", 1)
    return d.select("doc_id", F.when(host != "", host).otherwise(url).alias("domain"))


def q_date_parse_fallback(spark, sf_dir):
    """P7 (mod.rs:183-192): parse w/ pinned-now fallback on garbage."""
    _utc(spark)  # see _utc: rendering reads the conf at collect time
    e = _t(spark, sf_dir, "events")
    raw = F.when(F.col("event_id") % 10 == 0, F.lit("garbage")) \
           .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    parsed = F.coalesce(
        F.try_to_timestamp(raw),
        F.lit("2025-01-15 12:00:00").cast("timestamp"),
    )
    return e.select(
        "event_id",
        F.date_format(parsed, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("parsed_ts"),
    )


def q_dedup_exact(spark, sf_dir):
    """D1 exact content dedup: one row per distinct text (md5 hash-groupBy)
    with the smallest doc_id as keeper and the duplicate count."""
    d = _t(spark, sf_dir, "documents")
    return (d.withColumn("content_hash", F.md5(F.col("text")))
             .groupBy("content_hash")
             .agg(F.min("doc_id").alias("keeper_id"),
                  F.count("*").cast("long").alias("dup_count")))


def q_anti_join_seen(spark, sf_dir):
    """D1 cross-run dedup: left-anti join against the 'seen' set."""
    d = _t(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return d.join(seen, on="doc_id", how="left_anti").select("doc_id", "source")


def q_lineage_agg(spark, sf_dir):
    """M3 lineage: per-bucket doc/byte counts (operators.lineage)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("bucket", (F.col("doc_id") % 16).cast("int"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("doc_count"),
             F.sum("n_chars").cast("long").alias("byte_count"))
    )


def q_like_search(spark, sf_dir):
    """P10 (storage/pgsql/mod.rs:84-85): LIKE '%q%' search."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.col("source").contains("1") | F.col("text").contains("spark")
    ).select("doc_id", "source")


def q_extract_pipeline(spark, sf_dir):
    """Flagship extraction (kernel stage) — relational-parity subset: the
    meta/html fast path over deterministically interleaved documents, so the
    whole mapInArrow stage is oracle-checkable in SQL."""
    from news_rss_spark.operators.extraction import extract_articles
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    interleaved = interleave_documents(docs)
    ext = extract_articles(interleaved, now_utc=PINNED_NOW)
    return ext.filter(F.col("status") == "ok").select(
        "id", "title", "link", "source",
        F.col("pub_date").cast("string").alias("pub_date"),
        "photo_path", "text",
    )


def q_rss_parse(spark, sf_dir):
    """S1 proper (rss::Channel::read_from + item field access,
    mod.rs:66-68,157-197): synthesize a single-item RSS 2.0 feed per
    document JVM-side (CDATA description/content, entity-escaped title,
    RFC-822 pubDate, conditional media:content), then parse it back with
    the real mapInArrow feed parser.  The oracle is the identity
    projection — any escaping/CDATA/field-mapping defect breaks the
    round trip."""
    from news_rss_spark.sources.rss_xml import feed_items
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())

    def esc(c):
        c = F.replace(c, F.lit("&"), F.lit("&amp;"))
        c = F.replace(c, F.lit("<"), F.lit("&lt;"))
        return F.replace(c, F.lit(">"), F.lit("&gt;"))

    ds = F.col("doc_id").cast("string")
    guid = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example.com/world-news/"), ds)
    pub = F.concat(F.lit("Sun, 05 Jan 2025 10:00:"),
                   F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
                   F.lit(" +0000"))
    media = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit('<media:content url="https://cdn.example/'), ds,
                 F.lit('.jpg" type="image/jpeg"/>')),
    ).otherwise(F.lit(""))
    xml = F.concat(
        F.lit('<rss version="2.0" '
              'xmlns:content="http://purl.org/rss/1.0/modules/content/" '
              'xmlns:media="http://search.yahoo.com/mrss/"><channel>'
              "<title>Synth</title><item><guid>"), guid,
        F.lit("</guid><title>"), esc(F.substring("text", 1, 40)),
        F.lit("</title><link>"), guid,
        F.lit("</link><pubDate>"), pub,
        F.lit("</pubDate><description><![CDATA["), F.substring("text", 1, 80),
        F.lit("]]></description><content:encoded><![CDATA[<p>"), F.col("text"),
        F.lit("</p>]]></content:encoded>"), media,
        F.lit("</item></channel></rss>"),
    )
    feeds = d.select(ds.alias("feed_id"), xml.alias("xml"))
    items = feed_items(feeds)
    return items.select(
        F.col("guid").alias("id"), "title", "link", "description", "content",
        "pub_date",
        F.try_element_at("media", F.lit(1))["url"].alias("photo_ref"),
    )


def q_semantic_blocks(spark, sf_dir):
    """L4-L6 (retriever.rs:28-90): <blocks> envelope extraction, broken-JSON
    repair + SemanticBlock parse, tag-whitelist filter, content joins — all
    as JVM column expressions over a synthesized LLM-response wrapper.  For
    this quote/brace-free corpus the whole chain is the identity on the
    article text (block 1 tagged Article survives, block 2 tagged menu is
    dropped), which the oracle asserts end-to-end."""
    from news_rss_spark.functions.semantic_blocks import (
        extract_blocks_envelope, semantic_blocks_text)
    d = _t(spark, sf_dir, "documents")
    resp = F.concat(
        F.lit('preamble <blocks>{index: 1, tags: ["Article"], content: ["'),
        F.col("text"),
        F.lit('"]}{index: 2, tags: ["menu"], content: ["nav chrome"]}</blocks>'),
    )
    return d.select(
        "doc_id",
        semantic_blocks_text(extract_blocks_envelope(resp)).alias("block_text"),
    )


def q_registry_crud(spark, sf_dir):
    """S7/P10/C4 (storage/pgsql/mod.rs:50-92, server/routers.rs:414-624):
    seeded rss_sources registry -> add -> update -> delete -> search, as
    pure DataFrame transforms.  Deterministic, so the oracle is the final
    state spelled out as VALUES."""
    from news_rss_spark.sources import registry as R
    reg = R.seed_registry(spark)
    reg = R.add_source(reg, {"name": "BBC World", "link": "https://feeds.bbci.co.uk/news/world/rss.xml",
                             "run_at_launch": True})
    reg = R.update_source(reg, 2, {"interval_secs": 1800})
    reg = R.delete_source(reg, 1)
    return R.search(reg, "World").select(
        "id", "name", "link", "run_at_launch",
        F.col("interval_secs").cast("int").alias("interval_secs"))


def q_worker_info(spark, sf_dir):
    """C2 POST /workers/info (routers.rs:107-139): config + launch-status
    lookup for one source_url.  The registry is synthesized from the
    documents table's distinct sources; job stats (the is_launched signal
    and doc/char counts) from a per-source aggregate; src3 is looked up."""
    from news_rss_spark.sources.registry import worker_info
    d = _t(spark, sf_dir, "documents")
    link = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example.com/feed.xml"))
    registry = d.select("source").distinct().select(
        F.col("source").alias("name"), link.alias("link"),
        F.lit(True).alias("run_at_launch"), F.lit(3).alias("max_retries"),
        F.lit(100).alias("timeout"), F.lit(3600).alias("interval_secs"))
    stats = (d.groupBy("source")
             .agg(F.count("*").cast("long").alias("doc_count"),
                  F.sum("n_chars").cast("long").alias("total_chars"))
             .select(link.alias("link"), "doc_count", "total_chars"))
    return worker_info(registry, stats,
                       "https://src3.example.com/feed.xml")


# The correctness window is the first 50 registry entries; the registry
# now holds 14, so the window is all of them.  ``_R5_WINDOW`` is the exact
# output of ``python3 scripts/next_window.py`` (the 8 reserved SURVEY §2
# core slots, then never-verified entries, then oldest-verified), and
# ``queries()`` lists its keys in that order (tests/test_registry_window.py).
_R5_WINDOW = [
    "extract_pipeline",
    "rss_parse",
    "tag_strip",
    "date_parse_fallback",
    "dedup_exact",
    "anti_join_seen",
    "lineage_agg",
    "semantic_blocks",
    "required_fields",
    "link_coalesce",
    "domain_extract",
    "like_search",
    "registry_crud",
    "worker_info",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_pipeline": q_extract_pipeline,
        "rss_parse": q_rss_parse,
        "tag_strip": q_tag_strip,
        "date_parse_fallback": q_date_parse_fallback,
        "dedup_exact": q_dedup_exact,
        "anti_join_seen": q_anti_join_seen,
        "lineage_agg": q_lineage_agg,
        "semantic_blocks": q_semantic_blocks,
        "required_fields": q_required_fields,
        "link_coalesce": q_link_coalesce,
        "domain_extract": q_domain_extract,
        "like_search": q_like_search,
        "registry_crud": q_registry_crud,
        "worker_info": q_worker_info,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_pipeline": """
WITH base AS (
  SELECT 'https://' || source || '.example.com/world-news/' || CAST(doc_id AS VARCHAR) AS id,
         substr(text, 1, 40) AS title,
         'https://' || source || '.example.com/world-news/' || CAST(doc_id AS VARCHAR) AS link,
         substr(text, 1, 80) AS description,
         text,
         doc_id,
         source
  FROM documents
)
SELECT id, title, link,
       source || '.example.com' AS source,
       CAST(TIMESTAMP '2025-01-05 10:00:00' + (doc_id % 60) * INTERVAL 1 SECOND
            AS VARCHAR) AS pub_date,
       CASE WHEN doc_id % 4 = 0
            THEN 'https://cdn.example/' || CAST(doc_id AS VARCHAR) || '.jpg'
            ELSE NULL END AS photo_path,
       text AS text
FROM base
WHERE title IS NOT NULL AND length(title) > 0
  AND description IS NOT NULL AND length(description) > 0
""",
        "rss_parse": """
SELECT 'https://' || source || '.example.com/world-news/'
         || CAST(doc_id AS VARCHAR) AS id,
       trim(substr(text, 1, 40)) AS title,
       'https://' || source || '.example.com/world-news/'
         || CAST(doc_id AS VARCHAR) AS link,
       trim(substr(text, 1, 80)) AS description,
       '<p>' || text || '</p>' AS content,
       'Sun, 05 Jan 2025 10:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
         || ' +0000' AS pub_date,
       CASE WHEN doc_id % 4 = 0
            THEN 'https://cdn.example/' || CAST(doc_id AS VARCHAR) || '.jpg'
       END AS photo_ref
FROM documents WHERE text IS NOT NULL
""",
        "tag_strip": """
SELECT doc_id,
       regexp_replace('<p>' || text || '</p><br>', '<[^>]*>', '', 'g') AS clean_text
FROM documents
""",
        "date_parse_fallback": """
SELECT event_id,
       strftime(coalesce(
         try_cast(CASE WHEN event_id % 10 = 0 THEN 'garbage'
                       ELSE strftime(ts, '%Y-%m-%d %H:%M:%S.%f') END AS TIMESTAMP),
         TIMESTAMP '2025-01-15 12:00:00'), '%Y-%m-%d %H:%M:%S.%f') AS parsed_ts
FROM events
""",
        "dedup_exact": """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY 1
""",
        "anti_join_seen": """
SELECT doc_id, source FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM documents s
                  WHERE s.doc_id % 7 = 0 AND s.doc_id = d.doc_id)
""",
        "lineage_agg": """
SELECT CAST(doc_id % 16 AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(n_chars) AS BIGINT) AS byte_count
FROM documents GROUP BY 1
""",
        "semantic_blocks": """
SELECT doc_id, text AS block_text FROM documents
""",
        "required_fields": """
SELECT doc_id, source FROM documents
WHERE text IS NOT NULL AND length(text) > 0 AND lang IS NOT NULL AND n_chars >= 50
""",
        "link_coalesce": """
SELECT doc_id, coalesce(nullif(lang, ''), source) AS lang_or_source FROM documents
""",
        "domain_extract": """
SELECT doc_id,
       CASE WHEN regexp_extract(u, '^https?://([^/]+)', 1) <> ''
            THEN regexp_extract(u, '^https?://([^/]+)', 1) ELSE u END AS domain
FROM (SELECT doc_id,
             'https://' || source || '.example.com/a/' || CAST(doc_id AS VARCHAR) AS u
      FROM documents)
""",
        "like_search": """
SELECT doc_id, source FROM documents
WHERE source LIKE '%1%' OR text LIKE '%spark%'
""",
        "registry_crud": """
SELECT * FROM (VALUES
  (2, 'Sky News World', 'https://feeds.skynews.com/feeds/rss/world.xml', true, 1800),
  (3, 'BBC World', 'https://feeds.bbci.co.uk/news/world/rss.xml', true, 3600)
) AS t(id, name, link, run_at_launch, interval_secs)
""",
        "worker_info": """
SELECT source AS source_name,
       'https://' || source || '.example.com/feed.xml' AS source_url,
       true AS is_launched,
       3 AS max_retries, 100 AS timeout, 3600 AS interval_secs,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE source = 'src3' GROUP BY source
""",
    }
