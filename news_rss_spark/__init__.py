"""news_rss_spark — a PySpark-native reimplementation of the analytics core of
breadrock1/news-rss (reference studied read-only at /root/reference).

The reference is a Rust RSS-ingestion daemon: poll feeds, extract cleaned
article records per item (strip HTML boilerplate, resolve pub dates, capture
lead media), dedup by GUID against a TTL cache, publish to a sink
(reference: src/feeds/rss_feeds/mod.rs:115-211). This package re-expresses
that dataflow Spark-first:

- the per-item extraction kernel (news_rss_spark.kernel) is pure Python,
  unit-testable without Spark, and runs vectorized over Arrow record batches
  via ``mapInArrow`` (news_rss_spark.operators.extraction);
- the GUID dedup cache becomes ``dropDuplicates`` + a left-anti join against
  the sink table with a TTL retention predicate
  (news_rss_spark.operators.dedup);
- the interval poller becomes a batch (or availableNow streaming) trigger;
- the publisher becomes a partitioned parquet/Iceberg append with
  per-partition lineage rows enabling idempotent checkpoint-resume
  (news_rss_spark.plans.pipeline, news_rss_spark.operators.lineage).

Beside the ingestion path sit the feed-source registry
(news_rss_spark.sources.registry), the Iceberg adapter
(news_rss_spark.plans.iceberg) and the semantic-block column functions
(news_rss_spark.functions.semantic_blocks).  The corpus operators built
on top of this package (dedup, ANN, quality, graphs, sketches, media
kernels) are the separate ``corpus_lab`` package; nothing here imports it.
"""

__version__ = "0.1.0"

EXTRACTOR_VERSION = "nrs-extract-1"
