"""Sink compaction: fewer files, identical content, target codec."""

import glob
from datetime import datetime

import pyspark.sql.functions as F

from corpus_lab.plans.compact import compact_sink
from news_rss_spark.plans.pipeline import run_extraction_job
from news_rss_spark.sources.synth import documents_df

NOW = datetime(2025, 1, 15, 12, 0, 0)


def _content_hash(spark, path):
    df = spark.read.parquet(path)
    c = F.md5(F.concat_ws("|", "id", F.to_json("spans"), "status")).alias("h")
    return (df.select(c)
            .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")))
            .first()[0])


def test_compact_preserves_content_and_shrinks_files(spark, tmp_path):
    sink, lineage = str(tmp_path / "sink"), str(tmp_path / "lin")
    docs1 = documents_df(spark, 80, seed=1, num_partitions=4)
    run_extraction_job(spark, docs1, sink, lineage, NOW, "r1", n_buckets=8)
    # simulate streaming-style appends piling extra files into each bucket
    from news_rss_spark.operators.extraction import extract_articles
    from news_rss_spark.operators.lineage import with_bucket
    docs2 = documents_df(spark, 80, seed=2, num_partitions=4)
    extra = with_bucket(extract_articles(docs2, now_utc=NOW), n_buckets=8,
                        key="id").drop("text")
    extra.write.mode("append").partitionBy("bucket").parquet(sink)

    before_files = len(glob.glob(f"{sink}/bucket=*/*.parquet"))
    before_hash = _content_hash(spark, sink)
    before_rows = spark.read.parquet(sink).count()

    n = compact_sink(spark, sink, codec="zstd", files_per_bucket=1)
    assert n == 8

    after_files = glob.glob(f"{sink}/bucket=*/*.parquet")
    assert len(after_files) < before_files
    assert len(after_files) <= 8 + 2  # ~1 file per bucket (hash collisions ok)
    assert all(".zstd." in f or f.endswith(".parquet") for f in after_files)
    assert spark.read.parquet(sink).count() == before_rows
    assert _content_hash(spark, sink) == before_hash


def test_files_per_bucket_salt_splits_buckets(spark, tmp_path):
    """files_per_bucket > 1 must actually produce multiple files per bucket
    (round 1 silently ignored it: hash-partitioning on bucket alone lands
    each bucket in one task)."""
    sink, lineage = str(tmp_path / "sink"), str(tmp_path / "lin")
    docs = documents_df(spark, 200, seed=3, num_partitions=4)
    run_extraction_job(spark, docs, sink, lineage, NOW, "r1", n_buckets=4)
    before_hash = _content_hash(spark, sink)

    compact_sink(spark, sink, codec="zstd", files_per_bucket=3)

    per_bucket = {}
    for f in glob.glob(f"{sink}/bucket=*/*.parquet"):
        b = f.split("bucket=")[1].split("/")[0]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) > 1
    assert _content_hash(spark, sink) == before_hash
