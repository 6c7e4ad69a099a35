"""Physical-plan assertions: the scale properties the engine promises are
locked here so a regression shows up as a failing test, not a slow cluster.

Checked: parquet predicate pushdown, broadcast of small join sides (never
a shuffle of the big side for anti-joins / lookups), two-stage map-side
partial aggregation, whole-stage codegen on scalar paths, and the absence
of nested-loop/cartesian joins in every pair-mining plan."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("NRS_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod
    from corpus_lab import registry
    return {**entrymod.queries(), **registry.queries()}


def test_filter_pushdown_reaches_parquet_scan(spark, queries):
    p = _plan(queries["required_fields"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(n_chars)" in p
    assert "GreaterThanOrEqual(n_chars,50)" in p


def test_column_pruning_on_projection_queries(spark, queries):
    # a 2-column projection must not scan all 5 documents columns
    p = _plan(queries["token_count"](spark, SF_DIR))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_anti_join_broadcasts_small_seen_side(spark, queries):
    p = _plan(queries["anti_join_seen"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_salted_agg_is_two_stage_partial(spark, queries):
    # salt stage + combine stage, each with partial+final HashAggregate
    p = _plan(queries["publisher_stats"](spark, SF_DIR))
    assert p.count("HashAggregate") == 4


def test_scalar_paths_whole_stage_codegen(spark, queries):
    for q in ("tag_strip", "token_count", "quality_score", "lang_id"):
        assert "*(" in _plan(queries[q](spark, SF_DIR)), f"{q} not codegen'd"


def test_no_nested_loop_in_any_pair_mining_plan(spark, queries):
    for q in ("minhash_pairs", "ngram_jaccard", "simhash_near_dup",
              "simhash_wide_near_dup", "simhash128_near_dup",
              "embedding_near_dup_lsh"):
        p = _plan(queries[q](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in p, q
        assert "CartesianProduct" not in p, q


def test_worker_info_lookup_never_shuffles_stats(spark, queries):
    p = _plan(queries["worker_info"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_feed_parse_plan_is_narrow(spark):
    # feed -> items is one Arrow stage: no exchange, no generate
    from news_rss_spark.sources.rss_xml import feed_items
    feeds = spark.createDataFrame([("f", "<rss/>")], "feed_id string, xml string")
    p = _plan(feed_items(feeds))
    assert "Exchange" not in p and "Generate" not in p


def test_warc_parse_plan_is_narrow(spark):
    # WARC file -> records is one Arrow stage: record fan-out happens
    # inside the batch, so no exchange and no generate appear
    from corpus_lab.sources.warc import warc_records
    files = spark.createDataFrame([("f", bytearray(b""))],
                                  "file_id string, content binary")
    p = _plan(warc_records(files))
    assert "Exchange" not in p and "Generate" not in p


def test_bucketed_tables_join_without_shuffle(spark):
    """Co-located join via bucketing (the Iceberg bucket-transform analog
    Spark can express natively): two tables bucketBy(8, doc_id) sorted on
    the key join with NO Exchange on either side — at 100 TB this is the
    difference between a free join and shuffling both tables."""
    a = spark.range(0, 5000).withColumnRenamed("id", "doc_id") \
        .withColumn("x", F.col("doc_id") * 2)
    b = spark.range(0, 5000).withColumnRenamed("id", "doc_id") \
        .withColumn("y", F.col("doc_id") + 1)
    for name, df in (("nrs_bkt_a", a), ("nrs_bkt_b", b)):
        (df.write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
           .saveAsTable(name))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("nrs_bkt_a").join(
                spark.table("nrs_bkt_b"), on="doc_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan  # bucket layout == join layout
            assert joined.count() == 5000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS nrs_bkt_a")
        spark.sql("DROP TABLE IF EXISTS nrs_bkt_b")


def test_ivf_cell_layout_prunes_partitions(spark, tmp_path):
    """The IVF scale path: a table written partitionBy(cell) turns the
    n_probe cell filter into partition PRUNING — the scan touches
    n_probe/n_cells of the data, visible as PartitionFilters + a pruned
    partition count in the plan."""
    import numpy as np
    from corpus_lab.operators.similarity import (
        train_ivf_centroids, with_ivf_cell)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = train_ivf_centroids(e, n_cells=8, seed=42)
    t = str(tmp_path / "ivf")
    with_ivf_cell(e, cents).write.partitionBy("cell").parquet(t)

    probed = spark.read.parquet(t).filter(F.col("cell").isin([1, 3]))
    p = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "cell" in p.split("PartitionFilters")[1][:80]
    # pruned scan reads only the probed cells' files
    n_cells_read = probed.select("cell").distinct().count()
    assert n_cells_read <= 2
    assert "PushedFilters" in p


def test_cms_estimate_broadcasts_counters(spark, queries):
    """The CMS point-estimate join must broadcast the d*w counter
    relation — candidates are corpus-sized and must not shuffle for the
    join (their own distinct is the only exchange they pay)."""
    p = _plan(queries["cms_token_counts"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    # the counters (build) side, not the candidates, is broadcast:
    # no sort-merge join anywhere in the estimate path
    assert "SortMergeJoin" not in p


def test_star_cc_per_round_has_no_nested_loop(spark):
    """One large-star/small-star round compiles to groupBy + equi-joins
    only — never a cartesian/nested-loop product."""
    from corpus_lab.operators.components import connected_components_star
    nodes = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    pairs = nodes.filter("doc_id > 0").select(
        F.col("doc_id").alias("a"), (F.col("doc_id") - 1).alias("b"))
    out = connected_components_star(nodes, pairs, max_iter=2)
    p = _plan(out)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
