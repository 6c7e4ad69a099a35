"""Incremental dedup against a persisted signature index."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.incremental import (
    build_signature_index, dedup_against_index)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "how vexingly quick daft zebras jump today"),
]


@pytest.fixture(scope="module")
def index(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    return build_signature_index(df, n_hashes=4, rows_per_band=2
                                 ).localCheckpoint(eager=True)


def test_exact_copy_dropped_fresh_doc_survives(spark, index):
    batch = spark.createDataFrame([
        (101, "the quick brown fox jumps over the lazy dog"),  # copy of 1
        (102, "completely novel sentence about spark data layouts"),
    ], ["doc_id", "text"])
    out = dedup_against_index(batch, index, n_hashes=4, rows_per_band=2)
    assert [r.doc_id for r in out.collect()] == [102]


def test_near_dup_single_band_hit_is_enough(spark, index):
    # one word changed: most shingles (and hence w.h.p. some full band)
    # survive -> dropped; assert via the LSH rule itself, not chance:
    # a doc whose band keys intersect the index must drop.
    batch = spark.createDataFrame([
        (201, "the quick brown fox jumps over the sleepy dog"),
    ], ["doc_id", "text"])
    bands = build_signature_index(batch, n_hashes=4, rows_per_band=2)
    expected_drop = bands.join(
        index.select("band", "band_key"), ["band", "band_key"],
        "left_semi").count() > 0
    out = dedup_against_index(batch, index, n_hashes=4, rows_per_band=2)
    assert (out.count() == 0) == expected_drop


def test_batch_internal_dups_pass_through(spark, index):
    # the operator dedups batch-vs-index ONLY: two identical fresh docs
    # both survive (batch-internal dedup is exact_dedup's job, run after
    # acceptance) — documents the contract.
    batch = spark.createDataFrame([
        (301, "zephyrs quietly vex bold mime jockeys"),
        (302, "zephyrs quietly vex bold mime jockeys"),
    ], ["doc_id", "text"])
    out = dedup_against_index(batch, index, n_hashes=4, rows_per_band=2)
    assert out.count() == 2


def test_broadcast_hint_in_plan(spark, index):
    batch = spark.createDataFrame([(401, "some fresh text here ok")],
                                  ["doc_id", "text"])
    out = dedup_against_index(batch, index, n_hashes=4, rows_per_band=2,
                              broadcast_index=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
