"""Bloom-filter-pruned anti-join (operators/bloom.py)."""

from pyspark.sql import functions as F

from corpus_lab.operators.bloom import (
    bloom_anti_join,
    bloom_prune,
    bloom_words,
)


def _corpus(spark, n=400):
    return spark.range(n).select(
        F.concat(F.lit("https://ex.com/a/"), F.col("id").cast("string"))
        .alias("url"),
        (F.col("id") % 7).alias("extra"))


def _seen(spark, n=400):
    return _corpus(spark, n).filter(F.col("extra") < 3).select("url")


def test_bloom_words_bit_math(spark):
    seen = spark.createDataFrame([("k1",), ("k2",)], ["url"])
    words = bloom_words(seen, "url", m_bits=1 << 10, k=3).collect()
    # at most k * |seen| set bits spread over words; every word nonzero
    assert 1 <= len(words) <= 6
    assert all(r["word"] != 0 for r in words)
    assert all(0 <= r["word_idx"] < (1 << 10) // 64 for r in words)


def test_bloom_no_false_negatives(spark):
    seen = _seen(spark)
    words = bloom_words(seen, "url", m_bits=1 << 14, k=3)
    tagged = bloom_prune(_corpus(spark), words, "url", m_bits=1 << 14, k=3)
    missed = tagged.join(seen, "url", "left_semi") \
                   .filter(~F.col("maybe_seen")).count()
    assert missed == 0


def test_bloom_anti_join_exact_even_with_tiny_filter(spark):
    # m_bits=256 for 170+ seen keys forces plenty of false positives;
    # the exact verify step must still produce the plain anti-join result
    new, seen = _corpus(spark), _seen(spark)
    for m in (1 << 8, 1 << 16):
        got = sorted(r["url"] for r in
                     bloom_anti_join(new, seen, "url", m_bits=m, k=3).collect())
        exp = sorted(r["url"] for r in
                     new.join(seen, "url", "left_anti").collect())
        assert got == exp


def test_bloom_prune_plan_is_broadcast_only(spark):
    words = bloom_words(_seen(spark), "url", m_bits=1 << 14, k=3)
    tagged = bloom_prune(_corpus(spark), words, "url", m_bits=1 << 14, k=3)
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 3
    # the big side reaches the flag without any shuffle
    assert "Exchange hashpartitioning" not in plan.split("BroadcastHashJoin")[0]
