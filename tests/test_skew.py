"""Skew-salted join (operators/skew.py): equality with the plain join on
skewed data (inner + left, null keys, empty right), salt fan-out, and the
shuffled (not nested-loop) physical plan."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.skew import salted_join


def _skewed(spark):
    # one hot key (90% of rows) + a tail + a null key
    rows = [(i, "hot" if i % 10 else f"k{i}", float(i)) for i in range(200)]
    rows.append((999, None, 0.0))
    left = spark.createDataFrame(rows, "id long, key string, v double")
    right = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("unmatched", 3)],
        "key string, dim long")
    return left, right


class TestSaltedJoin:
    def test_inner_equals_plain_join(self, spark):
        left, right = _skewed(spark)
        plain = sorted(tuple(r) for r in left.join(right, "key").collect())
        for n in (2, 8):
            got = sorted(tuple(r) for r in
                         salted_join(left, right, "key", n_salt=n).collect())
            assert got == plain

    def test_left_join_keeps_unmatched_and_null_keys(self, spark):
        left, right = _skewed(spark)
        plain = sorted(tuple(str(x) for x in r) for r in
                       left.join(right, "key", "left").collect())
        got = sorted(tuple(str(x) for x in r) for r in
                     salted_join(left, right, "key", how="left").collect())
        assert got == plain
        assert len(got) == 201  # every left row survives, incl. null key

    def test_hot_key_actually_fans_out(self, spark):
        left, _ = _skewed(spark)
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
        n = (left.filter(F.col("key") == "hot")
             .select(salt.alias("s")).distinct().count())
        assert n >= 4  # the hot key spreads over most of the 8 sub-keys

    def test_plan_is_shuffled_equi_join(self, spark):
        left, right = _skewed(spark)
        out = salted_join(left, right, "key")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_unsupported_how_raises(self, spark):
        left, right = _skewed(spark)
        with pytest.raises(ValueError):
            salted_join(left, right, "key", how="full")


class TestSkewProfile:
    def test_profile_matches_hand_computation(self, spark):
        from corpus_lab.operators.skew import skew_profile
        rows = ([("hot", i) for i in range(6)]
                + [("warm", i) for i in range(3)]
                + [("cold", 0)])
        df = spark.createDataFrame(rows, ["k", "v"])
        got = sorted(skew_profile(df, "k").collect(),
                     key=lambda r: r["key_rank"])
        assert [(r["key"], r["n_rows"], r["key_rank"]) for r in got] == \
            [("hot", 6, 1), ("warm", 3, 2), ("cold", 1, 3)]
        assert [r["share"] for r in got] == [0.6, 0.3, 0.1]
        assert [r["cum_share"] for r in got] == [0.6, 0.9, 1.0]

    def test_null_key_profiles_and_ties_break_on_key(self, spark):
        from corpus_lab.operators.skew import skew_profile
        rows = [("a", 1), ("a", 2), (None, 1), (None, 2), ("b", 1)]
        df = spark.createDataFrame(rows, ["k", "v"])
        got = sorted(skew_profile(df, "k").collect(),
                     key=lambda r: r["key_rank"])
        # tie between 'a' and NULL at count 2: key ASC NULLS LAST
        assert [(r["key"], r["key_rank"]) for r in got] == \
            [("a", 1), (None, 2), ("b", 3)]

    def test_top_k_truncation(self, spark):
        from corpus_lab.operators.skew import skew_profile
        df = spark.createDataFrame(
            [(f"k{i % 7}", i) for i in range(70)], ["k", "v"])
        got = skew_profile(df, "k", top_k=3).collect()
        assert len(got) == 3
        assert all(r["key_rank"] <= 3 for r in got)
