"""Misra-Gries heavy hitters: MG merge semantics, the superset guarantee,
partition-invariance of the exact output, and plan shape."""

import random

import pytest

from pyspark.sql import functions as F

from corpus_lab.operators.heavy_hitters import (
    _merge_mg,
    heavy_hitters,
    mg_candidates,
)


def _exact_hh(tokens, k):
    """Reference: exact counts, strict n/(k+1) threshold."""
    from collections import Counter
    c = Counter(tokens)
    n = len(tokens)
    return {t: m for t, m in c.items() if m * (k + 1) > n}


def _mg_reference(tokens, k):
    """Item-at-a-time Misra-Gries — the classical algorithm the batch
    merge must never under-approximate."""
    counters = {}
    for t in tokens:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            for v in list(counters):
                counters[v] -= 1
                if counters[v] == 0:
                    del counters[v]
    return counters


class TestMergeMg:
    def test_no_overflow_is_exact(self):
        import pandas as pd
        counters = _merge_mg(pd.Series(dtype="int64"),
                             pd.Series({"a": 3, "b": 2}), k=5)
        assert counters.to_dict() == {"a": 3, "b": 2}

    def test_overflow_decrements_by_k_plus_1th(self):
        import pandas as pd
        counters = _merge_mg(pd.Series(dtype="int64"),
                             pd.Series({"a": 5, "b": 3, "c": 1}), k=2)
        # 3rd largest = 1 subtracted from all; c drops
        assert counters.to_dict() == {"a": 4, "b": 2}

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_undercount_bound(self, seed):
        """Every surviving counter undercounts the true count by at most
        n/(k+1) — the MG guarantee — for the batch merge too."""
        import pandas as pd
        rng = random.Random(seed)
        tokens = [f"t{rng.randint(0, 30)}" for _ in range(2000)]
        tokens += ["hot"] * 400
        rng.shuffle(tokens)
        k = 8
        counters = pd.Series(dtype="int64")
        for i in range(0, len(tokens), 100):
            batch = pd.Series(tokens[i:i + 100]).value_counts()
            counters = _merge_mg(counters, batch, k)
        from collections import Counter
        true = Counter(tokens)
        n = len(tokens)
        assert len(counters) <= k
        for t, w in counters.to_dict().items():
            assert true[t] >= w
            assert true[t] - w <= n / (k + 1)
        # superset: every value above threshold survives
        for t, m in true.items():
            if m * (k + 1) > n:
                assert t in counters, t


@pytest.fixture(scope="module")
def token_df(spark):
    rng = random.Random(7)
    toks = [f"w{rng.randint(0, 200)}" for _ in range(5000)]
    toks += ["alpha"] * 900 + ["beta"] * 600 + ["gamma"] * 250
    rng.shuffle(toks)
    return spark.createDataFrame([(t,) for t in toks], "tok string"), toks


class TestHeavyHitters:
    def test_matches_exact_reference(self, spark, token_df):
        df, toks = token_df
        got = {r["tok"]: r["cnt"] for r in heavy_hitters(df, "tok", 10).collect()}
        assert got == _exact_hh(toks, 10)
        assert "alpha" in got  # 900/6750 > 1/11

    def test_partition_invariance(self, spark, token_df):
        df, toks = token_df
        ref = _exact_hh(toks, 20)
        for nparts in (1, 3, 17):
            got = {r["tok"]: r["cnt"]
                   for r in heavy_hitters(df.repartition(nparts), "tok", 20)
                   .collect()}
            assert got == ref, nparts

    def test_candidates_are_superset_and_bounded(self, spark, token_df):
        df, toks = token_df
        k = 10
        df4 = df.repartition(4)
        cands = {r["tok"] for r in mg_candidates(df4, "tok", k).collect()}
        for t in _exact_hh(toks, k):
            assert t in cands
        assert len(cands) <= 4 * k  # <= k per partition

    def test_k_at_least_distinct_returns_all(self, spark):
        df = spark.createDataFrame([("a",), ("a",), ("b",)], "tok string")
        got = {r["tok"]: r["cnt"]
               for r in heavy_hitters(df, "tok", 500).collect()}
        # threshold n/(k+1) < 1 -> every value qualifies with exact counts
        assert got == {"a": 2, "b": 1}

    def test_nulls_ignored(self, spark):
        df = spark.createDataFrame([("a",), (None,), ("a",)], "tok string")
        got = {r["tok"]: r["cnt"]
               for r in heavy_hitters(df, "tok", 1).collect()}
        assert got == {"a": 2}

    def test_k_validation(self, spark):
        df = spark.createDataFrame([("a",)], "tok string")
        with pytest.raises(ValueError):
            mg_candidates(df, "tok", 0)

    def test_recount_join_broadcasts(self, spark, token_df):
        df, _ = token_df
        plan = heavy_hitters(df, "tok", 10)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
