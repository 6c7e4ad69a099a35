"""Deterministic bottom-k quantile sketch tests (operators/sketch.py)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.sketch import (
    merge_quantile_sketches,
    quantile_sample_sketch,
    sketch_quantile_estimates,
)

QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def reference_estimates(pairs, k, qs=QS):
    """Pure-Python replay: pairs = [(id, value)]."""
    samp = sorted(((hashlib.md5(str(i).encode()).hexdigest(), float(v))
                   for i, v in pairs))[:k]
    vals = sorted(v for _, v in samp)
    n = len(vals)
    return {q: vals[math.floor(q * (n - 1))] for q in qs}


@pytest.fixture(scope="module")
def data(spark):
    pairs = [(i, (i * 7919) % 10007) for i in range(20000)]
    df = spark.createDataFrame(pairs, "doc_id long, val long")
    return df, pairs


class TestQuantileSketch:
    def test_exact_regime(self, spark):
        pairs = [(i, i) for i in range(101)]
        df = spark.createDataFrame(pairs, "doc_id long, val long")
        sk = quantile_sample_sketch(df, "val", k=1000)
        est = {r["q"]: r["est"]
               for r in sketch_quantile_estimates(sk).collect()}
        # k >= n: the sample IS the corpus, estimates are exact
        # nearest-rank quantiles of 0..100
        assert est[0.5] == 50.0
        assert est[0.1] == 10.0
        assert est[0.99] == 99.0

    def test_python_replay_exact(self, data):
        df, pairs = data
        sk = quantile_sample_sketch(df, "val", k=512)
        est = {r["q"]: r["est"]
               for r in sketch_quantile_estimates(sk).collect()}
        assert est == reference_estimates(pairs, 512)

    def test_sampling_regime_rank_error(self, data):
        df, pairs = data
        sk = quantile_sample_sketch(df, "val", k=512)
        est = {r["q"]: r["est"]
               for r in sketch_quantile_estimates(sk).collect()}
        values = sorted(v for _, v in pairs)
        n = len(values)
        for q, e in est.items():
            true_rank = sum(1 for v in values if v <= e) / n
            # DKW-style bound, generous 3/sqrt(k)
            assert abs(true_rank - q) < 3 / math.sqrt(512), (q, true_rank)

    def test_merge_equals_whole(self, spark, data):
        df, _ = data
        a = df.filter("doc_id % 2 = 0")
        b = df.filter("doc_id % 2 = 1")
        merged = merge_quantile_sketches(
            quantile_sample_sketch(a, "val", k=256),
            quantile_sample_sketch(b, "val", k=256), k=256)
        whole = quantile_sample_sketch(df, "val", k=256)
        assert sorted(map(tuple, merged.collect())) \
            == sorted(map(tuple, whole.collect()))

    def test_repartition_deterministic(self, data):
        df, _ = data
        a = quantile_sample_sketch(df, "val", k=128).collect()
        b = quantile_sample_sketch(df.repartition(13), "val", k=128).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_bottom_k_plan(self, data):
        df, _ = data
        plan = quantile_sample_sketch(df, "val", k=64) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, 5), (2, None), (3, 7)], "doc_id long, val long")
        sk = quantile_sample_sketch(df, "val", k=10)
        assert sk.count() == 2
