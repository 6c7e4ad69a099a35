"""HyperLogLog sketch: accuracy envelope, mergeability, determinism, and
the one-aggregation plan shape."""

import hashlib
import math

from pyspark.sql import functions as F

from corpus_lab.operators.sketch import (
    hll_alpha,
    hll_distinct,
    hll_estimate,
    hll_registers,
)


def _py_est(vals, p=8):
    """Independent pure-Python reference of the exact same contract."""
    m = 1 << p
    kmax = 60 - p + 1
    regs = {}
    for v in vals:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        b = h % m
        w = h >> p
        rho = kmax if w == 0 else kmax - w.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    s = sum(1 << (kmax - r) for r in regs.values()) \
        + (m - len(regs)) * (1 << kmax)
    raw = hll_alpha(m) * m * m * float(1 << kmax) / s
    zeros = m - len(regs)
    if raw <= 2.5 * m and zeros > 0:
        return round(m * math.log(m / zeros), 6)
    return round(raw, 6)


def _df(spark, n=20000, groups=3):
    return spark.range(n).select(
        (F.col("id") % groups).cast("string").alias("g"),
        F.concat(F.lit("v"),
                 (F.col("id") % 5000).cast("string"),
                 F.lit(":"), (F.col("id") % groups).cast("string"))
        .alias("v")).repartition(9)


def test_matches_pure_python_reference_bit_exactly(spark):
    df = _df(spark)
    got = {r["g"]: r["n_est"] for r in hll_distinct(df, "g", "v").collect()}
    for g in got:
        vals = {r["v"] for r in df.filter(F.col("g") == g).collect()}
        assert got[g] == _py_est(vals)


def test_accuracy_envelope(spark):
    # sigma ~= 1.04/sqrt(m) = 6.5% at p=8; assert a 4-sigma envelope
    df = _df(spark)
    est = {r["g"]: r["n_est"] for r in hll_distinct(df, "g", "v").collect()}
    exact = {r["g"]: r["n"] for r in
             df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
    for g in exact:
        assert abs(est[g] - exact[g]) / exact[g] < 0.26


def test_linear_counting_small_range(spark):
    # 40 distinct values << m: the linear-counting branch, near-exact
    df = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") % 40).cast("string").alias("v"))
    est = hll_distinct(df, "g", "v").collect()[0]["n_est"]
    assert abs(est - 40) / 40 < 0.1


def test_registers_merge_by_max(spark):
    # sketch(A union B) == per-register max of sketch(A), sketch(B)
    df = _df(spark, n=8000)
    a, b = df.filter(F.col("v") < "v25"), df.filter(F.col("v") >= "v25")
    merged = (hll_registers(a, "g", "v").unionAll(hll_registers(b, "g", "v"))
              .groupBy("g", "bucket").agg(F.max("register").alias("register")))
    direct = {(r["g"], r["bucket"]): r["register"]
              for r in hll_registers(df, "g", "v").collect()}
    got = {(r["g"], r["bucket"]): r["register"] for r in merged.collect()}
    assert got == direct
    est_m = {r["g"]: r["n_est"]
             for r in hll_estimate(merged, "g").collect()}
    est_d = {r["g"]: r["n_est"]
             for r in hll_estimate(hll_registers(df, "g", "v"), "g").collect()}
    assert est_m == est_d


def test_deterministic_under_repartition_and_nulls_ignored(spark):
    df = _df(spark, n=5000)
    withnull = df.unionAll(spark.createDataFrame(
        [("0", None)], "g string, v string"))
    a = sorted(tuple(r) for r in hll_distinct(df, "g", "v").collect())
    b = sorted(tuple(r) for r in
               hll_distinct(withnull.repartition(31), "g", "v").collect())
    assert a == b


def test_plan_is_one_partial_agg_shuffle(spark):
    plan = hll_distinct(_df(spark), "g", "v") \
        ._jdf.queryExecution().executedPlan().toString()
    # register build must combine map-side: partial_max before the exchange
    assert "partial_max" in plan
    assert "Join" not in plan


class TestCountMin:
    def _toks(self, spark, words):
        return spark.createDataFrame([(w,) for w in words], "tok string")

    def test_never_undercounts_and_exact_when_wide(self, spark):
        from corpus_lab.operators.sketch import cms_counters, cms_estimate

        words = ["a"] * 7 + ["b"] * 3 + ["c"] * 1
        toks = self._toks(spark, words)
        # wide sketch: w >> distinct values -> collisions vanish -> exact
        counters = cms_counters(toks, "tok", d=3, w=4096)
        est = {r["value"]: r["est"] for r in
               cms_estimate(counters, toks, "tok", d=3, w=4096).collect()}
        assert est == {"a": 7, "b": 3, "c": 1}
        # narrow sketch: collisions allowed, but NEVER an undercount
        c2 = cms_counters(toks, "tok", d=2, w=2)
        est2 = {r["value"]: r["est"] for r in
                cms_estimate(c2, toks, "tok", d=2, w=2).collect()}
        assert est2["a"] >= 7 and est2["b"] >= 3 and est2["c"] >= 1

    def test_counters_merge_by_sum(self, spark):
        """Union + sum of two snapshots' counters == counters of the
        union — the mergeable-relation contract shared with the HLL."""
        from pyspark.sql import functions as F

        from corpus_lab.operators.sketch import cms_counters

        t1 = self._toks(spark, ["x", "y", "x"])
        t2 = self._toks(spark, ["y", "z"])
        merged = (cms_counters(t1, "tok", d=4, w=64)
                  .unionByName(cms_counters(t2, "tok", d=4, w=64))
                  .groupBy("depth", "pos").agg(F.sum("cnt").alias("cnt")))
        direct = cms_counters(t1.unionByName(t2), "tok", d=4, w=64)
        a = {(r["depth"], r["pos"]): r["cnt"] for r in merged.collect()}
        b = {(r["depth"], r["pos"]): r["cnt"] for r in direct.collect()}
        assert a == b

    def test_nulls_ignored_and_bad_params_raise(self, spark):
        import pytest

        from corpus_lab.operators.sketch import cms_counters, cms_estimate

        toks = spark.createDataFrame([("a",), (None,), ("a",)], "tok string")
        counters = cms_counters(toks, "tok", d=2, w=1024)
        est = {r["value"]: r["est"] for r in
               cms_estimate(counters, toks, "tok", d=2, w=1024).collect()}
        assert est == {"a": 2}
        with pytest.raises(ValueError):
            cms_counters(toks, "tok", d=0, w=16)


class TestBottomKOverlap:
    def _df(self, spark, vals):
        return spark.createDataFrame([(v,) for v in vals], "v string")

    def test_exact_regime_equals_true_jaccard(self, spark):
        """k >= |A u B|: the sketch IS the set, so the estimate is the
        exact distinct-value Jaccard."""
        from corpus_lab.operators.sketch import corpus_overlap_estimate
        a = self._df(spark, [f"x{i}" for i in range(30)])
        b = self._df(spark, [f"x{i}" for i in range(20, 50)])
        r = corpus_overlap_estimate(a, b, "v", k=256).collect()[0]
        assert r["k_used"] == 50 and r["n_both"] == 10
        assert r["est_jaccard"] == round(10 / 50, 6)

    def test_estimator_tracks_exact_in_sampling_regime(self, spark):
        from corpus_lab.operators.sketch import corpus_overlap_estimate
        a = self._df(spark, [f"v{i}" for i in range(2000)])
        b = self._df(spark, [f"v{i}" for i in range(1000, 3000)])
        r = corpus_overlap_estimate(a, b, "v", k=256).collect()[0]
        assert r["k_used"] == 256
        # true J = 1000/3000; KMV std err ~ J(1-J)/sqrt(k) -> ~4 sigma band
        assert abs(r["est_jaccard"] - 1 / 3) < 0.12

    def test_duplicates_do_not_bias(self, spark):
        """The sketch is over DISTINCT values: replicating rows must not
        change the estimate."""
        from corpus_lab.operators.sketch import corpus_overlap_estimate
        vals = [f"x{i}" for i in range(30)]
        a1 = self._df(spark, vals)
        a2 = self._df(spark, vals * 5)
        b = self._df(spark, vals[:10])
        r1 = corpus_overlap_estimate(a1, b, "v", k=64).collect()[0]
        r2 = corpus_overlap_estimate(a2, b, "v", k=64).collect()[0]
        assert r1.asDict() == r2.asDict()

    def test_sketch_union_merge_property(self, spark):
        """bottomk(A u B) == re-limit(bottomk(A) u bottomk(B)) — the
        open-state merge rule that lets snapshots combine without
        touching raw data."""
        from corpus_lab.operators.sketch import bottomk_sketch
        import pyspark.sql.functions as F
        a = self._df(spark, [f"p{i}" for i in range(300)])
        b = self._df(spark, [f"q{i}" for i in range(300)])
        direct = [r["h"] for r in bottomk_sketch(
            a.unionByName(b), "v", k=64).orderBy("h").collect()]
        merged_rel = (bottomk_sketch(a, "v", k=64)
                      .unionByName(bottomk_sketch(b, "v", k=64))
                      .distinct().orderBy("h").limit(64))
        merged = [r["h"] for r in merged_rel.orderBy("h").collect()]
        assert direct == merged

    def test_deterministic_under_repartition(self, spark):
        from corpus_lab.operators.sketch import corpus_overlap_estimate
        a = self._df(spark, [f"v{i}" for i in range(500)])
        b = self._df(spark, [f"v{i}" for i in range(250, 750)])
        r1 = corpus_overlap_estimate(a, b, "v", k=128).collect()[0]
        r2 = corpus_overlap_estimate(a.repartition(7), b.repartition(3),
                                     "v", k=128).collect()[0]
        assert r1.asDict() == r2.asDict()

    def test_empty_inputs_pinned_zero(self, spark):
        """Two empty (or all-NULL) value sets: k_used = 0 and the
        estimate is the PINNED 0.0, never NULL or a division error."""
        from corpus_lab.operators.sketch import corpus_overlap_estimate
        empty = spark.createDataFrame([], "v string")
        nulls = spark.createDataFrame([(None,), (None,)], "v string")
        for a, b in [(empty, empty), (nulls, nulls), (empty, nulls)]:
            r = corpus_overlap_estimate(a, b, "v", k=16).collect()[0]
            assert r["k_used"] == 0 and r["n_both"] == 0
            assert r["est_jaccard"] == 0.0
