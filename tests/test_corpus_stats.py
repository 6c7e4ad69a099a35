"""Corpus analytics operators: histogram edges, quantile exactness,
deterministic sampling, PMI semantics."""

import hashlib
import math

from pyspark.sql import functions as F

from corpus_lab.operators.corpus_stats import (
    group_quantiles,
    histogram,
    pmi_pairs,
    uniform_sample_k,
)


class TestHistogram:
    def test_edges_and_counts(self, spark):
        df = spark.createDataFrame(
            [(v,) for v in [0, 9, 10, 19, 20, 99, 100, -1]], "x long")
        out = {r["bin"]: (r["n"], r["bin_lo"])
               for r in histogram(df, "x", 0, 100, 10).collect()}
        # 100 and -1 out of range; boundary 10 starts bin 1, 20 bin 2
        assert out[0] == (2, 0.0)
        assert out[1] == (2, 10.0)
        assert out[2] == (1, 20.0)
        assert out[9] == (1, 90.0)
        assert sum(n for n, _ in out.values()) == 6

    def test_grouped(self, spark):
        df = spark.createDataFrame(
            [("a", 5), ("a", 6), ("b", 5)], "g string, x long")
        out = {(r["g"], r["bin"]): r["n"]
               for r in histogram(df, "x", 0, 10, 2, "g").collect()}
        assert out == {("a", 1): 2, ("b", 1): 1}


class TestGroupQuantiles:
    def test_interpolation_matches_numpy_convention(self, spark):
        vals = [1.0, 2.0, 3.0, 10.0]
        df = spark.createDataFrame([("g", v) for v in vals],
                                   "g string, x double")
        out = {r["p"]: r["q"] for r in
               group_quantiles(df, "g", "x", [0.25, 0.5, 0.9]).collect()}
        # (n-1)*p rank linear interpolation
        assert out[0.25] == 1.75
        assert out[0.5] == 2.5
        # rank (n-1)*0.9 = 2.7 -> 3.0 + 0.7 * (10.0 - 3.0)
        assert abs(out[0.9] - 7.9) < 1e-12

    def test_per_group_independence(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 100.0)], "g string, x double")
        out = {(r["g"], r["p"]): r["q"] for r in
               group_quantiles(df, "g", "x", [0.5]).collect()}
        assert out == {("a", 0.5): 2.0, ("b", 0.5): 100.0}


class TestUniformSampleK:
    def test_deterministic_and_sized(self, spark):
        df = spark.createDataFrame(
            [(i, "g%d" % (i % 3)) for i in range(300)],
            "doc_id long, g string")
        a = sorted(r["doc_id"] for r in
                   uniform_sample_k(df, "g", 10).collect())
        b = sorted(r["doc_id"] for r in
                   uniform_sample_k(df.repartition(17), "g", 10).collect())
        assert a == b and len(a) == 30

    def test_matches_md5_order(self, spark):
        df = spark.createDataFrame([(i, "g") for i in range(50)],
                                   "doc_id long, g string")
        got = sorted(r["doc_id"] for r in
                     uniform_sample_k(df, "g", 5, salt="s1").collect())
        want = sorted(sorted(
            range(50),
            key=lambda i: hashlib.md5(f"s1:{i}".encode()).hexdigest())[:5])
        assert got == want

    def test_small_groups_kept_whole(self, spark):
        df = spark.createDataFrame([(1, "g"), (2, "g")], "doc_id long, g string")
        assert uniform_sample_k(df, "g", 10).count() == 2


class TestPmiPairs:
    def test_collocation_beats_independent_pair(self, spark):
        # "ab bb" glued together in every doc; "xx"/"yy" spread apart
        rows = [(i, "ab bb xx %d yy filler%d" % (i, i)) for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pmi_pairs(df, window=2, min_count=5, top_n=10).collect()
        pairs = {(r["a"], r["b"]): r["pmi"] for r in out}
        assert ("ab", "bb") in pairs
        # xx-yy are 2+ apart with window=2 via the distinct middle token
        # (xx %d yy): distance 2 -> within window, but diluted by unique
        # middles; ab-bb must rank at least as high
        top = out[0]
        assert pairs[("ab", "bb")] >= max(pairs.values()) - 1e-9

    def test_window_limits_distance(self, spark):
        df = spark.createDataFrame(
            [(i, "aa x1 x2 x3 zz tail%d" % i) for i in range(10)],
            "doc_id long, text string")
        near = {(r["a"], r["b"]) for r in
                pmi_pairs(df, window=4, min_count=5, top_n=100).collect()}
        far = {(r["a"], r["b"]) for r in
               pmi_pairs(df, window=3, min_count=5, top_n=100).collect()}
        assert ("aa", "zz") in near
        assert ("aa", "zz") not in far

    def test_formula_hand_checked(self, spark):
        # 10 docs of "p q", nothing else: one pair type
        df = spark.createDataFrame([(i, "p q") for i in range(10)],
                                   "doc_id long, text string")
        out = pmi_pairs(df, window=3, min_count=1, top_n=10).collect()
        assert len(out) == 1
        r = out[0]
        # n_ab=10, total=10, n_a=n_b=10 -> pmi = ln(10*10/(10*10)) = 0
        assert (r["a"], r["b"], r["n_ab"]) == ("p", "q", 10)
        assert r["pmi"] == 0.0

    def test_no_self_pairs_and_unordered(self, spark):
        df = spark.createDataFrame([(1, "w w v")], "doc_id long, text string")
        out = pmi_pairs(df, window=2, min_count=1, top_n=10).collect()
        keys = {(r["a"], r["b"]) for r in out}
        assert ("w", "w") not in keys
        assert all(a <= b for a, b in keys)


def test_histogram_rejects_uneven_bins(spark):
    import pytest
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="not divisible"):
        histogram(df, "x", 0, 10, 3)


def test_rollup_levels_and_markers(spark):
    from corpus_lab.operators.corpus_stats import rollup_counts
    df = spark.createDataFrame(
        [("a", "en", 10), ("a", "de", 20), ("b", "en", 5)],
        "source string, lang string, n_chars long")
    out = {(r["source"], r["lang"]): (r["n_docs"], r["total"])
           for r in rollup_counts(df, ["source", "lang"]).collect()}
    assert out[("a", "en")] == (1, 10)
    assert out[("a", "<all>")] == (2, 30)
    assert out[("b", "<all>")] == (1, 5)
    assert out[("<all>", "<all>")] == (3, 35)
    assert ("<all>", "en") not in out  # rollup, not cube


def test_pivot_matrix_with_zeros(spark):
    from corpus_lab.operators.corpus_stats import pivot_counts
    df = spark.createDataFrame(
        [("a", "en"), ("a", "en"), ("a", "de"), ("b", "en")],
        "source string, lang string")
    out = {r["source"]: (r["en"], r["de"], r["fr"])
           for r in pivot_counts(df, "source", "lang",
                                 ["en", "de", "fr"]).collect()}
    assert out == {"a": (2, 1, 0), "b": (1, 0, 0)}


def test_rollup_int_dim_cast_explicitly(spark):
    from corpus_lab.operators.corpus_stats import rollup_counts
    df = spark.createDataFrame([("a", 2024, 1), ("a", 2025, 2)],
                               "source string, year int, n_chars long")
    out = {(r["source"], r["year"]): r["n_docs"]
           for r in rollup_counts(df, ["source", "year"]).collect()}
    assert out[("a", "2024")] == 1    # string by contract
    assert out[("a", "<all>")] == 2


def test_pivot_value_with_dot(spark):
    from corpus_lab.operators.corpus_stats import pivot_counts
    df = spark.createDataFrame([("a", "zh.Hans"), ("a", "en")],
                               "source string, lang string")
    row = pivot_counts(df, "source", "lang", ["zh.Hans", "en"]).collect()[0]
    assert (row["zh.Hans"], row["en"]) == (1, 1)


def test_prefix_sum_rejects_string_order_col(spark):
    import pytest
    from corpus_lab.operators.packing import with_global_prefix_sum
    df = spark.createDataFrame([("u", 1)], "url string, n long")
    with pytest.raises(TypeError, match="numeric order keys"):
        with_global_prefix_sum(df, "url", "n")


class TestWeightedSampleK:
    def _py_sample(self, rows, k, salt="wsample-v1"):
        import math
        keyed = []
        for i, w in rows:
            draw = int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)
            u = (draw + 0.5) / float(1 << 32)
            keyed.append((-math.log(u) / w, i))
        return {i for _, i in sorted(keyed)[:k]}

    def test_matches_reference_selection(self, spark):
        from corpus_lab.operators.corpus_stats import weighted_sample_k
        rows = [(i, "g", float(1 + i % 7)) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, g string, w double")
        got = {r["doc_id"] for r in
               weighted_sample_k(df, "g", "w", k=20).collect()}
        assert got == self._py_sample([(i, 1.0 + i % 7)
                                       for i in range(200)], 20)

    def test_weight_bias(self, spark):
        from corpus_lab.operators.corpus_stats import weighted_sample_k
        # 50 heavy (w=50) + 450 light (w=1) rows in one group: the
        # heavy minority must be strongly over-represented in a k=100 draw
        rows = [(i, "g", 50.0 if i < 50 else 1.0) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id long, g string, w double")
        got = [r["doc_id"] for r in
               weighted_sample_k(df, "g", "w", k=100).collect()]
        heavy = sum(1 for i in got if i < 50)
        assert heavy >= 35  # expectation ~48; uniform draw would give ~10

    def test_zero_and_null_weights_excluded(self, spark):
        from corpus_lab.operators.corpus_stats import weighted_sample_k
        df = spark.createDataFrame(
            [(1, "g", 0.0), (2, "g", None), (3, "g", 2.0)],
            "doc_id long, g string, w double")
        got = {r["doc_id"] for r in
               weighted_sample_k(df, "g", "w", k=10).collect()}
        assert got == {3}

    def test_deterministic_under_repartition(self, spark):
        from corpus_lab.operators.corpus_stats import weighted_sample_k
        rows = [(i, "g%d" % (i % 2), float(1 + i % 5)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, g string, w double")
        a = sorted(r["doc_id"] for r in
                   weighted_sample_k(df, "g", "w", 15).collect())
        b = sorted(r["doc_id"] for r in
                   weighted_sample_k(df.repartition(13), "g", "w", 15)
                   .collect())
        assert a == b


class TestSampledQuantiles:
    def _df(self, spark, n=2000):
        return (spark.range(n)
                .select(F.col("id").alias("doc_id"),
                        F.lit("g").alias("g"),
                        F.col("id").cast("double").alias("v")))

    def test_small_group_is_exact(self, spark):
        from corpus_lab.operators.corpus_stats import (
            group_quantiles, sampled_quantiles)
        df = self._df(spark, 50)
        probs = [0.1, 0.5, 0.9]
        exact = {(r["g"], r["p"]): r["q"] for r in
                 group_quantiles(df, "g", "v", probs).collect()}
        sk = {(r["g"], r["p"]): r["q"] for r in
              sampled_quantiles(df, "g", "v", probs, k=100).collect()}
        assert sk == exact  # k > group size: the sample IS the group

    def test_dkw_error_bound(self, spark):
        from corpus_lab.operators.corpus_stats import sampled_quantiles
        # uniform 0..1999: true q(p) ~ 2000p; DKW at k=1024, 95%:
        # CDF error <= sqrt(ln(2/0.05)/(2*1024)) ~ 0.0424 -> ~85 units.
        # The md5 draw is fixed, so this is a deterministic regression
        # lock, with the DKW band as the sanity envelope.
        out = sampled_quantiles(self._df(spark), "g", "v",
                                [0.25, 0.5, 0.75], k=1024).collect()
        for r in out:
            assert abs(r["q"] - 2000 * r["p"]) <= 0.0424 * 2000 + 1

    def test_mergeable_like_bottomk(self, spark):
        from corpus_lab.operators.corpus_stats import sampled_quantiles
        # sharded sampling then re-rank == whole-corpus sampling: the k
        # smallest draws of the union are within the union of per-shard
        # k smallest.  Emulate by running on each half with the SAME
        # salt as the sketch, unioning the samples, and re-running.
        from corpus_lab.operators.corpus_stats import uniform_sample_k
        df = self._df(spark, 600)
        h1, h2 = df.filter("doc_id < 300"), df.filter("doc_id >= 300")
        merged = (uniform_sample_k(h1, "g", 64, salt="qsketch-v1")
                  .unionByName(uniform_sample_k(h2, "g", 64,
                                                salt="qsketch-v1")))
        via_shards = sorted(r["q"] for r in sampled_quantiles(
            merged, "g", "v", [0.5], k=64).collect())
        direct = sorted(r["q"] for r in sampled_quantiles(
            df, "g", "v", [0.5], k=64).collect())
        assert via_shards == direct

    def test_k_validation_and_determinism(self, spark):
        import pytest
        from corpus_lab.operators.corpus_stats import sampled_quantiles
        with pytest.raises(ValueError):
            sampled_quantiles(self._df(spark), "g", "v", [0.5], k=0)
        df = self._df(spark, 500)
        a = sorted((r["p"], r["q"]) for r in
                   sampled_quantiles(df, "g", "v", [0.5], k=32).collect())
        b = sorted((r["p"], r["q"]) for r in
                   sampled_quantiles(df.repartition(17), "g", "v",
                                     [0.5], k=32).collect())
        assert a == b


class TestCorpusHealthReport:
    def test_hand_checked(self, spark):
        from corpus_lab.operators.corpus_stats import corpus_health_report
        rows = [
            (1, "aaaa", "en", "s1"), (2, "aaaa", "en", "s1"),
            (3, "bb", "fr", "s2"), (4, "cccccc", "en", "s1"),
            (5, None, "de", "s3"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string")
        r = corpus_health_report(df).collect()[0]
        assert r["n_docs"] == 4
        assert r["total_bytes"] == 4 + 4 + 2 + 6
        assert r["n_langs"] == 2 and r["n_sources"] == 2
        assert r["dup_rate"] == 0.25  # 3 distinct texts over 4 docs
        assert r["p50_bytes"] == 4 and r["p90_bytes"] == 6
