"""Scalar quantization: encode correctness vs numpy, clipping, rank
agreement with exact dot products, and plan shape."""

import numpy as np
import pytest

from corpus_lab.operators.quantize import sq_dot_topk, sq_encode


def np_encode(v, amax, levels=256):
    x = np.clip(np.asarray(v, dtype=np.float64), -amax, amax)
    scaled = x * ((levels // 2 - 1) / amax)
    # Spark/DuckDB round() = half away from zero
    return np.where(scaled >= 0, np.floor(scaled + 0.5),
                    np.ceil(scaled - 0.5)).astype(int)


class TestSqEncode:
    def test_matches_numpy(self, spark):
        rng = np.random.default_rng(5)
        vecs = rng.uniform(-0.6, 0.6, size=(50, 16)).tolist()
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r["codes"]
               for r in sq_encode(df, amax=1.0).collect()}
        for i, v in enumerate(vecs):
            assert got[i] == np_encode(v, 1.0).tolist(), i

    def test_clipping_symmetric_extremes(self, spark):
        df = spark.createDataFrame(
            [(0, [-5.0, -1.0, 0.0, 1.0, 5.0])],
            "vec_id long, embedding array<double>")
        codes = sq_encode(df, amax=1.0).collect()[0]["codes"]
        assert codes == [-127, -127, 0, 127, 127]

    def test_validation(self, spark):
        df = spark.createDataFrame([(0, [0.0])],
                                   "vec_id long, embedding array<double>")
        with pytest.raises(ValueError):
            sq_encode(df, amax=0.0)
        with pytest.raises(ValueError):
            sq_encode(df, levels=2)

    def test_encode_plan_no_shuffle(self, spark):
        df = spark.createDataFrame([(0, [0.0, 1.0])],
                                   "vec_id long, embedding array<double>")
        plan = sq_encode(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestSqTopk:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.default_rng(11)
        base = rng.uniform(-0.5, 0.5, size=(300, 32))
        base[7] = base[0] + rng.normal(0, 0.01, 32)  # planted near-dup
        return spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(300)],
            "vec_id long, embedding array<double>"), base

    def test_integer_scores_match_numpy(self, spark, vecs):
        df, base = vecs
        rows = sq_dot_topk(df, query_id=0, k=5).collect()
        codes = np.array([np_encode(v, 1.0) for v in base])
        dots = codes @ codes[0]
        order = sorted(range(300), key=lambda i: (-dots[i], i))[:5]
        assert [r["vec_id"] for r in rows] == order
        assert [r["dot"] for r in rows] == [int(dots[i]) for i in order]

    def test_rank_agreement_with_exact_dot(self, spark, vecs):
        """Symmetric codes track the true dot ranking: recall@10 vs the
        exact float dot top-10 is high, and the planted twin of the
        query lands in the code top-10 (the property shifted unsigned
        codes break)."""
        df, base = vecs
        got = {r["vec_id"] for r in sq_dot_topk(df, query_id=0, k=10)
               .collect()}
        exact = np.argsort(-(base @ base[0]))[:10]
        assert len(got & set(exact.tolist())) >= 8
        assert 7 in got

    def test_topk_plan_shape(self, spark, vecs):
        df, _ = vecs
        plan = sq_dot_topk(df, query_id=0, k=5)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        # 1-row broadcast side: nested-loop over exactly one row is the
        # documented broadcast-1-row pattern, never a sort-merge
        assert "Broadcast" in plan
        assert "SortMergeJoin" not in plan
