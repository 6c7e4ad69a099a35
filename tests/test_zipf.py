"""Zipf rank-frequency fit tests (operators/drift.py::zipf_fit)."""

import math

import pytest

from corpus_lab.operators.drift import zipf_fit


def fit_reference(counts, top_k):
    """From-scratch OLS replay: counts = {token: freq}."""
    head = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    xs = [math.log10(r + 1) for r in range(len(head))]
    ys = [math.log10(c) for _, c in head]
    n = len(head)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    cov, varx, vary = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
    return (n, cov / varx, (sy - (cov / varx) * sx) / n,
            cov * cov / (varx * vary))


@pytest.fixture(scope="module")
def corpus(spark):
    # planted power-lawish counts: token t_i appears ceil(600/(i+1)) times
    rows = []
    for i in range(40):
        rows.extend([(f"d{i}_{j}", f"t{i:02d}")
                     for j in range(-(-600 // (i + 1)))])
    # pack tokens 10-per-doc so the split path is exercised
    docs, buf = [], []
    for k, (_, tok) in enumerate(rows):
        buf.append(tok)
        if len(buf) == 10:
            docs.append((f"doc{k}", " ".join(buf)))
            buf = []
    if buf:
        docs.append(("doclast", " ".join(buf)))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    counts = {}
    for _, tok in rows:
        counts[tok] = counts.get(tok, 0) + 1
    return df, counts


class TestZipfFit:
    def test_matches_reference_ols(self, corpus):
        df, counts = corpus
        row = zipf_fit(df, top_k=25).collect()[0]
        n, slope, intercept, r2 = fit_reference(counts, 25)
        assert row["n_terms"] == n
        assert row["slope"] == pytest.approx(slope, abs=1e-8)
        assert row["intercept"] == pytest.approx(intercept, abs=1e-8)
        assert row["r2"] == pytest.approx(r2, abs=1e-8)

    def test_planted_slope_near_minus_one(self, corpus):
        df, _ = corpus
        row = zipf_fit(df, top_k=40).collect()[0]
        assert -1.15 < row["slope"] < -0.85
        assert row["r2"] > 0.98

    def test_repartition_deterministic(self, corpus):
        df, _ = corpus
        a = zipf_fit(df, top_k=30).collect()[0]
        b = zipf_fit(df.repartition(7), top_k=30).collect()[0]
        assert a == b

    def test_head_bounded_plan(self, corpus):
        df, _ = corpus
        plan = zipf_fit(df, top_k=30)._jdf.queryExecution().executedPlan() \
                                     .toString()
        assert "TakeOrderedAndProject" in plan

    def test_fewer_terms_than_top_k(self, spark):
        df = spark.createDataFrame(
            [("d", "aa aa aa bb bb cc")], "doc_id string, text string")
        row = zipf_fit(df, top_k=100).collect()[0]
        assert row["n_terms"] == 3
