"""Vocabulary divergence (operators/drift.py) vs a sequential Python
reference: smoothing arithmetic, identical-corpora zero, direction
asymmetry, JS bounds/symmetry, drift sensitivity."""

import math

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.drift import vocab_divergence


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string")


def _ref(texts_a, texts_b):
    def counts(ts):
        c = {}
        for t in ts:
            if t is None:
                continue
            for w in t.strip().split():
                c[w] = c.get(w, 0) + 1
        return c

    ca, cb = counts(texts_a), counts(texts_b)
    vocab = sorted(set(ca) | set(cb))
    v, ta, tb = len(vocab), sum(ca.values()), sum(cb.values())

    def s9(x):
        scaled = x * 1e9
        return int(math.floor(scaled + 0.5)) if scaled >= 0 \
            else int(math.ceil(scaled - 0.5))

    kl_ab = kl_ba = js = 0
    for w in vocab:
        p = (ca.get(w, 0) + 1) / (ta + v)
        q = (cb.get(w, 0) + 1) / (tb + v)
        m = (p + q) / 2
        kl_ab += s9(p * math.log(p / q))
        kl_ba += s9(q * math.log(q / p))
        js += s9(p * math.log(p / m) / 2 + q * math.log(q / m) / 2)
    return (v, ta, tb, round(kl_ab / 1e9, 6), round(kl_ba / 1e9, 6),
            round(js / 1e9, 6))


A = ["the cat sat on the mat", "a dog barked at the cat",
     "rain fell on the quiet town all night"]
B = ["the cat sat on the mat", "markets rallied after the rate cut",
     "crypto tokens surged as traders piled in"]


def test_matches_reference(spark):
    got = vocab_divergence(_df(spark, A), _df(spark, B)).collect()[0]
    assert tuple(got) == _ref(A, B)


def test_identical_corpora_zero(spark):
    got = vocab_divergence(_df(spark, A), _df(spark, A)).collect()[0]
    assert got["kl_ab"] == got["kl_ba"] == got["js"] == 0.0


def test_js_symmetric_and_bounded(spark):
    ab = vocab_divergence(_df(spark, A), _df(spark, B)).collect()[0]
    ba = vocab_divergence(_df(spark, B), _df(spark, A)).collect()[0]
    assert ab["js"] == ba["js"]
    assert 0.0 < ab["js"] < math.log(2)
    # KL directions swap
    assert ab["kl_ab"] == ba["kl_ba"] and ab["kl_ba"] == ba["kl_ab"]


def test_drift_monotonicity(spark):
    # sharing half the documents drifts less than sharing none
    mixed = A[:2] + B[2:]
    d_small = vocab_divergence(_df(spark, A),
                               _df(spark, mixed)).collect()[0]["js"]
    d_large = vocab_divergence(_df(spark, A),
                               _df(spark, B[1:])).collect()[0]["js"]
    assert 0 < d_small < d_large


def test_null_and_empty_texts_ignored(spark):
    a2 = A + [None, "", "   "]
    got = vocab_divergence(_df(spark, a2), _df(spark, B)).collect()[0]
    assert tuple(got) == _ref(A, B)


@pytest.mark.parametrize("seed", [1, 2])
def test_fuzz_vs_reference(spark, seed):
    import random
    rng = random.Random(seed)
    vocab = [f"w{j}" for j in range(40)]
    mk = lambda: " ".join(rng.choice(vocab)  # noqa: E731
                          for _ in range(rng.randrange(3, 30)))
    ta = [mk() for _ in range(25)]
    tb = [mk() for _ in range(20)]
    got = vocab_divergence(_df(spark, ta), _df(spark, tb)).collect()[0]
    assert tuple(got) == _ref(ta, tb)
