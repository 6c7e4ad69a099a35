"""Hashed-n-gram linear scorer: Python integer replay, null/empty
semantics, learned-weights path agreement, shuffle-free plan."""

import hashlib

from pyspark.sql import functions as F

from corpus_lab.operators.linear_score import (
    N_BUCKETS,
    W_MOD,
    W_SCALE,
    hashed_ngram_score,
    score_with_weights,
)

_KNUTH = 2654435761


def _py_score(text):
    toks = [t for t in (text or "").strip().lower().split() if t]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    if not grams:
        return 0, 0.0
    total = 0
    for g in grams:
        b = int(hashlib.md5(f"ft:{g}".encode()).hexdigest()[:15],
                16) % N_BUCKETS
        total += (b * _KNUTH) % W_MOD - W_SCALE
    return len(grams), round(total / (len(grams) * float(W_SCALE)), 9)


ROWS = [(0, "The quick brown fox"), (1, "  spaced   out   tokens "),
        (2, ""), (3, None), (4, "solo"), (5, "a b a b a")]


def _df(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_matches_python_integer_replay(spark):
    got = {r["doc_id"]: (r["n_grams"], r["ft_score"])
           for r in hashed_ngram_score(_df(spark)).collect()}
    for doc_id, text in ROWS:
        assert got[doc_id] == _py_score(text), (doc_id, text)


def test_null_and_empty_text_score_zero_and_keep(spark):
    got = {r["doc_id"]: r for r in hashed_ngram_score(_df(spark)).collect()}
    for doc_id in (2, 3):
        assert got[doc_id]["n_grams"] == 0
        assert got[doc_id]["ft_score"] == 0.0
        assert got[doc_id]["keep"] is True  # 0.0 >= default threshold


def test_threshold_controls_keep(spark):
    rows = hashed_ngram_score(_df(spark), threshold=2.0).collect()
    assert all(r["keep"] is False or r["ft_score"] >= 2.0 for r in rows)
    assert not [r for r in rows if r["keep"]]  # |score| <= 1 < 2


def test_scores_bounded_and_spread(spark):
    texts = [(i, f"document number {i} with shared and unique{i} words")
             for i in range(200)]
    d = spark.createDataFrame(texts, "doc_id long, text string")
    scores = [r["ft_score"] for r in hashed_ngram_score(d).collect()]
    assert all(-1.0 <= s <= 1.0 for s in scores)
    assert len(set(scores)) > 150  # pseudo-weights actually spread


def test_learned_weights_path_agrees_on_full_table(spark):
    """With the closed-form weights materialized as a weight TABLE, the
    broadcast-join path must reproduce the expression path exactly
    (integer weights scaled at the end -> no float-fold divergence)."""
    d = _df(spark)
    buckets = set()
    for _, text in ROWS:
        toks = [t for t in (text or "").strip().lower().split() if t]
        for g in toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]:
            buckets.add(int(hashlib.md5(f"ft:{g}".encode())
                            .hexdigest()[:15], 16) % N_BUCKETS)
    w = spark.createDataFrame(
        [(b, float((b * _KNUTH) % W_MOD - W_SCALE) / W_SCALE)
         for b in sorted(buckets)], "bucket long, weight double")
    got = {r["doc_id"]: (r["n_grams"], round(r["ft_score"], 6))
           for r in score_with_weights(d, w).collect()}
    want = {r["doc_id"]: (r["n_grams"], round(r["ft_score"], 6))
            for r in hashed_ngram_score(d).collect()}
    assert got == want


def test_expression_path_is_shuffle_free(spark):
    plan = hashed_ngram_score(_df(spark)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
