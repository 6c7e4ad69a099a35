"""Structural tests for sparse all-pairs TF-IDF cosine (beyond oracle
parity): brute-force agreement on the pruned term space, the df-pruning
contract, and the plan shape (equi-join only, broadcast dictionary)."""

import math

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.sparse_sim import (
    all_pairs_cosine,
    term_counts,
    tfidf_postings,
)


def _docs(spark):
    rows = [
        (0, "apple banana cherry apple"),
        (1, "apple banana cherry"),          # near-dup of 0
        (2, "dog cat mouse dog cat"),
        (3, "dog cat mouse"),                # near-dup of 2
        (4, "apple dog"),                    # bridges both clusters
        (5, "unique singleton words here"),  # all-singleton terms -> no vector
        (6, "apple banana cherry apple"),    # exact dup of 0
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _grid(x):
    return math.floor(x * 1e12 + 0.5)


def _brute(rows, min_df, max_df, threshold):
    """Pure-Python replay of the integer-grid contract: round weights to
    9 digits, sum squares/products as 1e-12-grid integers (order-free),
    round norm to 9 and cosine to 6."""
    toks = {i: t.lower().strip().split() for i, t in rows if t is not None}
    tf = {i: {} for i in toks}
    for i, ts in toks.items():
        for t in ts:
            tf[i][t] = tf[i].get(t, 0) + 1
    n = len(toks)
    df = {}
    for i in tf:
        for t in tf[i]:
            df[t] = df.get(t, 0) + 1
    kept = {t for t, d in df.items() if min_df <= d <= max_df and d < n}
    vecs = {}
    for i in tf:
        w = {t: round(c * math.log(n / df[t]), 9)
             for t, c in tf[i].items() if t in kept}
        norm = round(math.sqrt(sum(_grid(v * v) for v in w.values()) / 1e12), 9)
        if norm > 0:
            vecs[i] = {t: round(v / norm, 9) for t, v in w.items()}
    out = {}
    ids = sorted(vecs)
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            shared = set(vecs[x]) & set(vecs[y])
            if not shared:
                continue
            c = round(sum(_grid(vecs[x][t] * vecs[y][t]) for t in shared)
                      / 1e12, 6)
            if c >= threshold:
                out[(x, y)] = (c, len(shared))
    return out


class TestAllPairsCosine:
    def test_matches_brute_force(self, spark):
        d = _docs(spark)
        got = {(r["a"], r["b"]): (r["cosine"], r["n_terms"])
               for r in all_pairs_cosine(d, threshold=0.1, min_df=2,
                                         max_df=10).collect()}
        rows = [(r["doc_id"], r["text"]) for r in d.collect()]
        want = _brute(rows, 2, 10, 0.1)
        assert set(got) == set(want)
        for k in want:
            assert got[k][1] == want[k][1]
            assert got[k][0] == pytest.approx(want[k][0], abs=2e-6)

    def test_exact_dup_scores_one(self, spark):
        got = {(r["a"], r["b"]): r["cosine"]
               for r in all_pairs_cosine(_docs(spark), threshold=0.99,
                                         min_df=2, max_df=10).collect()}
        assert got == {(0, 6): 1.0}

    def test_threshold_cuts(self, spark):
        lo = all_pairs_cosine(_docs(spark), threshold=0.0, min_df=2,
                              max_df=10).collect()
        hi = all_pairs_cosine(_docs(spark), threshold=0.9, min_df=2,
                              max_df=10).collect()
        lo_pairs = {(r["a"], r["b"]) for r in lo}
        hi_pairs = {(r["a"], r["b"]) for r in hi}
        assert hi_pairs < lo_pairs
        assert all(r["cosine"] >= 0.9 for r in hi)

    def test_singleton_terms_never_pair(self, spark):
        """min_df=2 drops doc 5 entirely (all its terms are singletons):
        it must appear in NO pair even at threshold 0."""
        pairs = all_pairs_cosine(_docs(spark), threshold=0.0, min_df=2,
                                 max_df=10).collect()
        ids = {r["a"] for r in pairs} | {r["b"] for r in pairs}
        assert 5 not in ids

    def test_max_df_prunes_hot_terms(self, spark):
        """With max_df=2 the bridge terms (apple df=4, dog df=3) are
        pruned, so doc 4 (only hot terms) drops out of every pair."""
        pairs = all_pairs_cosine(_docs(spark), threshold=0.0, min_df=2,
                                 max_df=2).collect()
        ids = {r["a"] for r in pairs} | {r["b"] for r in pairs}
        assert 4 not in ids

    def test_corpus_universal_term_dropped(self, spark):
        """A term in EVERY doc has idf exactly 0 — it must not survive
        pruning (df < n) even when max_df would admit it."""
        rows = [(i, f"common w{i} w{i}x") for i in range(4)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        p = tfidf_postings(d, min_df=1, max_df=100)
        assert p.filter(F.col("term") == "common").count() == 0

    def test_deterministic_under_repartition(self, spark):
        d = _docs(spark)
        a = sorted(map(tuple, all_pairs_cosine(d, 0.1, 2, 10).collect()))
        b = sorted(map(tuple, all_pairs_cosine(
            d.repartition(7), 0.1, 2, 10).collect()))
        assert a == b

    def test_budget_guard_trips(self, spark):
        with pytest.raises(ValueError, match="candidate pairs"):
            all_pairs_cosine(_docs(spark), threshold=0.0, min_df=2,
                             max_df=10, max_candidate_pairs=1).collect()

    def test_plan_equi_join_and_broadcast_dict(self, spark):
        plan = (all_pairs_cosine(_docs(spark), 0.1, 2, 10)
                ._jdf.queryExecution().executedPlan().toString())
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # pruned dictionary + n_docs

    def test_term_counts_tf(self, spark):
        tc = {(r["doc_id"], r["term"]): r["tf"]
              for r in term_counts(_docs(spark)).collect()}
        assert tc[(0, "apple")] == 2 and tc[(0, "banana")] == 1
        assert (7, "apple") not in tc
