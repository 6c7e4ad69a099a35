"""BM25 inverted-index search (operators/search.py)."""

import math

from pyspark.sql import functions as F

from corpus_lab.operators.search import (
    bm25_search,
    build_inverted_index,
    doc_lengths,
)

CORPUS = [
    (1, "spark shuffle join spark spark"),
    (2, "window agg sort merge join"),
    (3, "spark window window"),
    (4, "the the the the the the the the"),
    (5, None),
]


def _df(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def _bm25_expected(query, k1=1.2, b=0.75):
    """Straight-line reference implementation over CORPUS."""
    docs = {i: t.lower().split() for i, t in CORPUS if t is not None}
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    dfreq = {t: sum(1 for w in docs.values() if t in w) for t in query}
    scores = {}
    for i, w in docs.items():
        s, matched = 0.0, 0
        for t in sorted(set(query)):
            tf = w.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            matched += 1
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * len(w) / avgdl))
        if matched:
            scores[i] = (round(s, 6), matched)
    return scores


def test_doc_lengths_and_index(spark):
    dl = {r["doc_id"]: r["dl"] for r in
          doc_lengths(_df(spark).filter("text IS NOT NULL")).collect()}
    assert dl == {1: 5, 2: 5, 3: 3, 4: 8}
    idx = build_inverted_index(_df(spark)).collect()
    tf = {(r["term"], r["doc_id"]): r["tf"] for r in idx}
    assert tf[("spark", 1)] == 3
    assert tf[("window", 3)] == 2
    assert ("the", 4) in tf and tf[("the", 4)] == 8


def test_bm25_matches_reference_formula(spark):
    query = ["spark", "join"]
    out = bm25_search(_df(spark), query, top_n=10).collect()
    got = {r["doc_id"]: (r["score"], r["n_matched"]) for r in out}
    exp = _bm25_expected(query)
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][1] == exp[i][1]
        assert abs(got[i][0] - exp[i][0]) < 1e-9, (i, got[i], exp[i])


def test_bm25_ranking_and_topn(spark):
    # doc 1 (3x spark + join) must outrank doc 3 (1x spark) for this query
    out = bm25_search(_df(spark), ["spark", "join"], top_n=2).collect()
    assert len(out) == 2
    assert out[0]["doc_id"] == 1
    assert out[0]["score"] > out[1]["score"]
    # unmatched-only docs never appear
    ids = {r["doc_id"] for r in bm25_search(_df(spark), ["spark"], 10).collect()}
    assert 4 not in ids and 2 not in ids


def test_bm25_plan_has_no_nested_loop_join(spark):
    df = bm25_search(_df(spark), ["spark", "join"], top_n=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


class TestRRFFusion:
    def _rank(self, spark, rows):
        return spark.createDataFrame(rows, "id long, score double")

    def test_fused_scores_match_formula(self, spark):
        from corpus_lab.operators.search import rrf_fusion
        r1 = self._rank(spark, [(1, 9.0), (2, 7.0), (3, 5.0)])
        r2 = self._rank(spark, [(3, 0.9), (1, 0.8), (4, 0.7)])
        got = {r["id"]: (r["rrf_score"], r["n_lists"])
               for r in rrf_fusion([r1, r2], k=60).collect()}
        want = {
            1: (round(1 / 61 + 1 / 62, 9), 2),
            2: (round(1 / 62, 9), 1),
            3: (round(1 / 63 + 1 / 61, 9), 2),
            4: (round(1 / 63, 9), 1),
        }
        assert got == want

    def test_consensus_doc_wins(self, spark):
        """A doc ranked 2nd in BOTH lists outranks each list's exclusive
        #1 — the property that makes RRF a consensus fusion."""
        from corpus_lab.operators.search import rrf_fusion
        r1 = self._rank(spark, [(10, 9.0), (1, 8.0)])
        r2 = self._rank(spark, [(20, 0.9), (1, 0.8)])
        top = rrf_fusion([r1, r2], k=60, top_n=1).collect()
        assert top[0]["id"] == 1

    def test_score_ties_rank_by_id(self, spark):
        from corpus_lab.operators.search import rrf_fusion
        r1 = self._rank(spark, [(5, 1.0), (2, 1.0)])
        got = {r["id"]: r["rrf_score"]
               for r in rrf_fusion([r1], k=60).collect()}
        assert got == {2: round(1 / 61, 9), 5: round(1 / 62, 9)}

    def test_top_n_cut(self, spark):
        from corpus_lab.operators.search import rrf_fusion
        r1 = self._rank(spark, [(i, float(100 - i)) for i in range(30)])
        assert rrf_fusion([r1], top_n=7).count() == 7
