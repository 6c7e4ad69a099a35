"""Bigram-LM quality scoring (operators/lm_score.py): hand-computed
probabilities on a tiny corpus and the filter property (gibberish scores
below in-distribution text)."""

import math

from corpus_lab.operators.lm_score import lm_doc_scores, train_bigram_model


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBigramModel:
    def test_counts_and_vocab(self, spark):
        d = _corpus(spark, [(1, "a b a b"), (2, "a b c")])
        bigrams, unigrams, v = train_bigram_model(d)
        assert v == 3  # {a, b, c}
        uni = {r["w1"]: r["c1"] for r in unigrams.collect()}
        assert uni == {"a": 3, "b": 3, "c": 1}
        bi = {(r["w1"], r["w2"]): r["c12"] for r in bigrams.collect()}
        assert bi == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}

    def test_hand_computed_scores(self, spark):
        d = _corpus(spark, [(1, "a b a b"), (2, "a b c")])
        bigrams, unigrams, v = train_bigram_model(d)
        got = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
               for r in lm_doc_scores(d, bigrams, unigrams, v).collect()}
        # doc 1: bigrams ab, ba, ab with P(b|a)=(3+1)/(3+3), P(a|b)=(1+1)/(3+3)
        lp_ab = math.log(4 / 6)
        lp_ba = math.log(2 / 6)
        want1 = round((lp_ab + lp_ba + lp_ab) / 3, 6)
        assert got[1] == (3, want1)
        # doc 2: ab, bc with P(c|b)=(1+1)/(3+3)
        want2 = round((lp_ab + math.log(2 / 6)) / 2, 6)
        assert got[2] == (2, want2)

    def test_gibberish_scores_below_corpus_text(self, spark):
        rows = [(i, "the quick brown fox jumps over the lazy dog")
                for i in range(20)]
        rows.append((99, "zxq vbn qwerty plmo zxq"))
        d = _corpus(spark, rows)
        bigrams, unigrams, v = train_bigram_model(d)
        got = {r["doc_id"]: r["avg_logp"]
               for r in lm_doc_scores(d, bigrams, unigrams, v).collect()}
        assert got[99] < got[0]  # unseen bigrams -> low probability tail

    def test_short_and_empty_docs_excluded(self, spark):
        d = _corpus(spark, [(1, "solo"), (2, "  "), (3, "a b")])
        bigrams, unigrams, v = train_bigram_model(d)
        got = lm_doc_scores(d, bigrams, unigrams, v).collect()
        assert [r["doc_id"] for r in got] == [3]
