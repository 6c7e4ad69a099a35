"""BPE trainer/encoder (operators/bpe.py) vs a from-scratch pure-Python
reference implementation."""

import collections

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.bpe import (
    END, apply_merge, bpe_apply, bpe_train, pair_counts, with_symbols,
    word_counts,
)

TEXTS = ["the cat sat on the mat", "the cat ate the rat",
         "low lower lowest", "newer newest new", "aaaa aa a aaa",
         "the the the thee then than", "x", ""]


def ref_train(texts, n_merges):
    """Reference trainer: Sennrich et al. alg. 1 on word frequencies,
    ties broken (count DESC, left ASC, right ASC)."""
    wc = collections.Counter(
        w for t in texts for w in t.strip().lower().split())
    vocab = {w: list(w) + [END] for w in wc}
    merges = []
    for _ in range(n_merges):
        pc = collections.Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        left, right = best
        for w in vocab:
            syms, out, i = vocab[w], [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def _docs(spark, texts=TEXTS):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


@pytest.mark.parametrize("k", [1, 5, 12, 30])
def test_trainer_matches_reference(spark, k):
    got = bpe_train(_docs(spark), k)
    want, _ = ref_train(TEXTS, k)
    assert got == want


def test_trainer_exhausts_gracefully(spark):
    # tiny corpus: more merges requested than exist -> shorter list, no error
    docs = _docs(spark, ["ab ab"])
    merges = bpe_train(docs, 50)
    want, _ = ref_train(["ab ab"], 50)
    assert merges == want and len(merges) < 50


def test_greedy_encode_replays_training_segmentation(spark):
    """The rank-greedy encoder must reproduce the trainer's own final
    vocabulary segmentation for every training word (the standard BPE
    inference equivalence)."""
    docs = _docs(spark)
    merges = bpe_train(docs, 20)
    _, vocab = ref_train(TEXTS, 20)
    enc = {r["doc_id"]: r["tokens"]
           for r in bpe_apply(docs, merges).collect()}
    for i, text in enumerate(TEXTS):
        words = text.strip().lower().split()
        if not words:
            assert i not in enc
            continue
        want = [s for w in words for s in vocab[w]]
        assert enc[i] == want, (i, enc[i], want)


def test_apply_counts(spark):
    docs = _docs(spark, ["aa bb aa"])
    out = bpe_apply(docs, []).collect()[0]
    # no merges: every char + </w> is a token
    assert out["n_words"] == 3 and out["n_tokens"] == 9


def test_apply_merge_greedy_scan_does_not_chain(spark):
    # 'a a a a' inside one word: left-to-right pass yields [aa, aa, </w>],
    # never [aa, aaa ...] — the fresh-tail guard
    vocab = with_symbols(
        word_counts(_docs(spark, ["aaaa"])))
    out = apply_merge(vocab, "a", "a").collect()[0]["syms"]
    assert out == ["aa", "aa", END]


def test_pair_counts_weighted_by_word_frequency(spark):
    pc = {(r["left"], r["right"]): r["cnt"]
          for r in pair_counts(
              with_symbols(word_counts(_docs(spark, ["to to to", "od"]))))
          .collect()}
    assert pc[("t", "o")] == 3
    assert pc[("o", END)] == 3
    assert pc[("o", "d")] == 1


def test_apply_dictionary_join_is_broadcast(spark):
    plan = bpe_apply(_docs(spark), [("t", "h")]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trainer_releases_superseded_checkpoints(spark):
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    bpe_train(_docs(spark), 10)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    # at most the final vocab copy survives the run, never one per merge
    assert len(after - before) <= 1


def test_precomputed_word_counts_give_identical_merges(spark):
    docs = _docs(spark)
    wc = word_counts(docs)
    assert bpe_train(docs, 8, words=wc) == bpe_train(docs, 8)
