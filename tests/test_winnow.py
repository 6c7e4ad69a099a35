"""Winnowing fingerprints: pure-Python replay, the substring-match
guarantee, density bound, tie rule, and pair mining."""

import hashlib
import random

import pytest

from corpus_lab.operators.winnow import (
    winnow_fingerprints,
    winnow_overlap_pairs,
)


def py_winnow(text, k, w):
    """Independent reference: same 60-bit md5 gram keys, min hash with
    rightmost position per window, distinct."""
    toks = text.strip().split()
    if len(toks) < k:
        return set()
    hs = []
    for i in range(len(toks) - k + 1):
        gram = " ".join(toks[i:i + k])
        h = int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)
        hs.append((h, i))
    out = set()
    n_wins = max(len(hs) - w, 0) + 1
    for s in range(n_wins):
        win = hs[s:s + w]
        mh = min(h for h, _ in win)
        pos = max(i for h, i in win if h == mh)  # rightmost tie
        out.add((mh, pos))
    return out


TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again",
    "a completely different document with other words entirely here",
    "prefix words then the quick brown fox jumps over the lazy dog tail",
    "short one",
]


class TestWinnowFingerprints:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(TEXTS)],
            "doc_id long, text string")

    def test_matches_python_reference(self, spark, docs):
        got = {}
        for r in winnow_fingerprints(docs, k=3, w=4).collect():
            got.setdefault(r["doc_id"], set()).add((r["fp_hash"], r["pos"]))
        for i, t in enumerate(TEXTS):
            assert got.get(i, set()) == py_winnow(t, 3, 4), i

    def test_shared_run_guarantee(self, spark, docs):
        """Docs 0 and 2 share a 9-token run >= w+k-1 = 6 tokens, so they
        must share at least one fingerprint HASH."""
        rows = winnow_fingerprints(docs, k=3, w=4).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
        assert by_doc[0] & by_doc[2]
        assert not (by_doc[0] & by_doc[1])

    def test_short_doc_below_k_emits_nothing(self, spark, docs):
        rows = winnow_fingerprints(docs, k=3, w=4).collect()
        assert all(r["doc_id"] != 3 for r in rows)

    def test_fewer_grams_than_window_single_window(self, spark):
        docs = spark.createDataFrame([(0, "a b c d")],
                                     "doc_id long, text string")
        rows = winnow_fingerprints(docs, k=3, w=10).collect()
        # 2 grams, one window -> exactly one fingerprint (the min)
        assert len(rows) == 1
        assert rows[0]["fp_hash"] == min(h for h, _ in py_winnow("a b c d", 3, 10))

    def test_density_bound(self, spark):
        rng = random.Random(3)
        text = " ".join(f"w{rng.randint(0, 10 ** 9)}" for _ in range(500))
        docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
        n = len(winnow_fingerprints(docs, k=5, w=8).collect())
        n_grams = 500 - 5 + 1
        # expected density 2/(w+1) ~ 0.22; allow a generous band
        assert n_grams * 0.08 < n < n_grams * 0.45

    def test_validation(self, spark):
        docs = None
        with pytest.raises(ValueError):
            winnow_fingerprints(docs, k=0, w=4)

    def test_zero_shuffle_plan(self, spark, docs):
        plan = winnow_fingerprints(docs, k=3, w=4)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestWinnowPairs:
    def test_overlap_pairs_and_hot_prune(self, spark):
        boiler = "subscribe to our newsletter for daily updates now"
        rows = [(i, f"{boiler} unique{i} filler{i} words{i}")
                for i in range(20)]
        rows.append((100, "the quick brown fox jumps over the lazy dog x1 y1 z1"))
        rows.append((101, "pad the quick brown fox jumps over the lazy dog x2"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        fps = winnow_fingerprints(docs, k=3, w=4)
        pairs = {(r["a"], r["b"]): r["n_shared"]
                 for r in winnow_overlap_pairs(fps, min_shared=1,
                                               max_df=5).collect()}
        # the 20 boilerplate docs share only hot (pruned) fingerprints
        assert (100, 101) in pairs
        assert all(a == 100 for a, _ in pairs), pairs

    def test_pair_plan_broadcasts_hot_side(self, spark):
        docs = spark.createDataFrame([(0, "a b c d e f")],
                                     "doc_id long, text string")
        fps = winnow_fingerprints(docs, k=3, w=4)
        plan = winnow_overlap_pairs(fps)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
