"""Deterministic negative sampling (operators/contrastive.py) vs a
sequential reference: draw arithmetic, anchor/positive/hole exclusion,
slot semantics, stability under repartitioning."""

import hashlib

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.contrastive import negative_samples


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs or [(-1, -1)], "a bigint, b bigint") \
        .filter(F.col("a") >= 0)


def _draw_py(salt, a, j, n):
    h = hashlib.md5(f"{salt}:{a}:{j}".encode()).hexdigest()
    return int(h[:15], 16) % n


def _ref(ids, pairs, k, salt="neg-v1"):
    idset = set(ids)
    n = max(ids) + 1
    pos = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    out = []
    for a in ids:
        for j in range(k):
            neg = _draw_py(salt, a, j, n)
            if neg != a and neg in idset and (a, neg) not in pos:
                out.append((a, neg, j))
    return sorted(out)


def test_matches_reference_dense(spark):
    ids = list(range(40))
    pairs = [(0, 1), (2, 3), (10, 20)]
    got = sorted(tuple(r) for r in negative_samples(
        _ids(spark, ids), _pairs(spark, pairs), k=4).collect())
    assert got == _ref(ids, pairs, 4)
    assert got  # dense id space: plenty of survivors


def test_holes_are_excluded(spark):
    ids = [i for i in range(60) if i % 3 != 0]  # 1/3 of id space missing
    got = sorted(tuple(r) for r in negative_samples(
        _ids(spark, ids), _pairs(spark, []), k=5).collect())
    assert got == _ref(ids, [], 5)
    assert all(neg % 3 != 0 for _, neg, _ in got)


def test_positives_excluded_both_orientations(spark):
    ids = list(range(10))
    # every cross pair positive -> only self-collisions COULD survive,
    # and those are excluded too -> empty
    pairs = [(a, b) for a in ids for b in ids if a < b]
    got = negative_samples(_ids(spark, ids), _pairs(spark, pairs),
                           k=6).collect()
    assert got == []


def test_partitioning_invariance(spark):
    ids = list(range(100))
    pairs = [(5, 6)]
    base = sorted(tuple(r) for r in negative_samples(
        _ids(spark, ids), _pairs(spark, pairs), k=3).collect())
    shuffled = sorted(tuple(r) for r in negative_samples(
        _ids(spark, ids).repartition(13), _pairs(spark, pairs),
        k=3).collect())
    assert base == shuffled


def test_at_most_k_and_slot_semantics(spark):
    ids = list(range(50))
    rows = negative_samples(_ids(spark, ids), _pairs(spark, []),
                            k=3).collect()
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r["doc_id"], []).append(r["j"])
    for a, slots in per_anchor.items():
        assert len(slots) == len(set(slots)) <= 3
        assert all(0 <= j < 3 for j in slots)


def test_validation(spark):
    with pytest.raises(ValueError):
        negative_samples(_ids(spark, [1]), _pairs(spark, []), k=0)


# ------------------------------------------------- hard negatives

def _vdf(spark, vecs, labels):
    rows = [(i, [float(x) for x in v], int(l))
            for i, (v, l) in enumerate(zip(vecs, labels))]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")


def _hard_ref(vecs, labels, k):
    import math
    import numpy as np

    def rc(a, b):
        ad, bd = a.astype(np.float64), b.astype(np.float64)
        cos = float(ad @ bd) / (math.sqrt(float(ad @ ad)) *
                                math.sqrt(float(bd @ bd)))
        s = cos * 1e6
        return int(math.floor(s + 0.5)) if s >= 0 else int(math.ceil(s - 0.5))

    out = []
    for i in range(len(vecs)):
        cands = sorted(((-rc(vecs[i], vecs[j]), j) for j in range(len(vecs))
                        if j != i and labels[j] != labels[i]))
        for r, (neg_rc, j) in enumerate(cands[:k], 1):
            out.append((i, j, -neg_rc, r))
    return sorted(out)


def test_hard_negatives_match_reference(spark):
    import numpy as np
    rng = np.random.RandomState(21)
    vecs = rng.randn(15, 6).astype(np.float32)
    labels = [i % 3 for i in range(15)]
    from corpus_lab.operators.contrastive import hard_negatives
    got = sorted(tuple(r) for r in hard_negatives(
        _vdf(spark, vecs, labels), k=3).collect())
    assert got == _hard_ref(vecs, labels, 3)
    assert got
    # never a same-label neighbor, exactly rank 1..3 per anchor
    by_anchor = {}
    for x, neg, _, rank in got:
        assert labels[x] != labels[neg]
        by_anchor.setdefault(x, []).append(rank)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_anchor.values())


def test_hard_negatives_planted_boundary_vector(spark):
    import numpy as np
    rng = np.random.RandomState(22)
    base = rng.randn(6).astype(np.float32)
    # anchor 0 (label 0); vector 1 (label 1) is nearly identical ->
    # must be anchor 0's rank-1 hard negative
    vecs = np.stack([base,
                     base + rng.randn(6).astype(np.float32) * 0.01]
                    + [rng.randn(6).astype(np.float32) for _ in range(8)])
    labels = [0, 1] + [i % 2 for i in range(8)]
    from corpus_lab.operators.contrastive import hard_negatives
    got = {(r["x"], r["rank"]): r["neg_id"] for r in hard_negatives(
        _vdf(spark, vecs, labels), k=2).collect()}
    assert got[(0, 1)] == 1


def test_hard_negatives_validation(spark):
    import numpy as np
    from corpus_lab.operators.contrastive import hard_negatives
    with pytest.raises(ValueError):
        hard_negatives(_vdf(spark, np.zeros((2, 3), dtype=np.float32),
                            [0, 1]), k=0)
