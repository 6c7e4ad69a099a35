"""Margin-based bitext mining (operators/bitext.py) vs a sequential
numpy reference: scaled-cosine exactness, rank/margin arithmetic,
mutual-top-1 gating, hub suppression, and the LSH candidate restriction."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.bitext import (
    margin_mining,
    margin_mining_lsh,
    scaled_cosine_pairs,
)

DIM = 8


def _vecs(seed, n):
    rng = np.random.RandomState(seed)
    return rng.randn(n, DIM).astype(np.float32)


def _df(spark, vecs, start_id=0):
    rows = [(start_id + i, [float(x) for x in v])
            for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _rc_py(a, b):
    ad, bd = a.astype(np.float64), b.astype(np.float64)
    cos = float(ad @ bd) / (math.sqrt(float(ad @ ad)) *
                            math.sqrt(float(bd @ bd)))
    # Spark's round() is HALF_UP (away from zero) — replicate it, not
    # Python's banker's rounding
    scaled = cos * 1e6
    return int(math.floor(scaled + 0.5)) if scaled >= 0 \
        else int(math.ceil(scaled - 0.5))


def _margin_py(xv, yv, x_ids, y_ids, k=4, min_margin=None):
    rc = {(a, b): _rc_py(xv[i], yv[j])
          for i, a in enumerate(x_ids) for j, b in enumerate(y_ids)}
    out = []
    for i, a in enumerate(x_ids):
        row = sorted(((rc[(a, b)], b) for b in y_ids),
                     key=lambda t: (-t[0], t[1]))
        top_y = row[0][1]
        sx = sum(v for v, _ in row[:k])
        col = sorted(((rc[(aa, top_y)], aa) for aa in x_ids),
                     key=lambda t: (-t[0], t[1]))
        if col[0][1] != a:
            continue  # not mutual top-1
        sy = sum(v for v, _ in col[:k])
        if sx + sy <= 0:
            continue
        m = round(2 * k * rc[(a, top_y)] / (sx + sy), 6)
        if min_margin is None or m >= min_margin:
            out.append((a, top_y, m))
    return sorted(out)


def test_scaled_cosine_matches_numpy(spark):
    xv, yv = _vecs(1, 6), _vecs(2, 5)
    got = {(r["x"], r["y"]): r["rc"]
           for r in scaled_cosine_pairs(_df(spark, xv),
                                        _df(spark, yv, 100)).collect()}
    assert len(got) == 30
    for i in range(6):
        for j in range(5):
            assert got[(i, 100 + j)] == _rc_py(xv[i], yv[j]), (i, j)


def test_margin_matches_reference(spark):
    xv, yv = _vecs(3, 12), _vecs(4, 10)
    got = sorted((r["x"], r["y"], r["margin"])
                 for r in margin_mining(_df(spark, xv),
                                        _df(spark, yv, 100),
                                        k=4).collect())
    assert got == _margin_py(xv, yv, list(range(12)),
                             list(range(100, 110)), k=4)
    assert got  # random gaussians always produce some mutual pairs


def test_min_margin_threshold(spark):
    xv, yv = _vecs(5, 10), _vecs(6, 10)
    allp = margin_mining(_df(spark, xv), _df(spark, yv, 100), k=3)
    thr = margin_mining(_df(spark, xv), _df(spark, yv, 100), k=3,
                        min_margin=1.2)
    a = {(r["x"], r["y"]): r["margin"] for r in allp.collect()}
    t = {(r["x"], r["y"]): r["margin"] for r in thr.collect()}
    assert t == {p: m for p, m in a.items() if m >= 1.2}


def test_planted_translation_pair_wins(spark):
    # y0 is x0 plus tiny noise -> near-cos 1 and a high margin; the
    # remaining vectors are independent noise
    rng = np.random.RandomState(7)
    xv = _vecs(8, 8)
    yv = _vecs(9, 8)
    yv[0] = xv[0] + rng.randn(DIM).astype(np.float32) * 0.01
    got = {(r["x"], r["y"]): r["margin"]
           for r in margin_mining(_df(spark, xv),
                                  _df(spark, yv, 100), k=4).collect()}
    assert (0, 100) in got
    assert got[(0, 100)] > 1.5  # far above its neighborhood mean
    assert got == {(r[0], r[1]): r[2] for r in _margin_py(
        xv, yv, list(range(8)), list(range(100, 108)), k=4)}


def test_hub_vector_is_suppressed(spark):
    # y-hub: the centroid direction of all x's — every x's nearest
    # neighbor by RAW cosine, but its margin stays near 1 because its
    # own neighborhood mean is equally high; mutual-top-1 also lets at
    # most ONE x claim it.  With a margin threshold the hub vanishes.
    rng = np.random.RandomState(11)
    base = rng.randn(DIM).astype(np.float32)
    xv = np.stack([base + rng.randn(DIM).astype(np.float32) * 0.2
                   for _ in range(6)])
    yv = _vecs(12, 5)
    yv[0] = base  # the hub
    pairs = margin_mining(_df(spark, xv), _df(spark, yv, 100),
                          k=3).collect()
    hub_claims = [r for r in pairs if r["y"] == 100]
    assert len(hub_claims) <= 1
    ref = _margin_py(xv, yv, list(range(6)), list(range(100, 105)), k=3)
    assert sorted((r["x"], r["y"], r["margin"]) for r in pairs) == ref


def test_lsh_variant_subset_semantics(spark):
    # LSH-restricted mining with ONE plane cell split: every surviving
    # pair must also satisfy brute mutual-top-1 WITHIN its bucket;
    # verify against a bucketed reference built from the same planes.
    from corpus_lab.operators.similarity import with_lsh_bucket
    xv, yv = _vecs(13, 20), _vecs(14, 20)
    xdf, ydf = _df(spark, xv), _df(spark, yv, 100)
    got = sorted((r["x"], r["y"], r["margin"])
                 for r in margin_mining_lsh(xdf, ydf, dim=DIM, k=3,
                                            n_planes=2).collect())
    xb = {r["vec_id"]: r["bucket"]
          for r in with_lsh_bucket(xdf, DIM, n_planes=2).collect()}
    yb = {r["vec_id"]: r["bucket"]
          for r in with_lsh_bucket(ydf, DIM, n_planes=2).collect()}
    ref = []
    for bkt in set(xb.values()) & set(yb.values()):
        x_ids = sorted(i for i, b in xb.items() if b == bkt)
        y_ids = sorted(i for i, b in yb.items() if b == bkt)
        if x_ids and y_ids:
            ref.extend(_margin_py(xv[[i for i in x_ids]],
                                  yv[[i - 100 for i in y_ids]],
                                  x_ids, y_ids, k=3))
    assert got == sorted(ref)


def test_k_validation(spark):
    with pytest.raises(ValueError):
        margin_mining(_df(spark, _vecs(1, 3)), _df(spark, _vecs(2, 3)),
                      k=0)


def test_no_single_partition_exchange_in_lsh_plan(spark):
    plan = margin_mining_lsh(_df(spark, _vecs(1, 5)),
                             _df(spark, _vecs(2, 5), 100),
                             dim=DIM, k=2, n_planes=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
