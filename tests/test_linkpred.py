"""Adamic-Adar link prediction (operators/linkpred.py) vs a sequential
reference: score arithmetic, hub prune semantics, linked-pair
exclusion, classic fixtures, fuzz."""

import math

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.linkpred import adamic_adar


def _df(spark, edges):
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def _ref(edges, max_degree=64):
    e = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs = {}
    for a, b in e:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)

    def s9(x):
        v = x * 1e9
        return int(math.floor(v + 0.5))

    out = {}
    for z, ns in nbrs.items():
        if not (2 <= len(ns) <= max_degree):
            continue
        t = s9(1.0 / math.log(len(ns)))
        for na in ns:
            for nb in ns:
                if na < nb:
                    cn, aa = out.get((na, nb), (0, 0))
                    out[(na, nb)] = (cn + 1, aa + t)
    return sorted((a, b, cn, round(aa / 1e9, 6))
                  for (a, b), (cn, aa) in out.items()
                  if (a, b) not in e)


def test_classic_triangle_plus_tail(spark):
    # z=1 connects {2,3}; 2-3 unlinked -> predicted via z (deg 2)
    edges = [(1, 2), (1, 3), (3, 4)]
    got = sorted(tuple(r) for r in adamic_adar(_df(spark, edges)).collect())
    assert got == _ref(edges)
    d = {(a, b): (cn, aa) for a, b, cn, aa in got}
    assert d[(2, 3)] == (1, round(1 / math.log(2), 6))  # via z=1
    assert d[(1, 4)] == (1, round(1 / math.log(2), 6))  # via z=3
    assert (2, 4) not in d  # no shared neighbor


def test_existing_edges_excluded(spark):
    # square with a diagonal: 1-3 IS an edge -> never predicted
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    got = {(r["a"], r["b"]) for r in adamic_adar(_df(spark, edges)).collect()}
    assert (1, 3) not in got
    assert (2, 4) in got  # two shared neighbors, unlinked
    full = sorted(tuple(r) for r in adamic_adar(_df(spark, edges)).collect())
    assert full == _ref(edges)


def test_hub_prune_drops_mega_neighbor(spark):
    # hub 100 shared by everyone; with the cap BELOW its degree the hub
    # contributes nothing, and pairs only arise via the small z nodes
    edges = [(100, i) for i in range(1, 12)] + [(1, 2), (1, 3)]
    got = sorted(tuple(r) for r in adamic_adar(
        _df(spark, edges), max_degree=10).collect())
    assert got == _ref(edges, max_degree=10)
    pairs = {(a, b) for a, b, _, _ in got}
    assert (2, 3) in pairs  # via z=1 (deg 4 <= 10)
    assert (4, 5) not in pairs  # only shared neighbor is the pruned hub
    # without the cap the hub re-appears
    uncapped = {(r["a"], r["b"]) for r in adamic_adar(
        _df(spark, edges), max_degree=1000).collect()}
    assert (4, 5) in uncapped


def test_weights_decrease_with_neighbor_degree(spark):
    # pair (1,2) via z=10 (deg 2); pair (3,4) via z=20 (deg 5):
    # the busier neighbor contributes less
    edges = [(10, 1), (10, 2)] + [(20, i) for i in (3, 4, 5, 6, 7)]
    d = {(r["a"], r["b"]): r["aa_score"]
         for r in adamic_adar(_df(spark, edges)).collect()}
    assert d[(1, 2)] > d[(3, 4)]


@pytest.mark.parametrize("seed", [1, 2])
def test_fuzz_vs_reference(spark, seed):
    import random
    rng = random.Random(seed)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
    got = sorted(tuple(r) for r in adamic_adar(
        _df(spark, edges), max_degree=8).collect())
    assert got == _ref(edges, max_degree=8)


def test_validation(spark):
    with pytest.raises(ValueError):
        adamic_adar(_df(spark, [(1, 2)]), max_degree=1)
