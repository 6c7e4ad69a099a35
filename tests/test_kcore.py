"""k-core peeling (operators/kcore.py) vs a sequential Python
reference: classic fixtures (clique + pendant tree, two cliques joined
by a bridge, path-graph slow convergence), bounded-round semantics,
normalization, fuzz."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.kcore import k_core, k_core_stats


def _df(spark, edges):
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def _kcore_py(edges, k, rounds):
    e = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    for _ in range(rounds):
        deg = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        ne = {(a, b) for a, b in e if a in keep and b in keep}
        if ne == e:
            break
        e = ne
    deg = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return sorted((n, d) for n, d in deg.items() if d >= k)


def _got(spark, edges, k, rounds=8):
    return sorted((r["node"], r["degree"]) for r in
                  k_core(_df(spark, edges), k, rounds).collect())


CLIQUE4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
# pendant tree hanging off the clique: peeled away at k=2
TREE = [(4, 10), (10, 11), (10, 12), (12, 13)]


def test_clique_with_pendant_tree(spark):
    edges = CLIQUE4 + TREE
    assert _got(spark, edges, 3) == [(1, 3), (2, 3), (3, 3), (4, 3)]
    assert _got(spark, edges, 3) == _kcore_py(edges, 3, 8)
    # k=2: tree still dissolves (leaves peel inward), clique survives
    assert _got(spark, edges, 2) == [(1, 3), (2, 3), (3, 3), (4, 3)]
    assert _got(spark, edges, 5) == []  # core dissolves entirely


def test_bridge_between_cliques(spark):
    c2 = [(a + 20, b + 20) for a, b in CLIQUE4]
    edges = CLIQUE4 + c2 + [(1, 21)]  # bridge never in the 3-core
    got = _got(spark, edges, 3)
    assert got == _kcore_py(edges, 3, 8)
    assert {n for n, _ in got} == {1, 2, 3, 4, 21, 22, 23, 24}
    # the bridge EDGE legitimately survives (both endpoints hold
    # degree >= 3 without it), so its endpoints carry degree 4
    assert dict(got)[1] == 4 and dict(got)[21] == 4
    assert all(d == 3 for n, d in got if n not in (1, 21))


def test_path_graph_bounded_rounds(spark):
    # a 12-node path at k=2 peels one layer per round from each end:
    # NOT converged in 3 rounds (honest intermediate), gone by 8
    path = [(i, i + 1) for i in range(12)]
    got3 = _got(spark, path, 2, rounds=3)
    assert got3 == _kcore_py(path, 2, 3)
    assert got3  # still peeling
    _, stats3 = k_core_stats(_df(spark, path), 2, rounds=3)
    assert stats3 == {"rounds_run": 3, "converged": False}
    _, stats8 = k_core_stats(_df(spark, path), 2, rounds=8)
    assert stats8["converged"] is True
    assert _got(spark, path, 2, rounds=8) == []


def test_normalization(spark):
    # directed duplicates, reversed duplicates, self-loops: one clique
    messy = CLIQUE4 + [(b, a) for a, b in CLIQUE4] + [(1, 1), (2, 2)]
    assert _got(spark, messy, 3) == _got(spark, CLIQUE4, 3)


def test_converged_early_exit_equals_full_budget(spark):
    edges = CLIQUE4 + TREE
    assert _got(spark, edges, 2, rounds=3) == _got(spark, edges, 2,
                                                   rounds=50)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fuzz_vs_reference(spark, seed):
    import random
    rng = random.Random(seed)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(90)]
    for k in (2, 3, 4):
        assert _got(spark, edges, k, rounds=6) == \
            _kcore_py(edges, k, 6), (seed, k)


def test_validation(spark):
    with pytest.raises(ValueError):
        k_core(_df(spark, CLIQUE4), k=0)
    with pytest.raises(ValueError):
        k_core(_df(spark, CLIQUE4), k=2, rounds=0)
