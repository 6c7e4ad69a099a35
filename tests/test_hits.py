"""HITS hubs & authorities: hand-graph parity, invariants, plan shape."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.hits import hits


def _ref_hits(edges, iters):
    """Sequential reference with the same L1 + 9-digit contract."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 1.0 for n in nodes}
    es = sorted(set(edges))
    for _ in range(iters):
        raw_a = {}
        for u, v in es:
            raw_a[v] = raw_a.get(v, 0.0) + hub[u]
        t = sum(raw_a.values())
        auth = {n: round(raw_a.get(n, 0.0) / t, 9) for n in nodes}
        raw_h = {}
        for u, v in es:
            raw_h[u] = raw_h.get(u, 0.0) + auth[v]
        t = sum(raw_h.values())
        hub = {n: round(raw_h.get(n, 0.0) / t, 9) for n in nodes}
    return hub, auth


EDGES = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 5), (1, 2)]  # dup counts once


def test_hand_graph_parity(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {r.node: (r.hub, r.auth) for r in hits(df, iters=3).collect()}
    hub, auth = _ref_hits(EDGES, 3)
    for n in hub:
        assert got[n] == (pytest.approx(hub[n], abs=2e-9),
                          pytest.approx(auth[n], abs=2e-9))


def test_l1_normalized_and_roles(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    rows = hits(df, iters=3).collect()
    assert sum(r.hub for r in rows) == pytest.approx(1.0, abs=1e-6)
    assert sum(r.auth for r in rows) == pytest.approx(1.0, abs=1e-6)
    by = {r.node: r for r in rows}
    # node 3 is cited by 1,2,4 -> top authority; node 1 cites 2,3 -> top hub
    assert by[3].auth == max(r.auth for r in rows)
    assert by[1].hub == max(r.hub for r in rows)
    # no in-links -> zero authority; no out-links -> zero hub
    assert by[1].auth == 0.0 and by[5].hub == 0.0


def test_partition_invariance(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    a = sorted(map(tuple, hits(df.repartition(1), iters=2).collect()))
    b = sorted(map(tuple, hits(df.repartition(7), iters=2).collect()))
    assert a == b


def test_no_per_iteration_driver_collect(spark):
    # the normalizer must be an in-plan broadcast aggregate: the final
    # plan contains BroadcastNestedLoopJoin of 1-row totals but never a
    # CollectLimit/driver scalar; smoke it via the physical plan string.
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    out = hits(df, iters=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit" not in plan


class TestTriangles:
    def _p(self, spark, edges):
        return spark.createDataFrame(edges, "a long, b long")

    def test_known_graph_counts(self, spark):
        """Triangle {0,1,2} + pendant 3: per-node counts and coefficients
        hand-checked."""
        from corpus_lab.operators.hits import clustering_coefficient
        p = self._p(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
        got = {r["node"]: (r["degree"], r["n_triangles"], r["coeff"])
               for r in clustering_coefficient(p).collect()}
        assert got[0] == (2, 1, 1.0)
        assert got[1] == (2, 1, 1.0)
        assert got[2] == (3, 1, round(2 / 6, 6))
        assert got[3] == (1, 0, 0.0)

    def test_k4_every_node_in_three_triangles(self, spark):
        import itertools
        from corpus_lab.operators.hits import clustering_coefficient
        p = self._p(spark, list(itertools.combinations(range(4), 2)))
        got = {r["node"]: (r["degree"], r["n_triangles"], r["coeff"])
               for r in clustering_coefficient(p).collect()}
        assert all(v == (3, 3, 1.0) for v in got.values())

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        """Symmetrized, repeated, and self-loop input edges must not
        change counts — the orientation dedups them."""
        from corpus_lab.operators.hits import triangle_counts
        clean = self._p(spark, [(0, 1), (1, 2), (0, 2)])
        noisy = self._p(spark, [(0, 1), (1, 0), (1, 2), (2, 1),
                                (0, 2), (0, 2), (1, 1)])
        a = sorted(map(tuple, triangle_counts(clean).collect()))
        b = sorted(map(tuple, triangle_counts(noisy).collect()))
        assert a == b == [(0, 1), (1, 1), (2, 1)]

    def test_triangle_free_graph_empty(self, spark):
        from corpus_lab.operators.hits import triangle_counts
        p = self._p(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])  # path
        assert triangle_counts(p).count() == 0

    def test_matches_brute_force(self, spark):
        import itertools
        from corpus_lab.operators.hits import triangle_counts
        edges = [(i, (i * 13 + 5) % 30) for i in range(30)]
        edges += [(i, i + 1) for i in range(29)]
        eset = {frozenset(e) for e in edges if e[0] != e[1]}
        want = {}
        nodes = {n for e in eset for n in e}
        for tri in itertools.combinations(sorted(nodes), 3):
            a, b, c = tri
            if ({frozenset((a, b)), frozenset((b, c)), frozenset((a, c))}
                    <= eset):
                for n in tri:
                    want[n] = want.get(n, 0) + 1
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(self._p(spark, edges)).collect()}
        assert got == want

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.hits import clustering_coefficient
        p = self._p(spark, [(0, 1), (1, 2), (0, 2)])
        plan = clustering_coefficient(p)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
