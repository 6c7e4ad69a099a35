"""PageRank: hand-computed reference parity, dangling mass, conservation,
determinism."""

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from corpus_lab.operators.pagerank import pagerank


def _r9(x):
    """Spark/DuckDB double rounding (HALF_UP on the shortest decimal
    repr, like BigDecimal.valueOf) — NOT Python's banker's round()."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-9"),
                                           rounding=ROUND_HALF_UP))


def _py_pagerank(edges, iters=3, d=0.85):
    """Driver-side reference with the identical rounding contract."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    deg = {}
    for u, _ in set(edges):
        deg[u] = deg.get(u, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(rank[v] for v in nodes if v not in deg)
        contrib = {v: 0.0 for v in nodes}
        for u, v in set(edges):
            contrib[v] += rank[u] / deg[u]
        rank = {v: _r9((1 - d) / n + d * (contrib[v] + dangling / n))
                for v in nodes}
    return rank


def test_matches_reference_on_hand_graph(spark):
    #  1 -> 2, 1 -> 3, 2 -> 3, 4 dangling (in-link only), 3 -> 1
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (2, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    assert got == _py_pagerank(edges, iters=3)


def test_duplicate_edges_count_once(spark):
    df = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=2).collect()}
    assert got == _py_pagerank([(1, 2), (2, 1)], iters=2)


def test_mass_is_conserved(spark):
    # teleport + dangling redistribution keep total mass at ~1.0
    edges = [(i, (i * 7 + 3) % 20) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = [r["rank"] for r in pagerank(df, iters=4).collect()]
    assert abs(sum(ranks) - 1.0) < 1e-6


def test_authority_flows_to_hub(spark):
    # everyone links to node 0; node 0 links back to 1 only
    edges = [(i, 0) for i in range(1, 10)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=5).collect()}
    assert got[0] == max(got.values())
    assert got[1] > got[2]  # 0's sole out-link beats plain leaves


def test_deterministic_under_repartition(spark):
    edges = [(i % 30, (i * 13 + 5) % 30) for i in range(200)]
    a = pagerank(spark.createDataFrame(edges, "src long, dst long")
                 .repartition(3), iters=3).collect()
    b = pagerank(spark.createDataFrame(list(reversed(edges)),
                                       "src long, dst long")
                 .repartition(17), iters=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, iters=2).count() == 0


import pytest


class TestPersonalizedPagerank:
    EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)]  # 5,6 unreachable

    def _run(self, spark, seeds, iters=3):
        from corpus_lab.operators.pagerank import personalized_pagerank
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {r["node"]: r["rank"]
                for r in personalized_pagerank(e, s, iters=iters).collect()}

    def reference(self, seeds, iters, d=0.85):
        nodes = sorted({x for e in self.EDGES for x in e})
        out = {}
        for s_, t in self.EDGES:
            out.setdefault(s_, []).append(t)
        rank = {v: (1.0 / len(seeds) if v in seeds else 0.0)
                for v in nodes}
        for _ in range(iters):
            dangling = sum(r for v, r in rank.items() if v not in out)
            contrib = {v: 0.0 for v in nodes}
            for u, targets in out.items():
                for t in targets:
                    contrib[t] += rank[u] / len(targets)
            restart = (1 - d) + d * dangling
            rank = {v: round(d * contrib[v]
                             + (restart / len(seeds) if v in seeds else 0.0),
                             9) for v in nodes}
        return rank

    def test_matches_reference(self, spark):
        got = self._run(spark, [1], iters=3)
        want = self.reference({1}, 3)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), v

    def test_unreachable_nodes_zero(self, spark):
        got = self._run(spark, [1])
        assert got[5] == 0.0 and got[6] == 0.0
        assert got[2] > 0.0

    def test_two_seeds_split_restart(self, spark):
        got = self._run(spark, [1, 5], iters=2)
        want = self.reference({1, 5}, 2)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), v
        assert got[6] > 0.0  # now reachable from seed 5

    def test_empty_seed_set(self, spark):
        got = self._run(spark, [])
        assert all(r == 0.0 for r in got.values())
