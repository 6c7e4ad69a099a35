"""Connected-components dedup clustering: known graphs, keeper semantics,
and convergence behavior."""

from pyspark.sql import functions as F

from corpus_lab.operators.components import (
    connected_components,
    dedup_clusters,
    keep_only_keepers,
)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_chain_merges_into_one_component(spark):
    # 1-2, 2-3, 3-4 chain (diameter 3: exercises multi-round propagation)
    comp = connected_components(_nodes(spark, [1, 2, 3, 4, 9]),
                                _pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r["node"]: r["comp"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_two_clusters_and_keepers(spark):
    df = _nodes(spark, [10, 11, 12, 20, 21, 30])
    pairs = _pairs(spark, [(10, 11), (11, 12), (20, 21)])
    out = {r["doc_id"]: (r["component"], r["is_keeper"])
           for r in dedup_clusters(df, pairs).collect()}
    assert out == {10: (10, True), 11: (10, False), 12: (10, False),
                   20: (20, True), 21: (20, False), 30: (30, True)}


def test_keep_only_keepers_drops_non_min(spark):
    df = _nodes(spark, [1, 2, 3]).withColumn("text", F.lit("x"))
    kept = keep_only_keepers(df, _pairs(spark, [(1, 2)]))
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}


def test_converges_well_under_max_iter(spark):
    # a 6-node chain has diameter 5 but min-label converges in <= ~log+1
    # rounds of this formulation; max_iter=8 must suffice
    comp = connected_components(
        _nodes(spark, list(range(6))),
        _pairs(spark, [(i, i + 1) for i in range(5)]), max_iter=8)
    assert {r["comp"] for r in comp.collect()} == {0}


class TestRankedKeeper:
    """dedup_clusters_ranked: keeper = highest rank, ties -> min id;
    clustering identical to dedup_clusters."""

    def _ranked(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, rank_len long")

    def test_keeper_is_highest_rank(self, spark):
        from corpus_lab.operators.components import dedup_clusters_ranked
        # cluster {1,2,3}: 2 is longest -> keeper; singleton 9 keeps itself
        df = self._ranked(spark, [(1, 5), (2, 50), (3, 10), (9, 1)])
        out = dedup_clusters_ranked(
            df, _pairs(spark, [(1, 2), (2, 3)]), "rank_len")
        got = {r["doc_id"]: (r["component"], r["is_keeper"])
               for r in out.collect()}
        assert got == {1: (1, False), 2: (1, True), 3: (1, False),
                       9: (9, True)}

    def test_rank_tie_breaks_to_min_id(self, spark):
        from corpus_lab.operators.components import dedup_clusters_ranked
        df = self._ranked(spark, [(4, 7), (5, 7), (6, 3)])
        out = dedup_clusters_ranked(
            df, _pairs(spark, [(4, 5), (5, 6)]), "rank_len")
        got = {r["doc_id"]: r["is_keeper"] for r in out.collect()}
        assert got == {4: True, 5: False, 6: False}

    def test_star_algorithm_same_output(self, spark):
        from corpus_lab.operators.components import dedup_clusters_ranked
        df = self._ranked(spark, [(1, 5), (2, 50), (3, 10), (9, 1)])
        prs = _pairs(spark, [(1, 2), (2, 3)])
        want = {tuple(r) for r in dedup_clusters_ranked(
            df, prs, "rank_len").collect()}
        got = {tuple(r) for r in dedup_clusters_ranked(
            df, prs, "rank_len", algorithm="star").collect()}
        assert got == want


class TestStarVariant:
    """Large-star/small-star must produce IDENTICAL labels to min-label
    propagation on every graph shape, and converge on long chains in far
    fewer rounds than the diameter."""

    def test_matches_propagation_on_known_graphs(self, spark):
        from corpus_lab.operators.components import (
            connected_components_star,
        )
        cases = [
            ([1, 2, 3, 4, 9], [(1, 2), (2, 3), (3, 4)]),
            ([10, 11, 12, 20, 21, 30], [(10, 11), (11, 12), (20, 21)]),
            ([1], []),
            ([5, 6], [(6, 5)]),
            ([1, 2, 3, 4, 5, 6, 7],
             [(1, 2), (1, 3), (2, 3), (4, 5), (5, 6), (6, 4), (6, 7)]),
        ]
        for ids, prs in cases:
            want = {(r["node"], r["comp"]) for r in connected_components(
                _nodes(spark, ids), _pairs(spark, prs)).collect()}
            got = {(r["node"], r["comp"]) for r in connected_components_star(
                _nodes(spark, ids), _pairs(spark, prs)).collect()}
            assert got == want, (ids, prs)

    def test_long_chain_converges_sublinearly(self, spark):
        """A 64-node chain (diameter 63) must fully label with max_iter
        far below the diameter — the whole point of the star alternation."""
        from corpus_lab.operators.components import (
            connected_components_star,
        )
        n = 64
        comp = connected_components_star(
            _nodes(spark, list(range(n))),
            _pairs(spark, [(i, i + 1) for i in range(n - 1)]),
            max_iter=12)
        got = {r["node"]: r["comp"] for r in comp.collect()}
        assert got == {i: 0 for i in range(n)}

    def test_dedup_clusters_star_keepers(self, spark):
        df = _nodes(spark, [10, 11, 12, 20, 21, 30])
        out = dedup_clusters(
            df, _pairs(spark, [(10, 11), (11, 12), (20, 21)]),
            algorithm="star")
        rows = {r["doc_id"]: (r["component"], r["is_keeper"])
                for r in out.collect()}
        assert rows == {10: (10, True), 11: (10, False), 12: (10, False),
                        20: (20, True), 21: (20, False), 30: (30, True)}


class TestLabelPropagation:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "a long, b long")

    def test_bridged_cliques_keep_distinct_communities(self, spark):
        """Two 4-cliques joined by ONE bridge edge: connected components
        merges them into one id; LPA keeps two communities because the
        bridge loses the neighbour vote on both sides."""
        from corpus_lab.operators.components import (
            connected_components, label_propagation)
        import itertools
        c1 = list(itertools.combinations([0, 1, 2, 3], 2))
        c2 = list(itertools.combinations([10, 11, 12, 13], 2))
        edges = c1 + c2 + [(3, 10)]
        p = self._pairs(spark, edges)
        lpa = {r["node"]: r["community"]
               for r in label_propagation(p, rounds=3).collect()}
        assert len(set(lpa.values())) == 2
        assert lpa[0] == lpa[1] == lpa[2] == lpa[3]
        assert lpa[10] == lpa[11] == lpa[12] == lpa[13]
        nodes = spark.createDataFrame([(n,) for n in lpa], "doc_id long")
        cc = {r["node"]: r["comp"]
              for r in connected_components(nodes, p).collect()}
        assert len(set(cc.values())) == 1

    def test_matches_python_reference(self, spark):
        """Synchronous rounds + min-label ties replayed in pure Python."""
        from corpus_lab.operators.components import label_propagation
        edges = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 2), (5, 6), (6, 7),
                 (5, 7), (4, 5)]
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        labels = {n: n for n in adj}
        for _ in range(3):
            new = {}
            for n in adj:
                votes = {}
                for m in adj[n]:
                    votes[labels[m]] = votes.get(labels[m], 0) + 1
                best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
                new[n] = best[0]
            labels = new
        got = {r["node"]: r["community"]
               for r in label_propagation(
                   self._pairs(spark, edges), rounds=3).collect()}
        assert got == labels

    def test_deterministic_under_repartition(self, spark):
        from corpus_lab.operators.components import label_propagation
        edges = [(i, (i * 7 + 3) % 20) for i in range(20) if i != (i * 7 + 3) % 20]
        p = self._pairs(spark, edges)
        a = sorted(map(tuple, label_propagation(p, rounds=3).collect()))
        b = sorted(map(tuple,
                       label_propagation(p.repartition(5), rounds=3).collect()))
        assert a == b
