"""Incremental connected components (operators/inc_components.py):
the load-bearing property is byte-identical equivalence to batch CC on
the union graph, across merge shapes (join two components, absorb new
nodes, giant-component merge, no-op batch)."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.components import connected_components
from corpus_lab.operators.inc_components import incremental_components


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs or [(-1, -1)], "a bigint, b bigint") \
        .filter(F.col("a") >= 0)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node bigint")


def _batch(spark, ids, pairs):
    return {(r["node"], r["comp"]) for r in connected_components(
        _nodes(spark, ids), _pairs(spark, pairs), id_col="node").collect()}


def _inc(spark, ids, old_pairs, new_pairs):
    old = spark.createDataFrame(
        sorted(_batch(spark, ids, old_pairs)), "node bigint, component bigint")
    got = incremental_components(old, _pairs(spark, new_pairs))
    return {(r["node"], r["component"]) for r in got.collect()}


def _union_ids(ids, new_pairs):
    return sorted(set(ids) | {x for p in new_pairs for x in p})


@pytest.mark.parametrize("old_pairs,new_pairs", [
    # join two old components
    ([(1, 2), (2, 3), (10, 11)], [(3, 10)]),
    # brand-new nodes forming their own component
    ([(1, 2)], [(50, 51), (51, 52)]),
    # new node attaching to an old component
    ([(1, 2), (2, 3)], [(3, 99)]),
    # chain merging three old components at once
    ([(1, 2), (10, 11), (20, 21)], [(2, 10), (11, 20)]),
    # duplicate/reversed new edges
    ([(1, 2)], [(2, 1), (1, 2)]),
])
def test_incremental_equals_batch(spark, old_pairs, new_pairs):
    ids = _union_ids(range(25), old_pairs)
    got = _inc(spark, ids, old_pairs, new_pairs)
    want = _batch(spark, _union_ids(ids, new_pairs),
                  old_pairs + new_pairs)
    assert got == want


def test_untouched_components_pass_through(spark):
    # a big far-away component must appear VERBATIM (not recomputed):
    # its rows survive even though the new edge touches others
    # chain diameter must stay under max_iter=20 for min-label
    # propagation to converge to the true min (15 nodes here)
    old_pairs = [(i, i + 1) for i in range(100, 114)] + [(1, 2)]
    ids = _union_ids(range(10), old_pairs)
    got = _inc(spark, ids, old_pairs, [(2, 3)])
    want = _batch(spark, ids, old_pairs + [(2, 3)])
    assert got == want
    assert {(i, 100) for i in range(100, 115)} <= got


def test_empty_new_batch_is_identity(spark):
    old_pairs = [(1, 2), (5, 6)]
    ids = list(range(10))
    got = _inc(spark, ids, old_pairs, [])
    assert got == _batch(spark, ids, old_pairs)


@pytest.mark.parametrize("seed", [1, 2])
def test_fuzz_incremental_equals_batch(spark, seed):
    import random
    rng = random.Random(seed)
    ids = list(range(60))
    old_pairs = [(rng.randrange(60), rng.randrange(60))
                 for _ in range(40)]
    old_pairs = [(a, b) for a, b in old_pairs if a != b]
    new_pairs = [(rng.randrange(80), rng.randrange(80))
                 for _ in range(15)]
    new_pairs = [(a, b) for a, b in new_pairs if a != b]
    got = _inc(spark, _union_ids(ids, old_pairs), old_pairs, new_pairs)
    want = _batch(spark, _union_ids(_union_ids(ids, old_pairs), new_pairs),
                  old_pairs + new_pairs)
    assert got == want
