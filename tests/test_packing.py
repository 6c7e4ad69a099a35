"""Distributed prefix sum / shard packing: exactness vs a driver-side
cumsum under adversarial partitioning, and the no-global-window plan
property."""

import random

from pyspark.sql import functions as F

from corpus_lab.operators.packing import (
    pack_into_shards,
    with_global_prefix_sum,
)


def _df(spark, n=500, parts=7, seed=3):
    rng = random.Random(seed)
    rows = [(i, rng.randint(1, 900)) for i in range(n)]
    rng.shuffle(rows)  # arrival order != key order
    return spark.createDataFrame(rows, "doc_id long, n_tokens long") \
                .repartition(parts)


def test_matches_driver_cumsum_exactly(spark):
    df = _df(spark)
    vals = {r["doc_id"]: r["n_tokens"] for r in df.collect()}
    acc, want = 0, {}
    for k in sorted(vals):
        want[k] = acc
        acc += vals[k]
    got = {r["doc_id"]: r["prefix_sum"]
           for r in with_global_prefix_sum(df, "doc_id", "n_tokens").collect()}
    assert got == want


def test_shard_sizes_respect_budget_greedily(spark):
    df = _df(spark, n=300)
    out = pack_into_shards(df, budget=5_000).collect()
    shards = {}
    for r in out:
        shards.setdefault(r["shard_id"], []).append(r)
    # shard ids are dense from 0 and every non-final shard crosses budget
    ids = sorted(shards)
    assert ids == list(range(len(ids)))
    for sid in ids[:-1]:
        assert sum(r["n_tokens"] for r in shards[sid]) >= 1  # non-empty
        # a doc starts in shard floor(prefix/budget): check the invariant
        for r in shards[sid]:
            assert r["prefix_sum"] // 5_000 == sid


def test_no_global_window_partition_in_plan(spark):
    df = _df(spark)
    plan = with_global_prefix_sum(df, "doc_id", "n_tokens") \
        ._jdf.queryExecution().executedPlan().toString()
    # the window must be keyed by the physical partition id, never empty
    assert "windowspecdefinition(_pid" in plan
    assert "windowspecdefinition(doc_id" not in plan


# ----------------------------------------------------- concat_and_chunk

def _naive_chunks(vals, c):
    """Driver-side reference: global concat order, fixed windows of c."""
    out, pref = [], 0
    for k in sorted(vals):
        n = vals[k]
        if n <= 0:
            continue
        for cid in range(pref // c, (pref + n - 1) // c + 1):
            out.append((cid, k, max(cid * c - pref, 0),
                        min(n, (cid + 1) * c - pref),
                        max(pref - cid * c, 0)))
        pref += n
    return sorted(out)


def test_chunk_matches_naive_layout(spark):
    from corpus_lab.operators.packing import concat_and_chunk
    df = _df(spark, n=400, parts=9, seed=5)
    vals = {r["doc_id"]: r["n_tokens"] for r in df.collect()}
    got = sorted(tuple(r) for r in concat_and_chunk(df, 1000).collect())
    assert got == _naive_chunks(vals, 1000)


def test_chunk_slices_tile_every_window_exactly(spark):
    from corpus_lab.operators.packing import concat_and_chunk
    df = _df(spark, n=200, parts=5, seed=8)
    rows = concat_and_chunk(df, 512).collect()
    total = sum(r["n_tokens"] for r in df.collect())
    by_chunk = {}
    for r in rows:
        by_chunk.setdefault(r["chunk_id"], []).append(r)
    assert set(by_chunk) == set(range((total + 511) // 512))
    for cid, seg in by_chunk.items():
        seg.sort(key=lambda r: r["chunk_off"])
        pos = 0
        for r in seg:
            assert r["chunk_off"] == pos  # no gaps, no overlaps
            assert 0 <= r["doc_start"] < r["doc_end"]
            pos += r["doc_end"] - r["doc_start"]
        # every window full except the last
        assert pos == 512 or (cid == max(by_chunk) and pos == total % 512)


def test_chunk_zero_token_docs_contribute_nothing(spark):
    from corpus_lab.operators.packing import concat_and_chunk
    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5)], "doc_id long, n_tokens long")
    rows = concat_and_chunk(df, 8).collect()
    assert {r["doc_id"] for r in rows} == {1, 3}
    assert sorted((r["chunk_id"], r["doc_id"]) for r in rows) == \
        [(0, 1), (1, 1), (1, 3)]


def test_chunk_plan_has_no_global_window(spark):
    from corpus_lab.operators.packing import concat_and_chunk
    df = _df(spark, n=100)
    plan = concat_and_chunk(df, 100)._jdf.queryExecution() \
        .executedPlan().toString()
    # every Window node must be partition-scoped (keyed on _pid), never a
    # global single-partition window over the corpus
    import re
    windows = re.findall(r"Window \[.*?windowspecdefinition\((.*?)\)", plan)
    assert windows, "expected the local-prefix Window node in the plan"
    for spec in windows:
        assert "_pid" in spec


def test_duplicate_order_col_rejected(spark):
    """Ties in order_col make the prefix sum arrival-order-dependent —
    the determinism contract rejects them up front (ADVICE r2)."""
    import pytest

    from corpus_lab.operators.packing import with_global_prefix_sum

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 30), (3, 40)], "k int, v int")
    with pytest.raises(ValueError, match="duplicate"):
        with_global_prefix_sum(df, "k", "v").collect()


class TestShuffleIntoShards:
    """Deterministic corpus shuffle: stable under re-run, re-rolled by
    salt, positions contiguous per shard, hash-balanced shards."""

    def _df(self, spark, n=400):
        return spark.range(n).withColumnRenamed("id", "doc_id")

    def test_deterministic_and_salt_rerolls(self, spark):
        from corpus_lab.operators.packing import shuffle_into_shards

        d = self._df(spark)
        a = {r["doc_id"]: (r["shard"], r["pos"])
             for r in shuffle_into_shards(d, 16).collect()}
        b = {r["doc_id"]: (r["shard"], r["pos"])
             for r in shuffle_into_shards(d, 16).collect()}
        assert a == b
        c = {r["doc_id"]: (r["shard"], r["pos"])
             for r in shuffle_into_shards(d, 16, salt="epoch-2").collect()}
        assert c != a

    def test_positions_contiguous_and_shards_balanced(self, spark):
        from collections import Counter

        from corpus_lab.operators.packing import shuffle_into_shards

        rows = shuffle_into_shards(self._df(spark), 8).collect()
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        assert set(by_shard) <= set(range(8))
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss))), shard
        sizes = Counter(r["shard"] for r in rows)
        # 400 docs over 8 hash-balanced shards: no shard empty or huge
        assert all(20 <= sizes[s] <= 90 for s in sizes)

    def test_shuffle_breaks_input_adjacency(self, spark):
        """Consecutive doc_ids must not stay consecutive within a shard
        (the whole point of the epoch shuffle)."""
        from corpus_lab.operators.packing import shuffle_into_shards

        rows = shuffle_into_shards(self._df(spark, 1000), 4).collect()
        order = {}
        for r in rows:
            order.setdefault(r["shard"], {})[r["pos"]] = r["doc_id"]
        adjacent = 0
        total = 0
        for shard, m in order.items():
            for p in range(len(m) - 1):
                total += 1
                if abs(m[p + 1] - m[p]) == 1:
                    adjacent += 1
        assert total > 0 and adjacent / total < 0.05

    def test_single_hash_shuffle_in_plan(self, spark):
        from corpus_lab.operators.packing import shuffle_into_shards

        plan = shuffle_into_shards(self._df(spark), 16) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SinglePartition" not in plan


class TestEpochMix:
    """Weighted epoch mixing: copy counts replay a pure-Python md5
    reference, zero-weight drops, default weight 1.0, null ids dropped,
    copies of one doc scatter, single hash shuffle in the plan."""

    def _df(self, spark, n=600):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("src"), (F.col("id") % 4).cast("string"))
            .alias("source"))

    WEIGHTS = {"src0": 2.5, "src1": 1.5, "src2": 0.3, "src3": 0.0}

    @staticmethod
    def _py_copies(doc_id, weight, salt="mix-v1"):
        import hashlib
        import math

        flr = math.floor(weight)
        thr = math.floor((weight - flr) * float(2 ** 32))
        draw = int(hashlib.md5(
            f"{salt}:frac:{doc_id}".encode()).hexdigest()[:8], 16)
        return int(flr) + (1 if draw < thr else 0)

    def test_copy_counts_match_python_reference(self, spark):
        from collections import Counter

        from corpus_lab.operators.packing import epoch_mix

        rows = epoch_mix(self._df(spark), self.WEIGHTS).collect()
        got = Counter(r["doc_id"] for r in rows)
        for doc_id in range(600):
            w = self.WEIGHTS[f"src{doc_id % 4}"]
            assert got.get(doc_id, 0) == self._py_copies(doc_id, w), doc_id
        # copy indices are dense 0..copies-1 per doc
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r["copy"])
        assert all(sorted(v) == list(range(len(v))) for v in by_doc.values())

    def test_zero_weight_and_unknown_source_default(self, spark):
        from corpus_lab.operators.packing import epoch_mix

        d = self._df(spark).withColumn(
            "source", F.when(F.col("doc_id") < 100, "never-seen-source")
            .otherwise(F.col("source")))
        rows = epoch_mix(d, self.WEIGHTS).collect()
        # unknown source -> weight 1.0 -> exactly one copy
        unknown = [r for r in rows if r["source"] == "never-seen-source"]
        assert len(unknown) == 100
        # src3 (weight 0.0) fully dropped
        assert not [r for r in rows if r["source"] == "src3"]

    def test_null_ids_dropped(self, spark):
        from corpus_lab.operators.packing import epoch_mix

        d = self._df(spark, 50).withColumn(
            "doc_id", F.when(F.col("doc_id") % 2 == 0, F.col("doc_id")))
        rows = epoch_mix(d, {"src0": 1.0}, n_shards=4).collect()
        assert all(r["doc_id"] is not None for r in rows)

    def test_copies_scatter_across_epoch(self, spark):
        """The two+ copies of one doc must not sit at adjacent stream
        positions (per-copy hash key, not per-doc)."""
        from corpus_lab.operators.packing import epoch_mix

        rows = epoch_mix(self._df(spark, 2000), {"src0": 2.0},
                         n_shards=4).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append((r["shard"], r["pos"]))
        multi = [v for v in by_doc.values() if len(v) == 2]
        assert len(multi) == 500  # 2000/4 src0 docs, 2 copies each
        adjacent = sum(1 for a, b in multi
                       if a[0] == b[0] and abs(a[1] - b[1]) == 1)
        assert adjacent / len(multi) < 0.05

    def test_positions_contiguous_and_deterministic(self, spark):
        from corpus_lab.operators.packing import epoch_mix

        a = epoch_mix(self._df(spark), self.WEIGHTS).collect()
        b = epoch_mix(self._df(spark), self.WEIGHTS).collect()
        key = lambda rows: sorted(map(tuple, rows))
        assert key(a) == key(b)
        by_shard = {}
        for r in a:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss))), shard

    def test_single_hash_shuffle_in_plan(self, spark):
        from corpus_lab.operators.packing import epoch_mix

        plan = epoch_mix(self._df(spark), self.WEIGHTS) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SinglePartition" not in plan
