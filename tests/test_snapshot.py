"""Snapshot diff / delta extraction."""

from pyspark.sql import functions as F

from corpus_lab.operators.snapshot import apply_delta, snapshot_diff


def _snaps(spark):
    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, "d", "w")],
        "doc_id long, text string, meta string")
    new = spark.createDataFrame(
        [(2, "b", "y"), (3, "CHANGED", "z"), (4, "d", "W2"), (5, "e", "v")],
        "doc_id long, text string, meta string")
    return old, new


def test_classifies_added_removed_changed(spark):
    old, new = _snaps(spark)
    got = {r["doc_id"]: r["change"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}
    # id 2 unchanged -> absent


def test_content_cols_subset_ignores_other_drift(spark):
    old, new = _snaps(spark)
    got = {r["doc_id"]: r["change"]
           for r in snapshot_diff(old, new, content_cols=["text"]).collect()}
    # meta-only change on id 4 no longer counts
    assert got == {1: "removed", 3: "changed", 5: "added"}


def test_null_vs_empty_distinguished(spark):
    old = spark.createDataFrame([(1, None)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "")], "doc_id long, text string")
    got = snapshot_diff(old, new).collect()
    assert len(got) == 1 and got[0]["change"] == "changed"


def test_apply_delta_reconstructs_new_snapshot(spark):
    old, new = _snaps(spark)
    upserts, deletes = apply_delta(old, new)
    # old - deletes - changed_ids + upserts == new (content equality)
    up_ids = {r["doc_id"] for r in upserts.select("doc_id").collect()}
    del_ids = {r["doc_id"] for r in deletes.collect()}
    assert del_ids == {1}
    assert up_ids == {3, 4, 5}
    survivors = old.filter(~F.col("doc_id").isin(*(del_ids | up_ids)))
    rebuilt = survivors.unionByName(upserts)
    assert sorted(map(tuple, rebuilt.collect())) == \
        sorted(map(tuple, new.collect()))


def test_diff_plan_is_single_join_no_bnlj(spark):
    old, new = _snaps(spark)
    plan = snapshot_diff(old, new)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 1


def test_separator_injection_does_not_collide(spark):
    old = spark.createDataFrame([(1, "a\x01b", "c")],
                                "doc_id long, text string, meta string")
    new = spark.createDataFrame([(1, "a", "b\x01c")],
                                "doc_id long, text string, meta string")
    got = snapshot_diff(old, new).collect()
    assert len(got) == 1 and got[0]["change"] == "changed"
