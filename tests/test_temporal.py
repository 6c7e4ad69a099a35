"""As-of join and interval join (operators/temporal.py): semantics on
hand-built data, equivalence to the naive non-equi plan, and physical-plan
scale properties (no nested-loop join; as-of has no join node at all)."""

from datetime import datetime

import pyspark.sql.functions as F

from corpus_lab.operators.temporal import asof_join, interval_join


def _ts(s):
    return datetime.fromisoformat(s)


def _left(spark):
    return spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 10:00:00")),
         (2, 10, _ts("2024-01-01 12:00:00")),
         (3, 20, _ts("2024-01-01 09:00:00")),
         (4, 30, _ts("2024-01-01 09:00:00"))],
        "event_id long, user_id long, ts timestamp")


def _right(spark):
    return spark.createDataFrame(
        [(100, 10, _ts("2024-01-01 09:30:00"), 1.0),
         (101, 10, _ts("2024-01-01 11:00:00"), 2.0),
         (102, 20, _ts("2024-01-01 09:00:00"), 3.0),   # equal ts: inclusive
         (103, 20, _ts("2024-01-01 09:30:00"), 4.0)],  # after left row 3
        "rid long, user_id long, ts timestamp, value double")


class TestAsofJoin:
    def test_backward_matches_most_recent_at_or_before(self, spark):
        got = {r["event_id"]: (r["r_rid"], r["r_value"])
               for r in asof_join(_left(spark), _right(spark)).collect()}
        assert got[1] == (100, 1.0)   # 09:30 is latest <= 10:00
        assert got[2] == (101, 2.0)   # 11:00 is latest <= 12:00
        assert got[3] == (102, 3.0)   # equal ts matches (inclusive)
        assert got[4] == (None, None)  # user 30 has no right rows

    def test_forward_matches_earliest_at_or_after(self, spark):
        got = {r["event_id"]: r["r_rid"]
               for r in asof_join(_left(spark), _right(spark),
                                  direction="forward").collect()}
        assert got[1] == 101   # earliest >= 10:00
        assert got[2] is None  # nothing after 12:00
        assert got[3] == 102   # equal ts inclusive beats 09:30

    def test_tolerance_nulls_out_stale_matches(self, spark):
        got = {r["event_id"]: r["r_rid"]
               for r in asof_join(_left(spark), _right(spark),
                                  tolerance_secs=1800).collect()}
        assert got[1] == 100       # 30 min back: exactly at tolerance
        assert got[2] is None      # 11:00 is 60 min back -> dropped
        assert got[3] == 102       # 0 min back

    def test_left_columns_survive_and_no_join_node(self, spark):
        out = asof_join(_left(spark), _right(spark))
        assert out.columns == ["event_id", "user_id", "ts",
                               "r_rid", "r_ts", "r_value"]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan  # one window pass, no join at all


class TestIntervalJoin:
    def _iv(self, spark):
        return spark.createDataFrame(
            [(1, 10, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 12:00:00")),
             (2, 10, _ts("2024-01-01 11:30:00"), _ts("2024-01-01 11:45:00")),
             (3, 20, _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"))],
            "iv_id long, user_id long, start timestamp, end timestamp")

    def _pts(self, spark):
        return spark.createDataFrame(
            [(100, 10, _ts("2024-01-01 11:40:00")),
             (101, 10, _ts("2024-01-01 12:00:00")),   # end-inclusive
             (102, 10, _ts("2024-01-01 12:00:01")),   # just outside
             (103, 20, _ts("2024-01-01 23:59:59")),
             (104, 30, _ts("2024-01-01 11:00:00"))],  # wrong key
            "pt_id long, user_id long, ts timestamp")

    def test_pairs_exact_and_emitted_once(self, spark):
        got = sorted((r["iv_id"], r["pt_id"]) for r in
                     interval_join(self._iv(spark), self._pts(spark),
                                   bucket_secs=600).collect())
        assert got == [(1, 100), (1, 101), (2, 100), (3, 103)]

    def test_matches_naive_nonequi_join(self, spark):
        iv, pts = self._iv(spark), self._pts(spark)
        naive = sorted(
            (r["iv_id"], r["pt_id"])
            for r in iv.join(pts.withColumnRenamed("user_id", "pu"),
                             (F.col("user_id") == F.col("pu"))
                             & (F.col("ts") >= F.col("start"))
                             & (F.col("ts") <= F.col("end"))).collect())
        for width in (60, 3600, 86400 * 2):  # incl. width >> interval
            got = sorted((r["iv_id"], r["pt_id"]) for r in
                         interval_join(iv, pts, bucket_secs=width).collect())
            assert got == naive

    def test_plan_is_equi_join_not_nested_loop(self, spark):
        out = interval_join(self._iv(spark), self._pts(spark))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestAsofSubsecondTolerance:
    def test_tolerance_respects_fractional_seconds(self, spark):
        left = spark.createDataFrame(
            [(1, 10, _ts("2024-01-01 10:30:00.900"))],
            "event_id long, user_id long, ts timestamp")
        right = spark.createDataFrame(
            [(100, 10, _ts("2024-01-01 10:00:00.000"), 1.0)],
            "rid long, user_id long, ts timestamp, value double")
        # true delta 1800.9s > 1800 -> must be nulled (whole-second
        # truncation would wrongly keep it)
        got = asof_join(left, right, tolerance_secs=1800).collect()
        assert got[0]["r_rid"] is None
        # and 1801s tolerance keeps it
        got2 = asof_join(left, right, tolerance_secs=1801).collect()
        assert got2[0]["r_rid"] == 100


class TestAsofPlanShape:
    def test_asof_join_has_single_exchange(self, spark):
        """The whole as-of join is ONE shuffle: union -> hash partition by
        key -> window.  AQE may add a read stage but never a second
        Exchange on the data path."""
        out = asof_join(_left(spark), _right(spark))
        plan = out._jdf.queryExecution().executedPlan().toString()
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1
