"""Event-analytics operator tests (sessionization, latest-per-key)."""

from datetime import datetime, timedelta

import pyspark.sql.functions as F

from corpus_lab.operators.events import latest_event_per_user, sessionize


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")


def test_sessionize_gap_boundaries(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, 7, t0, 1.0),
        (2, 7, t0 + timedelta(seconds=100), 1.0),      # same session
        (3, 7, t0 + timedelta(seconds=2000), 1.0),     # gap > 1800 -> new
        (4, 7, t0 + timedelta(seconds=2100), 1.0),     # same as 3
        (5, 8, t0, 1.0),                               # other user: own seq
    ]
    out = {r["event_id"]: r["session_seq"] for r in
           sessionize(_ev(spark, rows), gap_secs=1800).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_latest_event_tie_break(spark):
    t0 = datetime(2025, 1, 1, 12, 0, 0)
    rows = [(1, 7, t0, 1.0), (2, 7, t0, 2.0), (3, 7, t0 - timedelta(1), 9.0)]
    out = latest_event_per_user(_ev(spark, rows)).collect()
    assert len(out) == 1 and out[0]["event_id"] == 2  # highest id wins ties


class TestEwma:
    def test_hand_computed_fold(self, spark):
        from corpus_lab.operators.events import ewma_latest
        rows = [(1, "2026-01-01 00:00:00", 7, 10.0),
                (2, "2026-01-01 00:01:00", 7, 20.0),
                (3, "2026-01-01 00:02:00", 7, 0.0)]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double") \
            .withColumn("ts", F.col("ts").cast("timestamp"))
        got = ewma_latest(df, alpha=0.5).collect()[0]
        # y0=10; y1=.5*20+.5*10=15; y2=.5*0+.5*15=7.5
        assert (got["user_id"], got["n_events"], got["ewma"]) == (7, 3, 7.5)

    def test_order_is_event_time_not_arrival(self, spark):
        from corpus_lab.operators.events import ewma_latest
        rows = [(2, "2026-01-01 00:01:00", 7, 20.0),   # arrives first
                (1, "2026-01-01 00:00:00", 7, 10.0)]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double") \
            .withColumn("ts", F.col("ts").cast("timestamp")).repartition(4)
        got = ewma_latest(df, alpha=0.5).collect()[0]
        assert got["ewma"] == 15.0  # 10 then 20, not 20 then 10

    def test_null_value_and_ts_rows_excluded(self, spark):
        from corpus_lab.operators.events import ewma_latest
        rows = [(1, "2026-01-01 00:00:00", 7, 10.0),
                (2, None, 7, 99.0), (3, "2026-01-01 00:02:00", 7, None)]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, value double") \
            .withColumn("ts", F.col("ts").cast("timestamp"))
        got = ewma_latest(df, alpha=0.5).collect()[0]
        assert (got["n_events"], got["ewma"]) == (1, 10.0)


class TestTrendingCounts:
    def test_ratio_gap_and_first_window(self, spark):
        from corpus_lab.operators.events import trending_counts
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        rows = []
        # key A: 2 -> 6 adjacent, then a silent hour, then 3
        for i in range(2):
            rows.append((i, "2024-01-01 00:%02d:00" % i, "A"))
        for i in range(6):
            rows.append((10 + i, "2024-01-01 01:%02d:00" % i, "A"))
        for i in range(3):
            rows.append((20 + i, "2024-01-01 03:%02d:00" % i, "A"))
        # key B: single window only -> emits nothing
        rows.append((30, "2024-01-01 00:30:00", "B"))
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {(str(r["window_start"]), r["event_type"]):
               (r["n_events"], r["prev_events"], r["trend"])
               for r in trending_counts(ev, "1 hour").collect()}
        assert got[("2024-01-01 01:00:00", "A")] == (6, 2, round(7 / 3, 6))
        # window 03 follows a GAP -> prev counts as 0, not the 01 count
        assert got[("2024-01-01 03:00:00", "A")] == (3, 0, 4.0)
        assert not any(k[1] == "B" for k in got)
        # first observed window per key never emits
        assert ("2024-01-01 00:00:00", "A") not in got

    def test_lag_runs_on_aggregated_relation(self, spark):
        from corpus_lab.operators.events import trending_counts
        ev = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", "A")],
            "event_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        plan = trending_counts(ev)._jdf.queryExecution() \
            .optimizedPlan().toString()
        # the window operates above the aggregate, not the raw events
        assert plan.index("Window") < plan.index("Aggregate")
